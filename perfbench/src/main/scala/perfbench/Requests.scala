package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Endpoints
import graft.api.Endpoints.FlightsParams

/** The `airline_api` traffic: a flights-shaped view over the fixture and a
  * seeded request generator for the reference's REST surface.
  *
  * One pass sends a fixed set of calls, built from [[PoolSeed]], so every
  * response has a recorded fingerprint and every seed asks for the same
  * work; the run seed picks the order of the calls, and with it which
  * client sends which call and what runs beside it.
  */
object Requests {
  val PoolSeed = 7L
  val Airports: IndexedSeq[String] = IndexedSeq("ATL", "DFW", "DEN", "ORD", "LAX",
    "JFK", "LAS", "MCO", "MIA", "CLT", "SEA", "PHX", "EWR", "SFO", "IAH", "BOS")
  /** Calls per pass by endpoint: 50 % flights, 20 % metrics, 15 % routes,
    * 15 % airports. */
  val Mix: Seq[(String, Int)] =
    Seq("flights" -> 10, "metrics" -> 4, "top_routes" -> 3, "airports" -> 3)
  val MaxFollows = 2

  sealed trait Req { def kind: String; def id: Int; def key: String = s"api.$kind.$id" }
  final case class Flights(id: Int, params: FlightsParams) extends Req { val kind = "flights" }
  final case class Metrics(id: Int, from: String, to: String, threshold: Double) extends Req {
    val kind = "metrics" }
  final case class TopRoutes(id: Int, from: String, to: String, k: Int) extends Req {
    val kind = "top_routes" }
  final case class AirportList(id: Int, from: String, to: String) extends Req {
    val kind = "airports" }

  /** One client call: a request plus the cursors it follows (flights only). */
  final case class Call(req: Req, follows: Int)

  /** A date window inside the fixture's ship dates (1995-01 .. 2001-11). */
  private def window(r: Random): (String, String) = {
    val start = java.time.LocalDate.of(1995, 1, 1).plusDays(r.nextInt(2300).toLong)
    val end = start.plusDays(Seq(30L, 90L, 365L, 1000L)(r.nextInt(4)))
    (s"$start 00:00:00", s"$end 00:00:00")
  }

  /** One pass's calls by endpoint. The flights calls follow 0, 1, 2, 0, ...
    * next-page cursors. */
  val pool: Map[String, IndexedSeq[Call]] = {
    val r = new Random(PoolSeed)
    def airport(pct: Int) =
      if (r.nextInt(100) < pct) Some(Airports(r.nextInt(Airports.length))) else None
    val n = Mix.toMap
    Map(
      "flights" -> (0 until n("flights")).map { i =>
        val (from, to) = window(r)
        Call(Flights(i, FlightsParams(Some(from), Some(to), airport(50), airport(30),
          limit = Seq(20, 50, 100)(r.nextInt(3)))), i % (MaxFollows + 1))
      },
      "metrics" -> (0 until n("metrics")).map { i =>
        val (from, to) = window(r)
        Call(Metrics(i, from, to, Seq(0.0, 15.0, 45.0)(r.nextInt(3))), 0) },
      "top_routes" -> (0 until n("top_routes")).map { i =>
        val (from, to) = window(r); Call(TopRoutes(i, from, to, 3 + r.nextInt(8)), 0) },
      "airports" -> (0 until n("airports")).map { i =>
        val (from, to) = window(r); Call(AirportList(i, from, to), 0) })
  }

  /** One pass's calls in their canonical (seed-independent) order. */
  val all: IndexedSeq[Call] = Mix.flatMap { case (k, _) => pool(k) }.toIndexedSeq

  /** The calls of one pass in the order `seed` picks: the same seed always
    * gives the same list, and every seed the same calls. */
  def calls(seed: Long): IndexedSeq[Call] = new Random(seed).shuffle(all)

  /** The `flights` view the endpoints serve: one row per lineitem, with
    * airport codes derived from the supplier and part keys. */
  def flightsView(spark: SparkSession, dir: String): DataFrame = {
    val codes = array(Airports.map(lit): _*)
    def code(c: String) =
      element_at(codes, (pmod(col(c), lit(Airports.length.toLong)) + 1).cast("int"))
    graft.Tables.lineitem(spark, dir).select(
      col("l_shipdate").as("flight_date"),
      (col("l_orderkey") * 8 + col("l_linenumber")).as("flight_id"),
      code("l_suppkey").as("origin"),
      code("l_partkey").as("destination"),
      ((col("l_quantity") - 20) * 3).as("arr_delay"))
  }

  private def between(view: DataFrame, from: String, to: String): DataFrame =
    view.filter(col("flight_date").between(to_timestamp(lit(from)), to_timestamp(lit(to))))

  /** Serves one request (one page for flights) and returns the response
    * fingerprint and the next-page cursor. */
  def serve(view: DataFrame, req: Req, cursor: Option[String]): (String, Option[String]) =
    req match {
      case Flights(_, p) =>
        val resp = Endpoints.flights(view, "flight_date", "flight_id", "origin",
          "destination", p.copy(cursor = cursor))
        (Fingerprint.ofRows(resp.flights.toSeq, resp.totalCount, resp.nextCursor), resp.nextCursor)
      case Metrics(_, from, to, t) =>
        (Fingerprint.ofRows(Endpoints.metrics(between(view, from, to), "flight_date",
          "arr_delay", "origin", "destination", t).collect().toSeq), None)
      case TopRoutes(_, from, to, k) =>
        (Fingerprint.ofRows(Endpoints.topRoutes(between(view, from, to), "origin",
          "destination", k).collect().toSeq), None)
      case AirportList(_, from, to) =>
        (Fingerprint.ofRows(Endpoints.airports(between(view, from, to), "origin",
          "destination").collect().toSeq), None)
    }

  /** Fingerprint key of page `page` (0 = first) of a request. */
  def pageKey(req: Req, page: Int): String =
    if (req.kind == "flights") s"${req.key}.p$page" else req.key
}
