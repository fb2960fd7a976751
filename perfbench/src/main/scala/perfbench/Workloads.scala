package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Compares every operation's output fingerprint with the recorded one. An
  * exception or a mismatch counts as a failed operation. */
final class Checker(expected: Map[String, String]) {
  val attempted = new AtomicLong
  val failed = new AtomicLong

  def check(key: String)(output: => String): Unit = {
    attempted.incrementAndGet()
    val outcome =
      try {
        val fp = output
        if (expected.get(key).contains(fp)) None
        else Some(s"output $fp, recorded ${expected.getOrElse(key, "nothing")}")
      } catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    outcome.foreach { why =>
      failed.incrementAndGet()
      System.err.println(s"[perfbench] FAILED $key: ${why.take(500)}")
    }
  }
}

/** Clean-up after each operation, outside its timer: drops the engine's
  * operator caches and records what was cached, what survived the release,
  * and whether the operation left a session conf changed. */
final class Hygiene {
  @volatile private var total = Hygiene.Counts(0, 0, 0, 0)
  def counts: Hygiene.Counts = total

  def around[T](spark: SparkSession)(op: => T): T = {
    val conf0 = spark.conf.getAll
    try op
    finally {
      val tracked = graft.OperatorCaches.liveCount
      val stored = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      graft.OperatorCaches.release()
      total += Hygiene.Counts(tracked, stored, graft.OperatorCaches.liveCount,
        if (spark.conf.getAll != conf0) 1 else 0)
    }
  }
}

object Hygiene {
  final case class Counts(tracked: Long, storedBytes: Long, leaked: Long, confDrift: Long) {
    def +(o: Counts) = Counts(tracked + o.tracked, storedBytes + o.storedBytes,
      leaked + o.leaked, confDrift + o.confDrift)
    def -(o: Counts) = Counts(tracked - o.tracked, storedBytes - o.storedBytes,
      leaked - o.leaked, confDrift - o.confDrift)
  }
}

/** Timing of one pass over a workload's fixed work: its wall and process CPU
  * seconds, each operation's seconds by operation name, the latencies of
  * the requests a user waited for (a whole pass, for a batch), and the
  * next-page cursors the API clients followed. */
final case class PassResult(wallS: Double, cpuS: Double, ops: Seq[(String, Double)],
    requests: Seq[Double], cursorFollows: Int = 0)

object Clock {
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  def seconds(since: Long): Double = (System.nanoTime() - since) / 1e9
}

trait Workload {
  /** Builds per-session inputs; part of set-up. */
  def prepare(spark: SparkSession): Unit = ()
  /** Runs the fixed work once, in its canonical order or in the order the
    * seed picked. `tracer` is set only in traced passes. */
  def pass(spark: SparkSession, tracer: Option[Tracer], passNo: Int, canonical: Boolean): PassResult
  /** Computes every fingerprint this workload can check, by key. */
  def record(spark: SparkSession): Seq[(String, String)]
}

/** Registry queries run one after another in a seed-permuted order. */
final class QueryBatch(queries: Seq[String], dir: String, seed: Long,
    checker: Checker, hygiene: Hygiene) extends Workload {
  private def fn(q: String) =
    graft.SparkEntry.queries.collectFirst { case (k, f) if k.startsWith(q + "_") => f }
      .getOrElse(sys.error(s"no registry query $q"))
  private val canonicalOrder = queries.map(q => q -> fn(q))
  private val seededOrder = new scala.util.Random(seed).shuffle(canonicalOrder)

  def pass(spark: SparkSession, tracer: Option[Tracer], passNo: Int,
      canonical: Boolean): PassResult = {
    var wall, cpu = 0.0
    val lat = (if (canonical) canonicalOrder else seededOrder).map { case (q, f) =>
      val label = s"$q#$passNo"
      tracer.foreach { t => t.currentOp = label; spark.sparkContext.setJobGroup(label, label) }
      hygiene.around(spark) {
        val ms0 = System.currentTimeMillis()
        val c0 = Clock.cpuS
        val t0 = System.nanoTime()
        checker.check(s"op.$q")(Fingerprint.ofFrame(f(spark, dir)))
        val dt = Clock.seconds(t0)
        cpu += Clock.cpuS - c0
        wall += dt
        tracer.foreach(_.span(label, s"pass#$passNo", ms0, System.currentTimeMillis()))
        q -> dt
      }
    }
    tracer.foreach(_ => spark.sparkContext.clearJobGroup())
    PassResult(wall, cpu, lat, Seq(wall))
  }

  def record(spark: SparkSession): Seq[(String, String)] =
    queries.map { q =>
      try s"op.$q" -> Fingerprint.ofFrame(fn(q)(spark, dir))
      finally graft.OperatorCaches.release()
    }
}

/** Closed-loop clients sending seeded requests to the API endpoints. Each
  * client sends its next call only after the previous one was answered. */
final class ApiTraffic(dir: String, seed: Long, clients: Int,
    checker: Checker, hygiene: Hygiene) extends Workload {
  private val seeded = Requests.calls(seed)
  @volatile private var view: DataFrame = _

  override def prepare(spark: SparkSession): Unit = view = Requests.flightsView(spark, dir)

  /** Every pass sends the same calls, so the filter combinations that decide
    * the generated code are all met in the untimed passes. */
  def pass(spark: SparkSession, tracer: Option[Tracer], passNo: Int,
      canonical: Boolean): PassResult = {
    val calls = if (canonical) Requests.all else seeded
    val next, follows = new AtomicInteger
    val lat = new ConcurrentLinkedQueue[(String, Double)]()
    def client(): Unit = {
      var i = next.getAndIncrement()
      while (i < calls.length) {
        val call = calls(i)
        var cursor: Option[String] = None
        var page = 0
        var more = true
        while (more) {
          val label = s"${Requests.pageKey(call.req, page)}#$passNo.$i"
          tracer.foreach(_ => spark.sparkContext.setJobGroup(label, label))
          val ms0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          var nextCursor: Option[String] = None
          checker.check(Requests.pageKey(call.req, page)) {
            val (fp, c) = Requests.serve(view, call.req, cursor)
            nextCursor = c
            fp
          }
          lat.add(call.req.kind -> Clock.seconds(t0))
          tracer.foreach(_.span(label, s"pass#$passNo", ms0, System.currentTimeMillis()))
          if (page > 0) follows.incrementAndGet()
          page += 1
          cursor = nextCursor
          more = page <= call.follows && cursor.isDefined
        }
        i = next.getAndIncrement()
      }
      tracer.foreach(_ => spark.sparkContext.clearJobGroup())
    }
    // Requests of both clients share the session, so the operator-cache
    // release runs once per pass, after both clients finished: a release
    // between requests would drop the other client's in-flight caches.
    hygiene.around(spark) {
      val c0 = Clock.cpuS
      val t0 = System.nanoTime()
      val threads = Seq.tabulate(clients)(c => new Thread(() => client(), s"api-client-$c"))
      threads.foreach(_.start())
      threads.foreach(_.join())
      val ops = lat.asScala.toSeq
      PassResult(Clock.seconds(t0), Clock.cpuS - c0, ops, ops.map(_._2), follows.get)
    }
  }

  def record(spark: SparkSession): Seq[(String, String)] = {
    val v = Requests.flightsView(spark, dir)
    Requests.all.flatMap { case Requests.Call(req, follows) =>
      // pages 0..follows, each reached through the previous page's cursor
      val pages = Seq.newBuilder[(String, String)]
      var cursor: Option[String] = None
      var page = 0
      do {
        val (fp, c) = Requests.serve(v, req, cursor)
        pages += Requests.pageKey(req, page) -> fp
        cursor = c
        page += 1
      } while (page <= follows && cursor.isDefined)
      pages.result()
    }
  }
}
