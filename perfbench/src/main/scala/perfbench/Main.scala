package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM (started by `perfbench/run.py`).
  *
  *   record   --fixture DIR --expected F    write every output fingerprint
  *   run      --workload W --seed N --seconds S --trace 0|1 --fixture DIR
  *            --expected F --result F --work DIR
  *
  * `run` sets up [[SetUps]] times (session, inputs, one untimed pass; the
  * median is `setup_s`), then times S / [[PassSeconds]] passes over the
  * workload's fixed work in the last session. A traced run
  * alternates untraced and traced passes; only the traced ones register
  * listeners.
  */
object Main {
  /** The near-duplicate layer three ways: a full-corpus band-join sweep
    * (q203), an incremental screen of new documents against history (q103),
    * and the same content dedup as a `Trigger.AvailableNow` stream (q113). */
  val DedupBatch = Seq("q203", "q103", "q113")
  val Workloads = Seq("dedup_batch", "airline_api")
  val ApiClients = 2
  /** Measured seconds per timed pass: `--seconds` buys this many passes. */
  val PassSeconds = Map("dedup_batch" -> 4.2, "airline_api" -> 3.3)
  val SetUps = 3

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val opts = argv.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opts.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    val fixture = opts("fixture")
    val work = opts.getOrElse("work", Paths.get(fixture).getParent.toString)
    mode match {
      case "record" =>
        val spark = session(cpus, work)
        val none = new Checker(Map.empty)
        val fps =
          try Workloads.flatMap(w => workload(w, fixture, 0L, none, new Hygiene).record(spark))
          finally spark.stop()
        Files.write(Paths.get(opts("expected")),
          fps.sorted.map { case (k, v) => s"$k\t$v" }.asJava)
      case "run" =>
        val result = run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
          opts("trace") == "1", cpus, fixture, work, readExpected(opts("expected")))
        Files.write(Paths.get(opts("result")), result.getBytes("UTF-8"))
    }
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the codegen-cache settings of graft.Bench
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def readExpected(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.split('\t')).collect {
      case Array(k, v) => k -> v
    }.toMap

  def workload(name: String, fixture: String, seed: Long, checker: Checker,
      hygiene: Hygiene): Workload = name match {
    case "dedup_batch" => new QueryBatch(DedupBatch, fixture, seed, checker, hygiene)
    case "airline_api" =>
      new ApiTraffic(fixture, seed, ApiClients, checker, hygiene)
    case other => sys.error(s"unknown workload $other (one of ${Workloads.mkString(", ")})")
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean, cpus: Int,
      fixture: String, work: String, expected: Map[String, String]): String = {
    val checker = new Checker(expected)
    val hygiene = new Hygiene
    val w = workload(name, fixture, seed, checker, hygiene)
    // Set-up, [[SetUps]] times: a fresh session, the workload's inputs and
    // one untimed pass over the work in its canonical (seed-independent)
    // order, so that the JIT forms the same profile whatever order the seed
    // picks. The first set-up also pays for the JVM's class loading and
    // first compilations; `setup_s` is the median of the set-ups, and the
    // later ones are the timed passes' warm-up.
    var spark: SparkSession = null
    val setups = (1 to SetUps).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      w.prepare(spark)
      w.pass(spark, None, -k, canonical = true)
      Clock.seconds(t0)
    }
    val setupS = Stats.median(setups)
    System.err.println("[perfbench] set-ups " + setups.map(s => f"$s%.3f").mkString(",") + " s")
    // The measured time becomes a whole number of passes, so that every run
    // measures the same work at the same point of the JIT's warm-up. A
    // traced run orders its passes untraced, traced, traced, untraced, ...
    // in whole groups of four, so that both kinds see the JIT's progress
    // alike; listeners are attached only around the traced ones.
    val tracer = if (traced) Some(new Tracer(spark)) else None
    var tracedHygiene = Hygiene.Counts(0, 0, 0, 0)
    val measured = math.max(1, math.round(seconds / PassSeconds(name)).toInt)
    val passes = if (traced) 4 * ((measured + 3) / 4) else measured
    val timed = Seq.tabulate(passes) { k =>
      val t = tracer.filter(_ => k % 4 == 1 || k % 4 == 2)
      t.foreach(_.start())
      val h0 = hygiene.counts
      val r = w.pass(spark, t, k, canonical = false)
      t.foreach { tr => tr.stop(); tracedHygiene += hygiene.counts - h0 }
      (r, t.isDefined)
    }
    val untraced = timed.collect { case (r, false) => r }
    val layers = tracer.fold(Map.empty[String, (Double, String)]) { t =>
      t.writeSpans(Paths.get(work, "traces", s"$name-seed$seed.jsonl"))
      perLayer(t, tracedHygiene, timed.collect { case (r, true) => r }, untraced, cpus)
    }
    val heapMb = liveHeapMb()
    spark.stop()
    val lat = untraced.flatMap(_.requests)
    val (tailPct, tail) = Stats.tail(lat)
    System.err.println(f"[perfbench] $name seed=$seed " +
      f"passes=${untraced.map(p => f"${p.wallS}%.3f").mkString(",")} ops=${lat.length} tail=p$tailPct " +
      f"heap=$heapMb%.1f")
    val ok = 1.0 - checker.failed.get.toDouble / math.max(1L, checker.attempted.get)
    val metrics: Seq[(String, (Double, String))] =
      if (traced) layers.toSeq.sortBy(_._1)
      else Seq(
        "setup_s" -> (setupS, "s"),
        "wall_s" -> (Stats.median(untraced.map(_.wallS)), "s"),
        "latency_p50_s" -> (Stats.percentile(lat, 50), "s"),
        "latency_tail_s" -> (tail, "s"),
        "cpu_s" -> (Stats.median(untraced.map(_.cpuS)), "s"),
        "live_heap_mb" -> (heapMb, "MB"),
        "ok_ratio" -> (ok, "ratio"))
    val body = metrics.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }
    s"""{"correct":${checker.failed.get == 0},"attempted":${checker.attempted.get},""" +
      s""""failed":${checker.failed.get},"metrics":{${body.mkString(",")}}}"""
  }

  /** Heap in use after a full collection, in MB. Cached blocks, shuffle
    * and broadcast state are dropped asynchronously after a release or a
    * collection, so collections repeat until the heap stops shrinking. */
  private def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var least = collect()
    var rounds = 1
    var shrinking = true
    while (shrinking && rounds < 6) {
      Thread.sleep(200)
      val now = collect()
      shrinking = now < least - 1.0
      least = math.min(least, now)
      rounds += 1
    }
    least
  }

  /** Every per-layer metric; those a workload does not exercise read 0. */
  private def perLayer(t: Tracer, h: Hygiene.Counts, traced: Seq[PassResult],
      untraced: Seq[PassResult], cpus: Int): Map[String, (Double, String)] = {
    val n = traced.length.toDouble
    def per(counter: String, scale: Double = 1.0) = t.count(counter) * scale / n
    val mb = 1.0 / 1048576
    val byOp = traced.flatMap(_.ops).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def p50(k: String) = byOp.get(k).fold(0.0)(Stats.median)
    val execCpuS = per("exec.cpu_ns", 1e-9)
    val (stateRows, stateBytes) = t.streamState
    val jvmGcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    val requests = traced.flatMap(_.requests)
    val ops = DedupBatch.map(q => s"op.${q}_s" -> (p50(q), "s"))
    val api = Requests.Mix.map { case (k, _) => s"api.${k}_s" -> (p50(k), "s") }
    (ops ++ api ++ Seq(
      "api.cursor_follows" -> (traced.map(_.cursorFollows).sum / n, "count"),
      "api.tail_percentile" -> (Stats.tail(requests)._1, "pct"),
      "caches.tracked" -> (h.tracked / n, "count"),
      "caches.stored_mb" -> (h.storedBytes * mb / n, "MB"),
      "caches.leaked" -> (h.leaked / n, "count"),
      "session.conf_drift" -> (h.confDrift / n, "count"),
      "streaming.batches" -> (per("streaming.batches"), "count"),
      "streaming.empty_batches" -> (per("streaming.empty_batches"), "count"),
      "streaming.add_batch_s" -> (per("streaming.add_batch_ms", 1e-3), "s"),
      "streaming.state_commit_s" -> (per("streaming.state_commit_ms", 1e-3), "s"),
      "streaming.planning_s" -> (per("streaming.planning_ms", 1e-3), "s"),
      "streaming.wal_s" -> (per("streaming.wal_ms", 1e-3), "s"),
      "streaming.input_rows" -> (per("streaming.input_rows"), "count"),
      "streaming.state_rows" -> (stateRows / n, "count"),
      "streaming.state_mb" -> (stateBytes * mb / n, "MB"),
      "plan.analysis_s" -> (per("plan.analysis_ms", 1e-3), "s"),
      "plan.optimizer_s" -> (per("plan.optimization_ms", 1e-3), "s"),
      "plan.physical_s" -> (per("plan.planning_ms", 1e-3), "s"),
      "sched.jobs" -> (per("sched.jobs"), "count"),
      "sched.stages" -> (per("sched.stages"), "count"),
      "sched.tasks" -> (per("sched.tasks"), "count"),
      "sched.busy_ratio" ->
        (t.count("exec.task_ms") / (traced.map(_.wallS).sum * 1e3 * cpus), "ratio"),
      "exec.task_s" -> (per("exec.task_ms", 1e-3), "s"),
      "exec.cpu_s" -> (execCpuS, "s"),
      "exec.gc_s" -> (per("exec.gc_ms", 1e-3), "s"),
      "exec.deserialize_s" -> (per("exec.deserialize_ms", 1e-3), "s"),
      "exec.failed_tasks" -> (per("exec.failed_tasks"), "count"),
      "shuffle.read_mb" -> (per("shuffle.read_b", mb), "MB"),
      "shuffle.write_mb" -> (per("shuffle.write_b", mb), "MB"),
      "shuffle.fetch_wait_s" -> (per("shuffle.fetch_wait_ms", 1e-3), "s"),
      "shuffle.write_s" -> (per("shuffle.write_ns", 1e-9), "s"),
      "spill.disk_mb" -> (per("spill.disk_b", mb), "MB"),
      "spill.mem_mb" -> (per("spill.mem_b", mb), "MB"),
      "scan.input_mb" -> (per("scan.input_b", mb), "MB"),
      "scan.input_rows" -> (per("scan.input_rows"), "count"),
      "driver.cpu_s" -> (Stats.median(traced.map(_.cpuS)) - execCpuS, "s"),
      "jvm.jit_compile_s" ->
        (ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3, "s"),
      "jvm.gc_s" -> (jvmGcS, "s"),
      "jvm.loaded_classes" ->
        (ManagementFactory.getClassLoadingMXBean.getLoadedClassCount.toDouble, "count"),
      "jvm.peak_rss_mb" -> (peakRssMb(), "MB"),
      "trace_overhead" -> (Stats.median(traced.map(_.wallS)) /
        Stats.median(untraced.map(_.wallS)) - 1, "ratio"))).toMap
  }

  /** Peak resident set size of this process (Linux `VmHWM`), in MB. */
  private def peakRssMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
