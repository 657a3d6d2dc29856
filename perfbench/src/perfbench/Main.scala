package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.OlapEngine

/** One workload: a fixture, a measured window and a correctness check. */
trait Workload {
  def name: String
  def clients: Int
  /** The percentile `op_tail_ms` reports; chosen so that at the benchmark's
    * run length at least ten samples lie above it.
    */
  def tailPercentile: Int
  /** Build the fixture in an empty warehouse; timed, and run several times. */
  def setup(wh: Path): Unit
  /** Derive the expected answers from the generated inputs, not timed. */
  def prepareOracle(): Unit
  /** Exercise the read path once before the measured window; not counted. */
  def warmUp(): Unit
  /** Run the clients for `seconds`; returns the measured wall seconds. */
  def run(seconds: Double): Double
  /** Compare everything the run produced with the oracle. */
  def check(): Unit
  def opLatencies: Seq[Double]
  /** A writer's latencies, from each batch's due time to its commit. */
  def writeLatencies: Seq[Double]
  def warehouse: Path
  /** (warehouse bytes written, input user bytes) of the loads that built
    * the warehouse in use.
    */
  def amplification: (Long, Long)
  /** The live rows of every table, read through the engine. */
  def liveFrames: Seq[DataFrame]
  def reopenTable: (String, String)
}

/** Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  *
  * Prints the run's report as one JSON object on the last line of stdout.
  */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    // exit explicitly: a failure must not leave Spark's threads holding the JVM
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    require(args.length == 5, "usage: Main <workload> <seed> <seconds> <trace> <workdir>")
    val Array(workload, seedArg, secondsArg, traceArg, workArg) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val work = Paths.get(workArg).toAbsolutePath
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    val sessionSec = (System.nanoTime() - t0) / 1e9
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)

    val env = new Env(spark, work, seed)
    val w: Workload = workload match {
      case "scan_olap" => new ScanOlap(env)
      case "point_serve" => new PointServe(env)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up several times, each into a fresh warehouse; the last one serves
    val setups = (0 until SetupRepeats).map { i =>
      val s0 = System.nanoTime()
      w.setup(env.newWarehouse(s"wh-$i"))
      (System.nanoTime() - s0) / 1e9
    }
    (0 until SetupRepeats - 1).foreach(i => deleteTree(work.resolve(s"wh-$i")))
    val o0 = System.nanoTime()
    w.prepareOracle()
    w.warmUp()
    val oracleWarmSec = (System.nanoTime() - o0) / 1e9

    Probe.reset()
    counters.reset()
    Probe.tracing = trace
    val elapsed = w.run(seconds)
    Probe.tracing = false
    val sparkStats = counters.snapshot(spark.sparkContext)
    val spans = Probe.allSpans
    val recordSec = Probe.recordSeconds

    val r1 = System.nanoTime()
    w.check()
    val (written, input) = w.amplification
    val whBytes = Bytes.total(Bytes.list(w.warehouse))
    val liveParquet = work.resolve("live-parquet")
    w.liveFrames.zipWithIndex.foreach { case (df, i) =>
      df.write.parquet(liveParquet.resolve(s"t$i").toString)
    }
    val liveBytes = Bytes.total(Bytes.list(liveParquet))

    val reopenMs = {
      val r0 = System.nanoTime()
      val (db, t) = w.reopenTable
      new OlapEngine(spark, w.warehouse).scan(db, t).queryExecution.analyzed
      (System.nanoTime() - r0) / 1e6
    }
    System.gc(); System.gc()
    val heapMb = {
      val mx = java.lang.management.ManagementFactory.getMemoryMXBean
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }

    val postSec = (System.nanoTime() - r1) / 1e9
    val ops = w.opLatencies
    val writes = w.writeLatencies
    val e2e = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("op_p50_ms", Stats.median(ops) * 1e3, "ms"),
      ("op_tail_ms", Stats.quantile(ops, w.tailPercentile / 100.0) * 1e3, "ms"),
      ("ops_per_s", ops.size / elapsed, "1/s"),
      ("write_amp", written.toDouble / math.max(1L, input), "ratio"),
      ("space_amp", whBytes.toDouble / math.max(1L, liveBytes), "ratio"),
      ("heap_live_mb", heapMb, "MB"))

    val layers: Seq[(String, Double, String)] =
      if (!trace) Nil
      else perLayer(w, sparkStats, spans, reopenMs, recordSec, work) ++ Seq(
        ("bench.write_lag_ms", Stats.median(writes) * 1e3, "ms"),
        ("trace.op_p50_ms", Stats.median(ops) * 1e3, "ms"),
        ("trace.ops_per_s", ops.size / elapsed, "1/s"))

    val attempted = env.attemptedCount
    val failed = env.failedCount
    val info = Seq(
      s"workload=${w.name} seed=$seed clients=${w.clients} elapsed_s=${fmt(elapsed)} " +
        s"session_s=${fmt(sessionSec)} setups_s=${setups.map(fmt).mkString(",")} " +
        s"oracle_warmup_s=${fmt(oracleWarmSec)} post_s=${fmt(postSec)}",
      s"ops=${ops.size} tail=p${w.tailPercentile} beyond_tail=${ops.count(_ > Stats.quantile(ops, w.tailPercentile / 100.0))} " +
        s"writes=${writes.size} write_lag_p50_s=${fmt(Stats.median(writes))} attempted=$attempted failed=$failed error_rate=${fmt(failed.toDouble / math.max(1L, attempted))}",
      s"write_amp base: written_bytes=$written input_user_bytes=$input; " +
        s"space_amp base: warehouse_bytes=$whBytes live_parquet_bytes=$liveBytes") ++
      env.firstFailure.map(f => s"first failure: $f")
    info.foreach(l => System.err.println(s"[perfbench] $l"))

    val metrics = (if (trace) layers else e2e).map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
    spark.stop()
  }

  private def perLayer(w: Workload, sparkStats: Map[String, Double], spans: Seq[Span],
                       reopenMs: Double, recordSec: Double, work: Path): Seq[(String, Double, String)] = {
    val ms = (n: String) => Stats.median(Probe.samplesOf(n)) * 1e3
    val captures = math.max(1L, Probe.counter("manifest.captures")).toDouble
    val queries = math.max(1L, Probe.counter("plans.queries")).toDouble
    val covering = Probe.counter("plans.files_covering")
    Probe.writeSpans(work.getParent.resolve(s"trace-${w.name}.jsonl"), spans)
    val self = Probe.selfSecondsByLayer(spans)
    val sparkUnits = Map("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
      "spark.gc_s" -> "s", "spark.sched_delay_ms" -> "ms")
    sparkStats.toSeq.sortBy(_._1).map { case (n, v) => (n, v, sparkUnits.getOrElse(n, "MB")) } ++ Seq(
      ("engine.ingest_s", Probe.totalOf("engine.ingest"), "s"),
      ("engine.ingest_calls", Probe.callsOf("engine.ingest").toDouble, "count"),
      ("engine.ingest_p50_ms", ms("engine.ingest"), "ms"),
      ("engine.ingest_partial_s", Probe.totalOf("engine.ingest_partial"), "s"),
      ("engine.delete_where_s", Probe.totalOf("engine.delete_where"), "s"),
      ("engine.compact_s", Probe.totalOf("engine.compact"), "s"),
      ("engine.compactions", Probe.counter("engine.compactions").toDouble, "count"),
      ("engine.compact_mb_rewritten", Probe.counter("engine.compact.bytes") / (1024.0 * 1024.0), "MB"),
      ("engine.gc_s", Probe.totalOf("engine.gc"), "s"),
      ("engine.gc_rowsets", Probe.counter("engine.gc_rowsets").toDouble, "count"),
      ("engine.plan_build_ms", ms("engine.plan_build"), "ms"),
      ("engine.reopen_ms", reopenMs, "ms")) ++
      ScanOlap.Classes.map(c => (s"engine.${c}_s", Stats.median(Probe.samplesOf("query." + c)), "s")) ++ Seq(
      ("manifest.capture_ms", ms("manifest.capture"), "ms"),
      ("manifest.visible_rowsets", Probe.counter("manifest.visible_rowsets") / captures, "count"),
      ("manifest.covering_rowsets", Probe.counter("manifest.covering_rowsets") / captures, "count"),
      ("manifest.file_kb", Probe.counter("manifest.file_bytes") / captures / 1024.0, "KB"),
      ("plans.optimize_ms", ms("plans.optimize"), "ms"),
      ("plans.scan_leaves", Probe.counter("plans.scan_leaves") / queries, "count"),
      ("plans.files_read", Probe.counter("plans.files_read") / queries, "count"),
      ("plans.files_covering", covering / queries, "count"),
      ("plans.files_read_ratio", Probe.counter("plans.files_read").toDouble / math.max(1L, covering), "ratio"),
      ("plans.metadata_served", Probe.counter("plans.metadata_served").toDouble, "count"),
      ("sql.parse_ms", ms("sql.parse"), "ms"),
      ("catalog.route_us", Stats.median(Probe.samplesOf("catalog.route")) * 1e6, "us")) ++
      Seq("op", "engine", "manifest", "plans", "spark", "sql", "catalog", "bench").map(l =>
        (s"self.${l}_s", self.getOrElse(l, 0.0), "s")) ++ Seq(
      ("trace.spans", spans.size.toDouble, "count"),
      ("trace.record_ms", recordSec * 1e3, "ms"))
  }

  private def fmt(d: Double): String = f"$d%.3f"
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally s.close()
    }
}
