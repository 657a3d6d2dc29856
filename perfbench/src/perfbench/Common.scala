package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.engine.OlapEngine

/** What every workload gets from the harness. */
final class Env(val spark: SparkSession, val work: Path, val seed: Long) {
  val gen = new Gen(spark, seed)
  private val errors = new AtomicLong(0L)
  private val attempts = new AtomicLong(0L)
  private val firstError = new java.util.concurrent.atomic.AtomicReference[String](null)

  def attempted(): Unit = attempts.incrementAndGet(): Unit
  def attemptedCount: Long = attempts.get
  def failedCount: Long = errors.get

  /** Count a wrong answer or a failed call; keep the first message. */
  def fail(what: String): Unit = {
    errors.incrementAndGet()
    firstError.compareAndSet(null, what): Unit
  }
  def firstFailure: Option[String] = Option(firstError.get)

  /** A fresh, empty warehouse directory inside the run's work directory. */
  def newWarehouse(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** Answers reduced to plain values, so an engine result and an oracle
  * computed another way compare column by column.
  */
object Answer {
  type Rows = Seq[Seq[Any]]

  def norm(v: Any): Any = v match {
    case null => null
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case b: java.math.BigDecimal => b.doubleValue
    case i: Int => i.toLong
    case s: Short => s.toLong
    case f: Float => f.toDouble
    case other => other
  }

  def of(rows: Array[Row]): Rows =
    rows.toSeq.map(r => r.toSeq.map(norm)).sortBy(_.mkString("\u0001"))

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Long, y: Double) => close(x.toDouble, y)
    case (x: Double, y: Long) => close(x, y.toDouble)
    case _ => a == b
  }

  def same(got: Rows, want: Rows): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.size == w.size && g.zip(w).forall { case (x, y) => close(x, y) }
    }

  /** Row count and an order-independent checksum over every column. */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}

/** A query or lookup through the engine's public read API, timed per layer.
  * With tracing on it also times the manifest capture and the optimizer on
  * their own, and counts what the plan scanned; without tracing it only
  * builds the plan and collects it.
  */
object Read extends AdaptiveSparkPlanHelper {

  /** Returns the rows and the seconds from the start of `build` to the end
    * of the collect: the latency the caller sees, without the trace-only
    * extra calls before and after.
    */
  def run(eng: OlapEngine, tables: Seq[(String, String)], planLayer: String)
         (build: => DataFrame): (Array[Row], Double) = {
    if (Probe.tracing) tables.foreach { case (db, t) =>
      val m = eng.manifest(db, t)
      val lo = m.visibleRowsets.map(_.version.start).minOption.getOrElse(0L)
      val covering = Probe.time("manifest.capture")(m.captureConsistentVersions(lo, m.maxVersion))
      Probe.count("manifest.captures")
      Probe.count("manifest.visible_rowsets", m.visibleRowsets.size.toLong)
      Probe.count("manifest.covering_rowsets", covering.size.toLong)
      Probe.count("manifest.file_bytes",
        Files.size(eng.tableRoot(db, t).resolve("_manifest.json")))
    }
    val t0 = System.nanoTime()
    val df = Probe.time(planLayer)(build)
    if (Probe.tracing) {
      val plan = Probe.time("plans.optimize")(df.queryExecution.optimizedPlan)
      Probe.count("plans.queries")
      Probe.count("plans.scan_leaves", plan.collectLeaves().count(_.isInstanceOf[LogicalRelation]).toLong)
    }
    val rows = Probe.time("spark.collect")(df.collect())
    val seconds = (System.nanoTime() - t0) / 1e9
    if (Probe.tracing) Probe.time("bench.inspect") {
      val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      val read = scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      if (scans.isEmpty) Probe.count("plans.metadata_served")
      Probe.count("plans.files_read", read)
      Probe.count("plans.files_covering", tables.map { case (db, t) =>
        eng.coveringDirs(db, t).toSeq.map(d => Bytes.parquetFiles(java.nio.file.Paths.get(d))).sum
      }.sum)
    }
    (rows, seconds)
  }
}
