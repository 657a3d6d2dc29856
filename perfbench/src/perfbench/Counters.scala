package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark runtime counters, read from the listener bus. */
final class SparkCounters extends SparkListener {
  val jobs, tasks, runNs, gcMs, schedDelayMs, readBytes, writeBytes,
    shuffleWriteBytes, shuffleReadBytes = new LongAdder
  private val stageSubmitted = new ConcurrentHashMap[(Int, Int), java.lang.Long]

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.increment()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitted.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    // time the task waited for a free core: launch minus stage submission
    Option(stageSubmitted.get((e.stageId, e.stageAttemptId))).foreach(s =>
      schedDelayMs.add(math.max(0L, e.taskInfo.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      runNs.add(m.executorRunTime * 1000000L)
      gcMs.add(m.jvmGCTime)
      readBytes.add(m.inputMetrics.bytesRead)
      writeBytes.add(m.outputMetrics.bytesWritten)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  def snapshot(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.PerfbenchShim.drainListeners(sc)
    val t = tasks.sum.toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.sum.toDouble,
      "spark.tasks" -> t,
      "spark.task_s" -> runNs.sum / 1e9,
      "spark.gc_s" -> gcMs.sum / 1e3,
      "spark.sched_delay_ms" -> (if (t > 0) schedDelayMs.sum / t else 0.0),
      "spark.read_mb" -> readBytes.sum / mb,
      "spark.write_mb" -> writeBytes.sum / mb,
      "spark.shuffle_write_mb" -> shuffleWriteBytes.sum / mb,
      "spark.shuffle_read_mb" -> shuffleReadBytes.sum / mb)
  }

  def reset(): Unit =
    Seq(jobs, tasks, runNs, gcMs, schedDelayMs, readBytes, writeBytes,
      shuffleWriteBytes, shuffleReadBytes).foreach(_.reset())
}

/** Warehouse byte accounting by directory walk. A file counts as written by
  * a call when it is new after the call or changed size or mtime during it;
  * a rewritten manifest therefore counts whole, as the bytes it really put
  * on the file system.
  */
object Bytes {
  type Listing = Map[String, (Long, Long)]

  def list(root: Path): Listing = {
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try {
      val it = s.iterator()
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val p = it.next()
        if (Files.isRegularFile(p))
          b += p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }
      b.result()
    } finally s.close()
  }

  def total(l: Listing): Long = l.valuesIterator.map(_._1).sum

  def written(before: Listing, after: Listing): Long =
    after.iterator.collect {
      case (p, (size, mtime)) if !before.get(p).contains((size, mtime)) => size
    }.sum

  /** Run `body` and return its result with the bytes it wrote under `root`. */
  def writtenBy[T](root: Path)(body: => T): (T, Long) = {
    val before = list(root)
    val r = body
    (r, written(before, list(root)))
  }

  def parquetFiles(dir: Path): Long = {
    if (!Files.exists(dir)) return 0L
    val s = Files.walk(dir)
    try s.filter(p => p.toString.endsWith(".parquet")).count()
    finally s.close()
  }
}
