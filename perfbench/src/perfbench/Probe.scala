package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is the id of the span that was open
  * on the same thread when this one started (0 = a root); `req` groups the
  * spans of one benchmark operation.
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Timing around the benchmark's calls into the program's layers.
  *
  * Every call through [[time]] adds its duration to a per-name sample list,
  * which costs two `nanoTime` reads and one append; that is all the untraced
  * runs pay. With tracing on, each call also records a [[Span]] in memory;
  * spans are written out once, when the run ends.
  */
object Probe {
  @volatile var tracing: Boolean = false

  private val samples = TrieMap.empty[String, ConcurrentLinkedQueue[Double]]
  private val counters = TrieMap.empty[String, LongAdder]
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0L)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val request = ThreadLocal.withInitial[Long](() => 0L)
  /** Time spent recording spans: the in-process part of the tracing cost. */
  private val recordNs = new LongAdder

  def reset(): Unit = { samples.clear(); counters.clear(); spans.clear(); recordNs.reset() }

  /** Run `body` as the root of benchmark operation `req` on this thread. */
  def op[T](name: String, req: Long)(body: => T): T = {
    request.set(req)
    time(name)(body)
  }

  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    if (!tracing) {
      val r = body
      sample(name, (System.nanoTime() - t0) / 1e9)
      r
    } else {
      val id = ids.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        spans.add(Span(id, stack.headOption.getOrElse(0L), request.get, name, t0, t1))
        sample(name, (t1 - t0) / 1e9)
        recordNs.add(System.nanoTime() - t1)
      }
    }
  }

  def sample(name: String, seconds: Double): Unit =
    samples.getOrElseUpdate(name, new ConcurrentLinkedQueue[Double]).add(seconds)

  def count(name: String, n: Long = 1L): Unit =
    counters.getOrElseUpdate(name, new LongAdder).add(n)

  def samplesOf(name: String): Seq[Double] =
    samples.get(name).map(_.asScala.toSeq).getOrElse(Nil)

  def totalOf(name: String): Double = samplesOf(name).sum
  def callsOf(name: String): Long = samplesOf(name).size.toLong
  def counter(name: String): Long = counters.get(name).map(_.sum).getOrElse(0L)
  def recordSeconds: Double = recordNs.sum / 1e9
  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover (children on one thread never overlap).
    */
  def selfSecondsByLayer(all: Seq[Span]): Map[String, Double] = {
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  /** Write the spans as JSON lines: id, parent, req, name, start/end in ns. */
  def writeSpans(path: Path, all: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(path, lines.asJava)
  }
}

/** Order statistics over timing samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
