package perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._
import graft.engine.OlapEngine
import graft.model._
import ScanOlap.{Buckets, PartBounds}

/** point_serve: three closed-loop readers call `lookupByKey` on zipf-skewed
  * keys (one in ten absent) of a RANGE×HASH Unique-key `orders` table with
  * partial updates on and a rowset bloom index on the key. Beside them one
  * open-loop writer, due every [[PointServe.WritePeriodMs]] ms, runs a seeded
  * stream of micro-batches into a key range the readers never read, and runs
  * scheduled compaction after each batch; GC runs at the end.
  *
  * A batch is one of: an upsert of `orders` plus an Aggregate-key `lineitem`
  * load (SUM/MAX/REPLACE), small or ten times larger, with 30% of the keys
  * written before; a partial update of the status/priority of the previous
  * upsert's orders; or a key-band delete predicate on both tables.
  *
  * Driver-side planning dominates the lookups (manifest capture, reader
  * cache, optimizer rules, job launch); the hot keys let a cache show a gain;
  * the writer loads the whole write path (routing, commit, sidecars,
  * compaction rewrite) and shows whether compaction or rowset growth raises
  * read latency.
  */
final class PointServe(env: Env) extends Workload {
  import PointServe._
  val name = "point_serve"
  val clients = 3
  val tailPercentile = 90

  private val gen = env.gen
  private val spark = env.spark
  private var eng: OlapEngine = _
  private var wh: Path = _
  private var bytesWritten = 0L
  private var inputBytes = 0L

  private def fixtureLoads: Seq[DataFrame] =
    (0 until 2).map(i => gen.orders(gen.keyRange(0, Keys).filter(col("k") % 2 === i), lit(0))) :+
      gen.orders(gen.keyRange(0, Keys).filter(pmod(xxhash64(col("k"), lit(env.seed)), lit(5)) === 0), lit(1))

  def setup(wh0: Path): Unit = {
    wh = wh0
    eng = new OlapEngine(spark, wh)
    eng.createDatabase("ps")
    eng.createTable(TableDef(db = "ps", name = "orders",
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("o_orderkey", LongType), ColumnSpec.value("o_custkey", LongType),
        ColumnSpec.value("o_orderstatus", StringType), ColumnSpec.value("o_totalprice", DoubleType),
        ColumnSpec.value("o_orderdate", DateType), ColumnSpec.value("o_orderpriority", StringType))),
      policy = PartitionPolicy.Range, partitionColumn = Some("o_orderdate"),
      partitions = PartBounds.zipWithIndex.map { case (b, i) =>
        PartitionSpec(s"p$i", upperExclusive = b, numBuckets = Buckets) },
      bucketColumn = Some("o_orderkey"), numBuckets = Buckets,
      partialUpdate = true, bloomColumns = Seq("o_orderkey")))
    eng.createTable(TableDef(db = "ps", name = "lineitem",
      schema = TableSchema(KeysType.Aggregate, Seq(
        ColumnSpec.key("l_orderkey", LongType), ColumnSpec.key("l_linenumber", IntegerType),
        ColumnSpec.value("l_quantity", LongType, AggType.Sum),
        ColumnSpec.value("l_price_cents", LongType, AggType.Sum),
        ColumnSpec.value("l_discount", DoubleType, AggType.Max),
        ColumnSpec.value("l_returnflag", StringType, AggType.Replace),
        ColumnSpec.value("l_shipdate", DateType, AggType.Replace))),
      bucketColumn = Some("l_orderkey"), numBuckets = Buckets))
    bytesWritten = 0L
    writes.clear()
    fixtureLoads.foreach(df => timed("engine.ingest")(eng.ingest("ps", "orders", df)))
  }

  // ---- oracle for the readers -----------------------------------------------

  private var expected: Map[Long, Seq[Any]] = _
  private var zipfCdf: Array[Double] = _

  def prepareOracle(): Unit = {
    // the fixture's rows in one collect; the latest load of a key wins
    val all = fixtureLoads.zipWithIndex.map { case (df, i) => df.withColumn("idx", lit(i)) }
      .reduce(_ unionByName _).collect()
    inputBytes = all.map(gen.rowBytes(_, skip = 1)).sum
    expected = all.groupBy(_.getLong(0)).map { case (k, rs) =>
      k -> rs.maxBy(_.getAs[Int]("idx")).toSeq.dropRight(1).map(Answer.norm)
    }
    val w = (1 to Keys.toInt).map(r => 1.0 / math.pow(r, ZipfS))
    zipfCdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** Zipf rank → key through a seeded affine map, so hot keys scatter over
    * buckets and rowsets; one draw in ten is a key no load wrote.
    */
  private def drawKey(rng: SplittableRandom): Long =
    if (rng.nextInt(10) == 0) AbsentBase + rng.nextLong(0, Keys)
    else {
      val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
      val rank = if (i >= 0) i else math.min(-i - 1, zipfCdf.length - 1)
      (rank * 7919L + env.seed) % Keys
    }

  // ---- readers ----------------------------------------------------------------

  private val latencies = new ConcurrentLinkedQueue[Double]

  private def lookup(rng: SplittableRandom, req: Long): Unit = {
    val key = drawKey(rng)
    env.attempted()
    try {
      val (rows, sec) = Probe.op("op.lookup", req) {
        if (Probe.tracing) Probe.time("catalog.route") {
          val day = expected.get(key).map(_(4).asInstanceOf[Long]).getOrElse(gen.Epoch.toEpochDay)
          eng.catalog.getTable("ps", "orders").get
            .route(java.time.LocalDate.ofEpochDay(day).toString, key.toString)
        }
        Read.run(eng, Seq("ps" -> "orders"), "engine.plan_build")(
          eng.lookupByKey("ps", "orders", key.toString))
      }
      latencies.add(sec)
      val got = rows.toSeq.map(_.toSeq.map(Answer.norm))
      val want = expected.get(key).toSeq
      if (!Answer.same(got, want)) env.fail(s"lookup $key: got $got want $want")
    } catch {
      case e: Exception => env.fail(s"lookup $key: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** A few lookups outside the measured window, so JIT and code generation
    * are warm; their answers are still checked.
    */
  def warmUp(): Unit = {
    (0 until clients).map { c =>
      val t = new Thread(() => {
        val rng = new SplittableRandom(-env.seed - c)
        (0 until 2).foreach(_ => lookup(rng, 0L))
      })
      t.start()
      t
    }.foreach(_.join())
    latencies.clear()
  }

  // ---- the writer's stream ----------------------------------------------------

  /** Every write in call order; the index orders them for the oracle. */
  private sealed trait Write
  private final case class Full(keys: Seq[Long], gen: Int) extends Write
  private final case class Partial(keys: Seq[Long], gen: Int) extends Write
  private final case class Delete(lo: Long, hi: Long) extends Write
  private val writes = mutable.ArrayBuffer.empty[Write]
  private val writeLag = new ConcurrentLinkedQueue[Double]

  /** A timed write call whose bytes count towards `write_amp`. */
  private def timed[T](layer: String)(body: => T): T = {
    val (r, b) = Bytes.writtenBy(wh)(Probe.time(layer)(body))
    bytesWritten += b
    Probe.count(layer + ".bytes", b)
    r
  }

  /** The generated lineitem columns the Aggregate table declares. */
  private def lines(df: DataFrame): DataFrame =
    df.drop("l_partkey", "l_suppkey", "l_tax", "l_linestatus")

  private def load(w: Write): Unit = w match {
    case Full(ks, g) =>
      timed("engine.ingest")(eng.ingest("ps", "orders", gen.orders(gen.keys(ks), lit(g))))
      timed("engine.ingest")(eng.ingest("ps", "lineitem", lines(gen.lineitem(gen.keys(ks), lit(g)))))
    case Partial(ks, g) =>
      timed("engine.ingest_partial")(
        eng.ingestPartial("ps", "orders", gen.ordersPartial(gen.keys(ks), lit(g))))
    case Delete(lo, hi) =>
      timed("engine.delete_where")(
        eng.deleteWhere("ps", "orders", s"o_orderkey >= $lo AND o_orderkey < $hi"))
      timed("engine.delete_where")(
        eng.deleteWhere("ps", "lineitem", s"l_orderkey >= $lo AND l_orderkey < $hi"))
  }

  /** The i-th batch: kinds follow [[Cycle]], so every run writes the same
    * mix; keys, overlaps and values come from the seed.
    */
  private def nextWrite(i: Int, rng: SplittableRandom, next: Long): (Write, Long) =
    (Cycle(i % Cycle.size), writes.lastOption) match {
      case ('P', Some(Full(ks, g))) => (Partial(ks.take(ks.size / 2), g + 1), next)
      case ('D', _) if next - WriterBase > DeleteBand =>
        val lo = WriterBase + rng.nextLong(0, next - WriterBase - DeleteBand)
        (Delete(lo, lo + DeleteBand), next)
      case (kind, _) =>
        val n = if (kind == 'L') WriteBatch * 10 else WriteBatch
        val fresh = n * 7 / 10
        val old = mutable.LinkedHashSet.empty[Long]
        while (next > WriterBase && old.size < n - fresh && old.size < next - WriterBase)
          old += WriterBase + rng.nextLong(0, next - WriterBase)
        (Full((next until next + fresh) ++ old.toSeq, writes.size + 1), next + fresh)
    }

  /** Open loop: batch i is due at t0 + i × period whatever the previous one
    * did; its latency runs from that due time to its last commit.
    */
  private def writer(deadline: Long, t0: Long): Unit = {
    val rng = new SplittableRandom(env.seed * 65537L + 17)
    var next = WriterBase
    var i = 0
    while (t0 + i * WritePeriodMs * 1000000L < deadline) {
      val due = t0 + i * WritePeriodMs * 1000000L
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val (w, n) = nextWrite(i, rng, next)
      next = n
      env.attempted()
      try {
        load(w)
        writes += w
        writeLag.add((System.nanoTime() - due) / 1e9)
        Probe.count("engine.compactions",
          timed("engine.compact")(eng.runScheduledCompaction(CompactAt)).size.toLong)
      } catch {
        case e: Exception => env.fail(s"writer batch $i: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      i += 1
    }
  }

  def run(seconds: Double): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val reqs = new java.util.concurrent.atomic.AtomicLong(0L)
    val readers = (0 until clients).map { c =>
      val t = new Thread(() => {
        val rng = new SplittableRandom(env.seed * 1000003L + c)
        while (System.nanoTime() < deadline) lookup(rng, reqs.incrementAndGet())
      }, s"reader-$c")
      t.start()
      t
    }
    val w = new Thread(() => writer(deadline, t0), "writer")
    w.start()
    readers.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    w.join()
    Seq("orders", "lineitem").foreach(t =>
      Probe.count("engine.gc_rowsets", timed("engine.gc")(eng.gc("ps", t)).size.toLong))
    elapsed
  }

  // ---- oracle for the writer: the same writes merged in plain Spark -----------

  private def indexed: Seq[(Write, Int)] = writes.toSeq.zipWithIndex

  /** Every key a write of kind `pick` loaded, tagged (k, idx, gen): one
    * frame for all writes, so the oracle plan stays one scan wide.
    */
  private def tagged(pick: PartialFunction[Write, (Seq[Long], Int)]): DataFrame =
    gen.tagged(indexed.flatMap { case (w, i) =>
      pick.lift(w).toSeq.flatMap { case (ks, g) => ks.map(k => (k, i, g)) } })
  private def fullKeys = tagged { case Full(ks, g) => (ks, g) }
  private def fullOrders = gen.orders(fullKeys, col("gen")).drop("gen")
  private def fullLines = lines(gen.lineitem(fullKeys, col("gen"))).drop("gen")
  private def partialOrders =
    gen.ordersPartial(tagged { case Partial(ks, g) => (ks, g) }, col("gen")).drop("gen")

  /** A record survives unless a later delete predicate covers its key. */
  private def masked(df: DataFrame, key: String): DataFrame =
    indexed.collect { case (Delete(lo, hi), i) => (lo, hi, i) }.foldLeft(df) {
      case (d, (lo, hi, i)) => d.filter(!(col(key) >= lo && col(key) < hi && col("idx") < i))
    }

  /** Unique with partial updates: each column's latest non-null value. */
  private def expectedOrders: DataFrame = {
    val recs = fullOrders.unionByName(partialOrders, allowMissingColumns = true)
    val values = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = values.map(c => max_by(col(c), when(col(c).isNotNull, col("idx"))).as(c))
    masked(recs, "o_orderkey").groupBy("o_orderkey").agg(aggs.head, aggs.tail: _*)
  }

  /** Aggregate: SUM, MAX, and the latest value for REPLACE. */
  private def expectedLines: DataFrame = {
    val latest: String => Column = c => max_by(col(c), col("idx")).as(c)
    masked(fullLines, "l_orderkey").groupBy("l_orderkey", "l_linenumber").agg(
      sum("l_quantity").as("l_quantity"), sum("l_price_cents").as("l_price_cents"),
      max("l_discount").as("l_discount"), latest("l_returnflag"), latest("l_shipdate"))
  }

  /** After GC: the writer's rows by count and checksum, and no version holes. */
  def check(): Unit = if (writes.nonEmpty) {
    val byName = (df: DataFrame) => df.select(df.columns.sorted.map(col): _*)
    Seq(("orders", "o_orderkey", expectedOrders), ("lineitem", "l_orderkey", expectedLines)).foreach {
      case (t, key, want) =>
        val got = Answer.digest(byName(eng.scan("ps", t).filter(col(key) >= WriterBase)))
        val exp = Answer.digest(byName(want))
        if (got != exp) env.fail(s"ps.$t writer range after gc: got (rows, checksum) $got, want $exp")
        if (eng.hasVersionHoles("ps", t, 0L, eng.manifest("ps", t).maxVersion))
          env.fail(s"ps.$t has version holes")
    }
    inputBytes += Seq(fullOrders, fullLines, partialOrders).map(df => gen.userBytes(df.drop("idx"))).sum
  }

  def opLatencies: Seq[Double] = latencies.asScala.toSeq
  def writeLatencies: Seq[Double] = writeLag.asScala.toSeq
  def warehouse: Path = wh
  def amplification: (Long, Long) = (bytesWritten, inputBytes)
  def liveFrames: Seq[DataFrame] = Seq(eng.scan("ps", "orders"), eng.scan("ps", "lineitem"))
  def reopenTable: (String, String) = ("ps", "orders")
}

object PointServe {
  val Keys = 20000L
  val ZipfS = 1.1
  val AbsentBase = 50000000L
  val WriterBase = 10000000L
  val WriteBatch = 200
  val DeleteBand = 40L
  val WritePeriodMs = 3000L
  /** Batch kinds in order: F upsert, L ten-times-larger upsert, P partial
    * update of the previous upsert, D key-band delete.
    */
  val Cycle = "FFPLDFPF"
  /** Compact a table once it holds this many visible rowsets. */
  val CompactAt = 5.0
}
