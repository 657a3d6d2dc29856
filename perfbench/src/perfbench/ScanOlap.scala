package perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._
import graft.engine.OlapEngine
import graft.model._

/** scan_olap: two closed-loop analyst clients run a seeded, rarely repeating
  * query mix over a fixed, fragmented fixture that is not compacted during
  * the run — execution, merge-on-read and pruning dominate, nothing writes.
  *
  * Fixture (database `so`): a Unique-key `lineitem` loaded as 3 key bands,
  * 3 overlapping update loads and one key-band delete predicate (7 versions,
  * 6 data rowsets), RANGE(2) on `l_shipdate` × HASH(2) on `l_orderkey`; and
  * a Duplicate `orders` table in one load.
  */
final class ScanOlap(env: Env) extends Workload {
  import ScanOlap._
  val name = "scan_olap"
  val clients = 2
  val tailPercentile = 75

  private val gen = env.gen
  private val spark = env.spark
  private var eng: OlapEngine = _
  private var wh: Path = _
  private var bytesWritten = 0L
  private var inputBytes = 0L

  /** The fixture's load sequence; index = the version each load gets. */
  private sealed trait Load
  private final case class Upsert(df: () => DataFrame) extends Load
  private final case class Delete(lo: Long, hi: Long) extends Load

  private val updateKeys = (1 to 3).map(u => gen.keyRange(0, Orders)
    .filter(pmod(xxhash64(col("k"), lit(env.seed * 31 + u)), lit(100)) < 12))
  private val delLo = new SplittableRandom(env.seed).nextLong(0, Orders - DeleteBand)
  private val lineLoads: IndexedSeq[Load] =
    (0 until Bands).map(b => Upsert(() =>
      gen.lineitem(gen.keyRange(b * Orders / Bands, (b + 1) * Orders / Bands), lit(0)))) ++
      Seq(Upsert(() => gen.lineitem(updateKeys(0), lit(1))),
        Delete(delLo, delLo + DeleteBand),
        Upsert(() => gen.lineitem(updateKeys(1), lit(2))),
        Upsert(() => gen.lineitem(updateKeys(2), lit(3))))
  private def orderLoad: DataFrame = gen.orders(gen.keyRange(0, Orders), lit(0))

  def setup(wh0: Path): Unit = {
    wh = wh0
    eng = new OlapEngine(spark, wh)
    eng.createDatabase("so")
    val bands = (0 until PartBounds.size).map(i =>
      PartitionSpec(s"p$i", upperExclusive = PartBounds(i), numBuckets = Buckets))
    eng.createTable(TableDef(db = "so", name = "lineitem",
      schema = TableSchema(KeysType.Unique, Seq(
        ColumnSpec.key("l_orderkey", LongType), ColumnSpec.key("l_linenumber", IntegerType),
        ColumnSpec.value("l_partkey", LongType), ColumnSpec.value("l_suppkey", LongType),
        ColumnSpec.value("l_quantity", LongType), ColumnSpec.value("l_price_cents", LongType),
        ColumnSpec.value("l_discount", DoubleType), ColumnSpec.value("l_tax", DoubleType),
        ColumnSpec.value("l_returnflag", StringType), ColumnSpec.value("l_linestatus", StringType),
        ColumnSpec.value("l_shipdate", DateType))),
      policy = PartitionPolicy.Range, partitionColumn = Some("l_shipdate"), partitions = bands,
      bucketColumn = Some("l_orderkey"), numBuckets = Buckets))
    eng.createTable(TableDef(db = "so", name = "orders",
      schema = TableSchema(KeysType.Duplicate, Seq(
        ColumnSpec.key("o_orderkey", LongType), ColumnSpec.value("o_custkey", LongType),
        ColumnSpec.value("o_orderstatus", StringType), ColumnSpec.value("o_totalprice", DoubleType),
        ColumnSpec.value("o_orderdate", DateType), ColumnSpec.value("o_orderpriority", StringType))),
      policy = PartitionPolicy.Range, partitionColumn = Some("o_orderdate"), partitions = bands,
      bucketColumn = Some("o_orderkey"), numBuckets = Buckets))
    bytesWritten = 0L
    lineLoads.foreach {
      case Upsert(df) => bytesWritten += Bytes.writtenBy(wh)(
        Probe.time("engine.ingest")(eng.ingest("so", "lineitem", df())))._2
      case Delete(lo, hi) => bytesWritten += Bytes.writtenBy(wh)(
        eng.deleteWhere("so", "lineitem", s"l_orderkey >= $lo AND l_orderkey < $hi"))._2
    }
    bytesWritten += Bytes.writtenBy(wh)(
      Probe.time("engine.ingest")(eng.ingest("so", "orders", orderLoad)))._2
    graft.sql.GraftSql.bind(spark, eng)
  }

  // ---- oracle: the generated loads merged with plain Spark and Scala ------

  private final case class Line(key: Long, ln: Long, qty: Long, cents: Long, disc: Double,
                                flag: String, status: String, ship: Long)
  private final case class Order(key: Long, cust: Long, price: Double, date: Long, prio: String)
  /** lineitem state after each version: versions(v) = rows visible at v. */
  private var versions: IndexedSeq[Map[(Long, Long), Line]] = _
  private var orders: Seq[Order] = _

  def prepareOracle(): Unit = {
    // every load's rows in one collect, tagged with the load's version
    val all = lineLoads.zipWithIndex.collect { case (Upsert(df), v) => df().withColumn("v", lit(v)) }
      .reduce(_ unionByName _).collect()
    inputBytes = all.map(gen.rowBytes(_, skip = 1)).sum
    val byVersion = all.groupBy(_.getAs[Int]("v"))
    var state = Map.empty[(Long, Long), Line]
    versions = lineLoads.zipWithIndex.map {
      case (Upsert(_), v) =>
        byVersion(v).foreach { r =>
          val l = Line(r.getAs[Long]("l_orderkey"), r.getAs[Int]("l_linenumber").toLong,
            r.getAs[Long]("l_quantity"), r.getAs[Long]("l_price_cents"), r.getAs[Double]("l_discount"),
            r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus"), day(r.getAs[Any]("l_shipdate")))
          state += (l.key, l.ln) -> l
        }
        state
      case (Delete(lo, hi), _) =>
        state = state.filter { case ((k, _), _) => k < lo || k >= hi }
        state
    }
    val os = orderLoad.collect()
    inputBytes += os.map(gen.rowBytes(_)).sum
    orders = os.toSeq.map(r => Order(r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
      r.getAs[Double]("o_totalprice"), day(r.getAs[Any]("o_orderdate")), r.getAs[String]("o_orderpriority")))
  }

  // ---- the query mix ------------------------------------------------------

  private final case class Done(cls: String, params: String, got: Answer.Rows, want: () => Answer.Rows)
  private val done = new ConcurrentLinkedQueue[Done]
  private val latencies = new ConcurrentLinkedQueue[Double]

  /** Days are held relative to [[Gen.Epoch]], as the query parameters are. */
  private def day(v: Any): Long = Answer.norm(v).asInstanceOf[Long] - gen.Epoch.toEpochDay
  private def epoch(d: Long): String = gen.Epoch.plusDays(d).toString
  private def latest = versions.last.values

  private def query(cls: String, rng: SplittableRandom, req: Long): Unit = {
    env.attempted()
    try {
      val (rows, want, params, sec) = Probe.op("op." + cls, req)(cls match {
        case "merge_agg" =>
          val d = rng.nextInt(1500, 2500).toLong
          val (rows, s) = Read.run(eng, Seq("so" -> "lineitem"), "engine.plan_build")(
            eng.scan("so", "lineitem").filter(col("l_shipdate") <= lit(epoch(d)).cast("date"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(count(lit(1)), sum("l_quantity"), sum("l_price_cents"),
                sum(col("l_price_cents") * (lit(1.0) - col("l_discount"))), avg("l_quantity")))
          (rows, () => latest.filter(_.ship <= d).groupBy(l => (l.flag, l.status)).toSeq.map {
            case ((f, st), ls) => Seq(f, st, ls.size.toLong, ls.map(_.qty).sum, ls.map(_.cents).sum,
              ls.map(l => l.cents * (1.0 - l.disc)).sum, ls.map(_.qty).sum.toDouble / ls.size)
          }, s"d=$d", s)
        case "part_range" =>
          val p = rng.nextInt(PartBounds.size)
          val lo = PartStart(p) + rng.nextInt(0, 600)
          val hi = lo + rng.nextInt(30, 200)
          val (rows, s) = Read.run(eng, Seq("so" -> "lineitem"), "engine.plan_build")(
            eng.scanPartitions("so", "lineitem", Seq(s"p$p"))
              .filter(col("l_shipdate") >= lit(epoch(lo)).cast("date") &&
                col("l_shipdate") < lit(epoch(hi)).cast("date"))
              .agg(count(lit(1)), sum("l_quantity")))
          val in = latest.filter(l => partOf(l.ship) == p && l.ship >= lo && l.ship < hi)
          (rows, () => Seq(Seq(in.size.toLong, if (in.isEmpty) null else in.map(_.qty).sum)),
            s"p=$p lo=$lo hi=$hi", s)
        case "band_filter" =>
          val a = rng.nextLong(0, Orders - 50)
          val b = a + rng.nextLong(5, 50)
          val (rows, s) = Read.run(eng, Seq("so" -> "lineitem"), "engine.plan_build")(
            eng.scan("so", "lineitem").filter(col("l_orderkey") >= a && col("l_orderkey") < b)
              .agg(count(lit(1)), sum("l_quantity"), max("l_price_cents")))
          val in = latest.filter(l => l.key >= a && l.key < b)
          (rows, () => Seq(Seq(in.size.toLong, if (in.isEmpty) null else in.map(_.qty).sum,
            if (in.isEmpty) null else in.map(_.cents).max)), s"a=$a b=$b", s)
        case "time_travel" =>
          val v = rng.nextInt(3, versions.size - 1)
          val a = rng.nextLong(0, Orders - 1000)
          val (rows, s) = Read.run(eng, Seq("so" -> "lineitem"), "engine.plan_build")(
            eng.snapshot("so", "lineitem", 0L, v.toLong)
              .filter(col("l_orderkey") >= a && col("l_orderkey") < a + 1000)
              .agg(count(lit(1)), sum("l_quantity")))
          val in = versions(v).values.filter(l => l.key >= a && l.key < a + 1000)
          (rows, () => Seq(Seq(in.size.toLong, if (in.isEmpty) null else in.map(_.qty).sum)),
            s"v=$v a=$a", s)
        case "stats_agg" =>
          val c = StatCols(rng.nextInt(StatCols.size))
          val (rows, s) = Read.run(eng, Seq("so" -> "orders"), "engine.plan_build")(
            eng.scan("so", "orders").agg(count(lit(1)), min(c), max(c)))
          val vals: Seq[Any] = orders.map(o => c match {
            case "o_totalprice" => o.price
            case "o_orderdate" => o.date + gen.Epoch.toEpochDay
            case "o_custkey" => o.cust
            case _ => o.key
          })
          val ord: Ordering[Any] = (x: Any, y: Any) => (x, y) match {
            case (p: Double, q: Double) => p.compare(q)
            case (p: Long, q: Long) => p.compare(q)
            case _ => 0
          }
          (rows, () => Seq(Seq(orders.size.toLong, vals.min(ord), vals.max(ord))), s"c=$c", s)
        case "sql_join" =>
          val lo = rng.nextInt(0, 2200).toLong
          val hi = lo + rng.nextInt(30, 180)
          val text =
            s"""SELECT o.o_orderpriority, count(*) AS n, sum(l.l_quantity) AS q
               |FROM so.orders o JOIN so.lineitem l ON o.o_orderkey = l.l_orderkey
               |WHERE o.o_orderdate >= DATE '${epoch(lo)}' AND o.o_orderdate < DATE '${epoch(hi)}'
               |GROUP BY o.o_orderpriority""".stripMargin
          val (rows, s) = Read.run(eng, Seq("so" -> "orders", "so" -> "lineitem"), "sql.parse")(
            graft.sql.GraftSql.sql(spark, text))
          (rows, () => {
            val byKey = latest.groupBy(_.key)
            orders.filter(o => o.date >= lo && o.date < hi).flatMap(o =>
              byKey.getOrElse(o.key, Nil).map(l => (o.prio, l.qty))).groupBy(_._1).toSeq.map {
              case (p, xs) => Seq(p, xs.size.toLong, xs.map(_._2).sum)
            }
          }, s"lo=$lo hi=$hi", s)
      })
      latencies.add(sec)
      Probe.sample("query." + cls, sec)
      done.add(Done(cls, params, Answer.of(rows), want))
    } catch {
      case e: Exception => env.fail(s"$cls: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** One query of each class outside the measured window, so JIT and code
    * generation are warm; its answers are still checked.
    */
  def warmUp(): Unit = {
    Classes.grouped(Classes.size / clients).toSeq.zipWithIndex.map { case (cs, i) =>
      val t = new Thread(() => {
        val rng = new SplittableRandom(-env.seed - i)
        cs.foreach(c => query(c, rng, 0L))
      })
      t.start()
      t
    }.foreach(_.join())
    latencies.clear()
  }

  def run(seconds: Double): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val reqs = new java.util.concurrent.atomic.AtomicLong(0L)
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val rng = new SplittableRandom(env.seed * 1000003L + c)
        // every client runs whole rounds of all classes in a seeded order, so
        // each run holds the same mix and only the parameters vary with the seed
        while (System.nanoTime() < deadline) {
          val round = Classes.toArray
          for (i <- round.indices.reverse) {
            val j = rng.nextInt(i + 1)
            val x = round(i); round(i) = round(j); round(j) = x
          }
          round.foreach(c => query(c, rng, reqs.incrementAndGet()))
        }
      }, s"analyst-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def check(): Unit =
    done.asScala.foreach { d =>
      val want = Answer.of(d.want().map(r => org.apache.spark.sql.Row.fromSeq(r)).toArray)
      if (!Answer.same(d.got, want))
        env.fail(s"${d.cls}(${d.params}): got ${d.got.take(3)} want ${want.take(3)}")
    }

  def opLatencies: Seq[Double] = latencies.asScala.toSeq
  def writeLatencies: Seq[Double] = Nil
  def warehouse: Path = wh
  def amplification: (Long, Long) = (bytesWritten, inputBytes)
  def liveFrames: Seq[DataFrame] = Seq(eng.scan("so", "lineitem"), eng.scan("so", "orders"))
  def reopenTable: (String, String) = ("so", "lineitem")
}

object ScanOlap {
  val Orders = 10000L
  val Bands = 3
  val DeleteBand = 300L
  val Classes = Seq("merge_agg", "part_range", "band_filter", "time_travel", "stats_agg", "sql_join")
  val StatCols = Seq("o_totalprice", "o_orderdate", "o_custkey", "o_orderkey")
  /** Two RANGE partitions on the ship/order date, each HASH-bucketed. */
  val PartBounds = Seq(Some("1995-07-01"), None)
  val Buckets = 2
  private val ep = java.time.LocalDate.parse("1992-01-01")
  val PartStart: Seq[Long] = Seq(0L) ++ PartBounds.flatten.map(b =>
    java.time.LocalDate.parse(b).toEpochDay - ep.toEpochDay)
  def partOf(day: Long): Int = PartStart.lastIndexWhere(_ <= day)
}
