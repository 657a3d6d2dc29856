package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-shaped inputs, a function of (seed, key, generation) only.
  *
  * Every column is a hash of the row key and the seed, so the same seed gives
  * the same rows whatever the Spark partitioning. A key's dates never depend
  * on the generation: an update rewrites a row's values but never moves it to
  * another partition. Monetary SUM columns are whole cents, so every merge
  * the engine does is exact and comparable bit for bit.
  */
final class Gen(spark: SparkSession, seed: Long) {
  import spark.implicits._

  val Epoch: java.time.LocalDate = java.time.LocalDate.parse("1992-01-01")
  /** Order dates fall in [Epoch, Epoch + DateSpan days): 1992-01-01 .. 1998-07. */
  val DateSpan = 2400
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def h(c: Column, salt: Column, m: Long): Column =
    pmod(xxhash64(c, lit(seed * 7919L) + salt), lit(m))
  private def h(c: Column, salt: Int, m: Long): Column = h(c, lit(salt.toLong), m)

  private def pick(values: Seq[String], c: Column, salt: Column): Column =
    element_at(array(values.map(lit): _*), (h(c, salt, values.size) + 1).cast("int"))

  private def day(offset: Column): Column =
    date_add(lit(Epoch.toString).cast("date"), offset.cast("int"))

  def keys(ks: Seq[Long]): DataFrame = ks.toDF("k")
  /** Keys tagged with the write that loaded them: columns k, idx, gen. */
  def tagged(ks: Seq[(Long, Int, Int)]): DataFrame = ks.toDF("k", "idx", "gen")
  def keyRange(lo: Long, hi: Long): DataFrame = spark.range(lo, hi, 1, 4).toDF("k")

  /** Orders for the keys in column `k`; `gen` (an int column or literal)
    * picks the values, so one frame can hold many loads' versions of a key.
    */
  def orders(ks: DataFrame, gen: Column): DataFrame = {
    val k = col("k")
    val g = gen.cast("long") * 16
    ks.select(ks.columns.filterNot(_ == "k").map(col) ++ Seq(
      k.as("o_orderkey"),
      h(k, 1, 15000).as("o_custkey"),
      pick(Seq("O", "F", "P"), k, g + 2).as("o_orderstatus"),
      (h(k, g + 3, 50000000L) / 100.0).as("o_totalprice"),
      day(h(k, 4, DateSpan)).as("o_orderdate"),
      pick(Priorities, k, g + 5).as("o_orderpriority")): _*)
  }

  /** The status/priority columns of an update that sets only those two. */
  def ordersPartial(ks: DataFrame, gen: Column): DataFrame =
    orders(ks, gen).drop("o_custkey", "o_totalprice")

  /** One to seven lines per order key; (l_orderkey, l_linenumber) is the key. */
  def lineitem(ks: DataFrame, gen: Column): DataFrame = {
    val k = col("k")
    val g = gen.cast("long") * 16
    val lines = ks.select(col("*"), explode(sequence(lit(1), (h(k, 6, 7) + 1).cast("int"))).as("ln"))
    val id = col("k") * 8 + col("ln")
    lines.select(ks.columns.filterNot(_ == "k").map(col) ++ Seq(
      col("k").as("l_orderkey"),
      col("ln").as("l_linenumber"),
      h(id, 7, 20000).as("l_partkey"),
      h(id, 8, 1000).as("l_suppkey"),
      (h(id, g + 9, 50) + 1).as("l_quantity"),
      (h(id, g + 10, 10000000L) + 100).as("l_price_cents"),
      (h(id, g + 11, 11) / 100.0).as("l_discount"),
      (h(id, g + 12, 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), id, g + 13).as("l_returnflag"),
      pick(Seq("O", "F"), id, g + 14).as("l_linestatus"),
      date_add(day(h(k, 4, DateSpan)), h(id, 15, 121).cast("int")).as("l_shipdate")): _*)
  }

  /** Raw value bytes of a frame: 8 per long/double, 4 per int/date, UTF-8
    * length per string. The base of `write_amp`; [[rowBytes]] is the same
    * measure for rows already collected.
    */
  def userBytes(df: DataFrame): Long = {
    import org.apache.spark.sql.types._
    val widths = df.schema.fields.map { f =>
      f.dataType match {
        case LongType | DoubleType => lit(8L)
        case IntegerType | DateType => lit(4L)
        case StringType => coalesce(octet_length(col(f.name)).cast("long"), lit(0L))
        case other => throw new IllegalArgumentException(s"no width for $other")
      }
    }
    df.select(coalesce(sum(widths.reduce(_ + _)), lit(0L))).head.getLong(0)
  }

  /** Raw value bytes of one row, leaving out its last `skip` columns. */
  def rowBytes(r: org.apache.spark.sql.Row, skip: Int = 0): Long =
    (0 until r.length - skip).map(i => r.get(i) match {
      case _: java.lang.Long | _: java.lang.Double => 8L
      case _: java.lang.Integer | _: java.sql.Date | _: java.time.LocalDate => 4L
      case s: String => s.getBytes("UTF-8").length.toLong
      case null => 0L
      case other => throw new IllegalArgumentException(s"no width for ${other.getClass}")
    }).sum
}
