package graft.perfbench

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Everything the program under test sees is made
  * here from the run's seed: the same seed gives byte-identical inputs.
  * Row-level TPC-H values come from `xxhash64(seed, column tag, row id)`,
  * so they do not depend on how Spark partitions the id range.
  */
object Gen {

  // ---------------------------------------------------------------- TPC-H

  /** sf0.1 row counts, as in the repository's bench tables. */
  val LineitemRows = 600000L
  val OrdersRows = 150000L
  val CustomerRows = 15000L
  val PartRows = 20000L
  val SupplierRows = 1000L

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN",
    "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
  private val NationRegion = Seq(0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0,
    1, 2, 3, 4, 2, 3, 3, 1)

  val TpchTables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  private def u(seed: Long, tag: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(tag), col("id")), lit(m))

  private def pick(seed: Long, tag: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(seed, tag, values.size.toLong) + 1).cast("int"))

  /** 1992-01-01 plus a seeded number of days below `span`. */
  private def day(seed: Long, tag: Int, span: Long): Column =
    timestamp_seconds(lit(694224000L) + u(seed, tag, span) * 86400L)

  private def money(seed: Long, tag: Int, lo: Long, span: Long): Column =
    ((lit(lo * 100) + u(seed, tag, span * 100)) / 100.0).cast("double")

  /** Write the seven TPC-H tables as parquet under `dir`. */
  def tpch(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    def save(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def range(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF("id")
    save(Regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"),
      "region")
    save(Nations.zip(NationRegion).zipWithIndex.map { case ((n, r), i) => (i, n, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    save(range(CustomerRows).select(
      (col("id") + 1).as("c_custkey"),
      concat(lit("Customer#"), lpad((col("id") + 1).cast("string"), 9, "0")).as("c_name"),
      u(seed, 1, 25).cast("int").as("c_nationkey"),
      money(seed, 2, -999, 10999).as("c_acctbal"),
      pick(seed, 3, Segments).as("c_mktsegment")), "customer")
    save(range(SupplierRows).select(
      (col("id") + 1).as("s_suppkey"),
      concat(lit("Supplier#"), lpad((col("id") + 1).cast("string"), 9, "0")).as("s_name"),
      u(seed, 4, 25).cast("int").as("s_nationkey"),
      money(seed, 5, -999, 10999).as("s_acctbal")), "supplier")
    save(range(PartRows).select(
      (col("id") + 1).as("p_partkey"),
      concat(lit("part "), (col("id") + 1).cast("string")).as("p_name"),
      concat(lit("Brand#"), (u(seed, 6, 5) + 1).cast("string"),
        (u(seed, 7, 5) + 1).cast("string")).as("p_brand"),
      pick(seed, 8, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"))
        .as("p_type"),
      (u(seed, 9, 50) + 1).cast("int").as("p_size"),
      money(seed, 10, 900, 1100).as("p_retailprice")), "part")
    save(range(OrdersRows).select(
      (col("id") + 1).as("o_orderkey"),
      (u(seed, 11, CustomerRows) + 1).as("o_custkey"),
      pick(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, 13, 1000, 400000).as("o_totalprice"),
      day(seed, 14, 2400).as("o_orderdate"),
      pick(seed, 15, Priorities).as("o_orderpriority")), "orders")
    save(range(LineitemRows).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (u(seed, 16, PartRows) + 1).as("l_partkey"),
      (u(seed, 17, SupplierRows) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (u(seed, 18, 50) + 1).cast("double").as("l_quantity"),
      money(seed, 19, 900, 100000).as("l_extendedprice"),
      (u(seed, 20, 11) / 100.0).as("l_discount"),
      (u(seed, 21, 9) / 100.0).as("l_tax"),
      pick(seed, 22, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 23, Seq("F", "O")).as("l_linestatus"),
      day(seed, 24, 2500).as("l_shipdate")), "lineitem")
  }

  // ------------------------------------------------------------ documents

  private val EnStop = Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with")

  /** Fixed content vocabulary of pronounceable pseudo-words. */
  val Vocab: IndexedSeq[String] = {
    val on = Seq("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Seq("a", "e", "i", "o", "u")
    val co = Seq("n", "r", "s", "l", "x")
    for (a <- on; b <- nu; c <- on; d <- nu; e <- co) yield a + b + c + d + e
  }.toIndexedSeq.take(6000)

  /** `n` words of English-like text: content words with English stopwords
    * mixed in, one sentence per 8–14 words, always ending with a period. */
  def englishText(r: Random, n: Int): String = {
    val sb = new StringBuilder
    var left = n
    while (left > 0) {
      val len = math.min(left, 8 + r.nextInt(7))
      val words = (0 until len).map { i =>
        if (i % 3 == 1) EnStop(r.nextInt(EnStop.size)) else Vocab(r.nextInt(Vocab.size))
      }
      if (sb.nonEmpty) sb.append(' ')
      sb.append(words.head.capitalize).append(words.tail.map(" " + _).mkString).append('.')
      left -= len
    }
    sb.toString
  }

  /** Replace one word of `text` (a near-duplicate). */
  def perturb(r: Random, text: String): String = {
    val words = text.split(" ")
    val i = r.nextInt(words.length)
    words(i) = Vocab(r.nextInt(Vocab.size)) + (if (words(i).endsWith(".")) "." else "")
    words.mkString(" ")
  }

  def unitVector(r: Random, dim: Int): Array[Float] = {
    val v = Array.fill(dim)(r.nextGaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  /** `v` moved slightly; cosine to `v` stays above 0.99. */
  def nearVector(r: Random, v: Array[Float]): Array[Float] = {
    val w = v.map(x => x + (r.nextGaussian() * 0.01).toFloat)
    val norm = math.sqrt(w.map(x => x.toDouble * x).sum)
    w.map(x => (x / norm).toFloat)
  }

  /** Order-independent digest of a frame's rows, for determinism tests. */
  def digest(df: DataFrame): String = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")),
        lit(0))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}
