package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.types.StructType
import graft.core.{Local, StoreTable}

class LocalSpec extends SparkSpec {
  import spark.implicits._

  private def jobs[T](f: => T): (Int, T) = {
    var out: Option[T] = None
    val n = ParamsRecordCheck.jobsDuring(spark) { out = Some(f) }
    (n, out.get)
  }

  test("collectUpTo: N rows at a row bound of N come back, N+1 rows give None") {
    val bound = 10
    Seq(spark.range(0, bound).toDF("id"), (0 until bound).toDF("id")).foreach { df =>
      assert(Local.collectUpTo(df, bound, Local.MaxBytes).map(_.map(_.getAs[Number](0).longValue).toSeq) ==
        Some((0L until bound).toSeq))
    }
    assert(Local.collectUpTo(spark.range(0, bound + 1).toDF("id"), bound, Local.MaxBytes).isEmpty)
    assert(Local.collectUpTo((0 to bound).toDF("id"), bound, Local.MaxBytes).isEmpty)
  }

  test("collectUpTo: a byte bound stops a few rows of long strings") {
    val df = Seq.fill(3)("x" * 200000).toDF("s")
    assert(Local.collectUpTo(df, 10, 100000L).isEmpty)
    assert(Local.collectUpTo(df, 10, 10L << 20).map(_.length) == Some(3))
  }

  test("collectUpTo runs no job on a local plan, and projections over a relation fold") {
    val (n, rows) = jobs(Local.collectUpTo(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").select($"id" * 2, $"s"), 5, Local.MaxBytes))
    assert(n == 0 && rows.get.length == 2)
    val rel = Local.relation(spark, rows.get.head.schema, rows.get.toSeq)
    val (m, out) = jobs(rel.filter($"s" === "b").select(org.apache.spark.sql.functions.upper($"s")).collect())
    assert(m == 0 && out.toSeq == Seq(Row("B")))
  }
}

class StoreTableSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col
  import graft.llm.{IvfIndex, MinhashIndex, NaiveBayes, SemIndex, SpanIndex, Takedown, WordCounts}

  private def vec(p: Int): Seq[Float] = Seq.tabulate(8)(i => if (i == p % 8) 1f else (i % 3) * 0.1f)
  private def docs(ids: Seq[Long]): DataFrame = ids.map(i =>
    (i, s"doc $i alpha beta gamma delta epsilon zeta eta theta iota ${i % 4} kappa",
      s"c${i % 2}", vec(i.toInt))).toDF("doc_id", "text", "label", "embedding")

  /** `dir` opens with `spark.read.parquet`'s schema and runs no job. */
  private def check(dir: String): Unit = {
    val want = spark.read.parquet(dir).schema
    var got: StructType = null
    val n = ParamsRecordCheck.jobsDuring(spark) { got = StoreTable.read(spark, dir).schema }
    assert(got == want, s"$dir: $got vs $want")
    assert(n == 0, s"$n Spark jobs opening $dir")
  }

  test("every table of the six stores opens with spark.read.parquet's schema and no job, " +
    "after write, ingest, delete and compact") {
    val base = java.nio.file.Files.createTempDirectory("storetable").toString
    val (mh, sp, se, iv, wc, nb) =
      (s"$base/mh", s"$base/sp", s"$base/se", s"$base/iv", s"$base/wc", s"$base/nb")
    val corpus = docs(0L until 24L)
    MinhashIndex.write(corpus, "doc_id", "text", mh)
    SpanIndex.write(corpus, "doc_id", "text", sp, k = 4, nbuckets = 4).count()
    SemIndex.write(corpus, "doc_id", "embedding", se, nclusters = 2)
    IvfIndex.write(corpus, "doc_id", "embedding", iv, nlist = 2, pqSubspaces = 2, pqCodesPerSub = 4)
    WordCounts.write(corpus, "text", wc)
    NaiveBayes.write(NaiveBayes.train(corpus, "text", "label"), nb)
    val dirs = Seq(s"$mh/bands", s"$mh/shingles", s"$mh/exact", s"$sp/grams", s"$sp/bloom",
      s"$se/vectors", s"$se/centroids", s"$iv/vectors", s"$iv/centroids", s"$iv/pq_codebooks",
      s"$wc/counts", s"$nb/classes", s"$nb/tokens")
    dirs.foreach(check)
    val batch = docs(100L until 108L)
    MinhashIndex.ingest(batch, "doc_id", "text", mh).count()
    SpanIndex.ingest(batch, "doc_id", "text", sp).count()
    SemIndex.ingest(batch, "doc_id", "embedding", se).count()
    IvfIndex.ingest(batch, "doc_id", "embedding", iv)
    WordCounts.ingest(batch, "text", wc)
    NaiveBayes.ingest(batch, "text", "label", nb)
    dirs.foreach(check)
    Takedown.run(spark, Seq(3L, 101L).toDF("doc_id"), minhashURI = mh, spanURI = sp,
      semURI = se, ivfURI = iv, countsURI = wc, modelURI = nb,
      corpus = Some(corpus.unionByName(batch))).collect()
    dirs.foreach(check)
    Seq(MinhashIndex -> mh, SpanIndex -> sp, SemIndex -> se, IvfIndex -> iv).foreach {
      case (st, p) => st.compact(spark, p, maxFilesPerPartition = 1)
    }
    dirs.foreach(check)
    // partition directories under a basePath, as a delete's discovery reads them
    val parts = new java.io.File(s"$iv/vectors").listFiles().map(_.getPath)
      .filter(_.contains("_list=")).sorted.toSeq
    val want = spark.read.option("basePath", s"$iv/vectors").parquet(parts: _*)
    val got = StoreTable.read(spark, s"$iv/vectors", parts)
    assert(got.schema == want.schema)
    assert(got.collect().map(_.toString).sorted.toSeq == want.collect().map(_.toString).sorted.toSeq)
  }

  test("an int-id corpus keeps its id type in the IVF and sem stores") {
    val base = java.nio.file.Files.createTempDirectory("storetable").toString
    val corpus = docs(0L until 12L).select(col("doc_id").cast("int").as("doc_id"), col("embedding"))
    IvfIndex.write(corpus, "doc_id", "embedding", s"$base/iv", nlist = 2)
    SemIndex.write(corpus, "doc_id", "embedding", s"$base/se", nclusters = 2)
    Seq(s"$base/iv/vectors", s"$base/se/vectors").foreach { d =>
      check(d)
      assert(StoreTable.read(spark, d).schema("id").dataType.sql == "INT")
    }
    // the sem type guard still refuses a long-id batch
    val e = intercept[IllegalArgumentException](SemIndex.ingest(docs(Seq(50L)), "doc_id",
      "embedding", s"$base/se"))
    assert(e.getMessage.contains("cast the batch or rebuild"), e.getMessage)
  }

  test("legacy and mixed layouts: same schema, and the layout guards refuse as before") {
    val base = java.nio.file.Files.createTempDirectory("storetable").toString
    val iv = s"$base/iv"
    val corpus = docs(0L until 12L)
    IvfIndex.write(corpus, "doc_id", "embedding", iv, nlist = 2)
    // an IVF vectors table from before the codes column: (id, vec) by _list
    val legacy = spark.read.parquet(s"$iv/vectors").select("id", "vec", "_list")
    legacy.write.partitionBy("_list").parquet(s"$base/legacy")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$iv/vectors"))
    new java.io.File(s"$base/legacy").renameTo(new java.io.File(s"$iv/vectors"))
    check(s"$iv/vectors")
    assert(!StoreTable.read(spark, s"$iv/vectors").columns.contains("codes"))
    val mixed = intercept[IllegalArgumentException](
      IvfIndex.ingest(docs(Seq(50L)), "doc_id", "embedding", iv))
    assert(mixed.getMessage.contains("mixed layouts"), mixed.getMessage)
    intercept[AnalysisException](
      IvfIndex.topKQuantized(docs(Seq(0L)), "doc_id", "embedding", iv, k = 2, nprobe = 2))
    assert(IvfIndex.topK(docs(Seq(0L)), "doc_id", "embedding", iv, k = 2, nprobe = 2)
      .count() == 2L)
    // a sem vectors table with a column this build does not write
    val se = s"$base/se"
    SemIndex.write(corpus, "doc_id", "embedding", se, nclusters = 2)
    spark.read.parquet(s"$se/vectors").withColumn("extra", org.apache.spark.sql.functions.lit(1))
      .write.partitionBy("_cluster").parquet(s"$base/extra")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$se/vectors"))
    new java.io.File(s"$base/extra").renameTo(new java.io.File(s"$se/vectors"))
    check(s"$se/vectors")
    val sem = intercept[IllegalArgumentException](
      SemIndex.ingest(docs(Seq(50L)), "doc_id", "embedding", se))
    assert(sem.getMessage.contains("rebuild with SemIndex.write"), sem.getMessage)
  }

  test("a directory with no data file fails the way spark.read.parquet does") {
    val dir = java.nio.file.Files.createTempDirectory("storetable").toString + "/t"
    new java.io.File(dir).mkdirs()
    new java.io.File(s"$dir/_SUCCESS").createNewFile()
    val want = intercept[AnalysisException](spark.read.parquet(dir))
    val got = intercept[AnalysisException](StoreTable.read(spark, dir))
    assert(got.getMessage == want.getMessage, got.getMessage)
  }
}

/** Probe and ingest batches on the driver ([[graft.llm.IndexStore.BatchRows]]):
  * a batch at the bound and one just past it (the distributed path) give
  * the same rows, and an 8-row batch runs a pinned number of jobs. */
class StoreProbeSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col
  import graft.llm.{IndexStore, IvfIndex, MinhashIndex, SemIndex, SpanIndex}

  private val dim = 16
  private def unit(r: scala.util.Random): Array[Float] = {
    val v = Array.fill(dim)(r.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  private def near(r: scala.util.Random, v: Array[Float]): Array[Float] = {
    val w = v.map(x => x + (r.nextGaussian() * 0.01).toFloat)
    val n = math.sqrt(w.map(x => x.toDouble * x).sum)
    w.map(x => (x / n).toFloat)
  }
  private val corpusVecs = { val r = new scala.util.Random(11); IndexedSeq.fill(300)(unit(r)) }
  private lazy val corpus = corpusVecs.zipWithIndex
    .map { case (v, i) => (i.toLong, s"doc $i text words", v) }.toDF("doc_id", "text", "embedding")

  /** `n` batch rows with ids from `first`: near copies of corpus rows,
    * near copies of the previous batch row, and fresh vectors. */
  private def batch(n: Int, first: Long = 1000L): Seq[(Long, String, Array[Float])] = {
    val r = new scala.util.Random(n)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Array[Float])]
    (0 until n).foreach { i =>
      out += (i % 3 match {
        case 0 =>
          val k = r.nextInt(corpusVecs.size)
          (first + i, s"doc $k text words", near(r, corpusVecs(k)))
        case 1 => (first + i, out.last._2 + " again", near(r, out.last._3))
        case _ => (first + i, s"fresh batch row $i with words of its own", unit(r))
      })
    }
    out.toSeq
  }
  private def df(rows: Seq[(Long, String, Array[Float])]): DataFrame =
    rows.toDF("doc_id", "text", "embedding")
  private def rowSet(d: DataFrame): Set[String] = d.collect().map(_.toString).toSet
  private def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString

  private lazy val ivf = { val p = tmp("probeivf") + "/idx"
    IvfIndex.write(corpus, "doc_id", "embedding", p, nlist = 4); p }
  private lazy val sem = { val p = tmp("probesem") + "/idx"
    SemIndex.write(corpus, "doc_id", "embedding", p, nclusters = 4); p }

  private val n = IndexStore.BatchRows
  private lazy val atBound = batch(n)
  // one row past the bound: the largest id, a fresh vector
  private lazy val pastBound = atBound :+ ((1000L + n, "extra", unit(new scala.util.Random(5))))

  test("IvfIndex.topK: a batch at the local bound gives the distributed path's rows") {
    val local = rowSet(IvfIndex.topK(df(atBound), "doc_id", "embedding", ivf, k = 5, nprobe = 2))
    val dist = rowSet(IvfIndex.topK(df(pastBound), "doc_id", "embedding", ivf, k = 5, nprobe = 2)
      .filter(col("query_id") < 1000L + n))
    assert(local.nonEmpty && local == dist)
  }

  test("SemIndex.dedupAgainst: a batch at the local bound gives the distributed path's rows") {
    val local = SemIndex.dedupAgainst(df(atBound), "doc_id", "embedding", sem)
    val dist = SemIndex.dedupAgainst(df(pastBound), "doc_id", "embedding", sem)
    assert(local.columns.toSeq == dist.columns.toSeq)
    val (l, d) = (rowSet(local.drop("embedding")), rowSet(dist.filter(col("doc_id") < 1000L + n)
      .drop("embedding")))
    // both dups of corpus rows and batch-internal dups were dropped
    assert(l.size < n * 2 / 3 && l == d, s"${l.size} local vs ${d.size} distributed survivors")
  }

  test("IvfIndex.ingest: a batch at the local bound writes the distributed path's rows") {
    val (a, b) = (tmp("ivfa") + "/idx", tmp("ivfb") + "/idx")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(ivf), new java.io.File(a))
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(ivf), new java.io.File(b))
    val rows = batch(n, first = 5000L)
    IvfIndex.ingest(df(rows), "doc_id", "embedding", a)
    IvfIndex.ingest(df(rows :+ ((5000L + n, "extra", unit(new scala.util.Random(6))))),
      "doc_id", "embedding", b)
    def stored(p: String) = rowSet(spark.read.parquet(s"$p/vectors")
      .filter(col("id") >= 5000L && col("id") < 5000L + n)
      .select(col("id"), col("vec").cast("string"), col("codes").cast("string"),
        col("vnorm"), col("_list")))
    val (sa, sb) = (stored(a), stored(b))
    assert(sa.size == n && sa == sb)
  }

  test("an 8-row batch: probes and ingests run a pinned number of Spark jobs") {
    val mh = tmp("probemh") + "/idx"
    val sp = tmp("probesp") + "/idx"
    val (iv, se) = (tmp("probeiv2") + "/idx", tmp("probese2") + "/idx")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(ivf), new java.io.File(iv))
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(sem), new java.io.File(se))
    MinhashIndex.write(corpus, "doc_id", "text", mh, bands = 4)
    SpanIndex.write(corpus, "doc_id", "text", sp, k = 3, nbuckets = 4).count()
    val probe = df(batch(8))
    def jobs(f: => Any): Int = ParamsRecordCheck.jobsDuring(spark)(f)
    // warm once: the first call of a session plans cold
    IvfIndex.topK(probe, "doc_id", "embedding", iv, k = 10).collect()
    val counts = Seq(
      "IvfIndex.topK" -> jobs(IvfIndex.topK(probe, "doc_id", "embedding", iv, k = 10).collect()),
      "SemIndex.dedupAgainst" -> jobs(SemIndex.dedupAgainst(probe, "doc_id", "embedding", se).collect()),
      "MinhashIndex.matches" -> jobs(MinhashIndex.matches(probe, "doc_id", "text", mh).collect()),
      "IvfIndex.ingest" -> jobs(IvfIndex.ingest(df(batch(8, 2000L)), "doc_id", "embedding", iv)),
      "SemIndex.ingest" -> jobs(SemIndex.ingest(df(batch(8, 3000L)), "doc_id", "embedding", se).count()),
      "MinhashIndex.ingest" -> jobs(MinhashIndex.ingest(df(batch(8, 4000L)), "doc_id", "text", mh).count()),
      "SpanIndex.ingest" -> jobs(SpanIndex.ingest(df(batch(8, 6000L)), "doc_id", "text", sp).count()))
      .toMap
    info(counts.toString)
    // at most this many (plans/r24/store_probe_jobs.txt has the counts
    // before and after on perfbench's store_lifecycle stores)
    val pins = Map("IvfIndex.topK" -> 5, "SemIndex.dedupAgainst" -> 6,
      "MinhashIndex.matches" -> 9, "IvfIndex.ingest" -> 3, "SemIndex.ingest" -> 9,
      "MinhashIndex.ingest" -> 32, "SpanIndex.ingest" -> 25)
    pins.foreach { case (op, most) =>
      assert(counts(op) <= most, s"$op: ${counts(op)} Spark jobs for an 8-row batch")
    }
  }
}
