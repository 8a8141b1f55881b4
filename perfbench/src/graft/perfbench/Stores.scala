package graft.perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Bpe, IvfIndex, MinhashIndex, NaiveBayes, SemIndex, SpanIndex, Takedown, WordCounts}

/** The six persisted stores under a seeded stream of probes, ingests,
  * takedowns and compactions. Set-up builds all six from one
  * documents⋈embeddings corpus, as q210 does but larger. Per block of 12
  * operations: 6 probes (2 each of `IvfIndex.topK`, `MinhashIndex.matches`,
  * `SemIndex.dedupAgainst`), 4 ingests (one into each index store),
  * 1 `Takedown.run` request of 3 ids with an audit trail, and 1 `compact`
  * (the four index stores in turn).
  */
final class Stores(seed: Long) extends Workload {
  import Stores._

  private var spark: SparkSession = _
  private var dir: String = _
  private var corpus: DataFrame = _
  private val rng = new Random(seed)
  private val texts: IndexedSeq[String] = IndexedSeq.fill(CorpusDocs)(Gen.englishText(rng, 30 + rng.nextInt(30)))
  private val vectors: IndexedSeq[Array[Float]] = IndexedSeq.fill(CorpusDocs)(Gen.unitVector(rng, Dim))
  /** Takedown order: a seeded permutation of the corpus ids. */
  private val victimOrder: IndexedSeq[Long] = rng.shuffle((1L to CorpusDocs).toIndexedSeq)

  // ledger, kept from the calls' own return values
  private val built = mutable.Map[String, Long]()
  private val ingested = mutable.Map[String, Long]().withDefaultValue(0L)
  private val victims = mutable.LinkedHashSet[Long]()
  private var lastIvfIngest: Option[(Long, Array[Float])] = None
  private var nextId = CorpusDocs + 1L

  private def store(name: String) = s"$dir/stores/$name"

  def setup(spark: SparkSession, dir: String): Unit = {
    this.spark = spark
    this.dir = dir
    import spark.implicits._
    (1L to CorpusDocs).map { id =>
      val i = (id - 1).toInt
      (id, texts(i), s"c${id % 3}", vectors(i))
    }.toDF("doc_id", "text", "label", "embedding").repartition(4).write.parquet(s"$dir/corpus.parquet")
    corpus = spark.read.parquet(s"$dir/corpus.parquet")
    MinhashIndex.write(corpus, "doc_id", "text", store("mh"), bands = 4)
    SpanIndex.write(corpus, "doc_id", "text", store("span"), k = 8, hashMode = "xxhash64",
      nbuckets = 8, bloomBits = 1L << 18, bloomHashes = 3)
    SemIndex.write(corpus, "doc_id", "embedding", store("sem"), nclusters = Lists)
    IvfIndex.write(corpus, "doc_id", "embedding", store("ivf"), nlist = Lists)
    WordCounts.write(corpus, "text", store("wc"))
    NaiveBayes.write(NaiveBayes.train(corpus, "text", "label"), store("nb"))
    built("mh") = spark.read.parquet(s"${store("mh")}/exact").count()
    built("sem") = spark.read.parquet(s"${store("sem")}/vectors").count()
    built("ivf") = spark.read.parquet(s"${store("ivf")}/vectors").count()
  }

  /** One operation of each kind but the takedown, on the stores the timed
    * window then uses. A takedown costs about 7 s, which the run budget does
    * not have; as the slowest operation it does not move the median. */
  def warmup(): Unit = {
    val ops = block(-1).filter(_.kind != "takedown")
    val once = ops.groupBy(_.kind).values.map(_.head).toSet
    ops.filter(once).foreach { op =>
      if (!op.run()) throw new IllegalStateException(s"warmup operation failed: ${op.describe}")
    }
  }

  private def docsDf(rows: Seq[(Long, String, Array[Float])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "embedding")
  }

  /** `n` probe documents: half near copies of corpus documents, half new. */
  private def probeRows(r: Random, n: Int): Seq[(Long, String, Array[Float])] =
    (0 until n).map { j =>
      val i = r.nextInt(CorpusDocs)
      if (j % 2 == 0) (j.toLong, Gen.perturb(r, texts(i)), Gen.nearVector(r, vectors(i)))
      else (j.toLong, Gen.englishText(r, 40), Gen.unitVector(r, Dim))
    }

  def block(i: Int): Seq[Op] = {
    val r = new Random(seed * 7919L + i)
    val base = i + 1 // block -1 is the warmup
    val probes = (0 until 2).flatMap { _ =>
      val rows = probeRows(r, ProbeRows)
      Seq(
        Op("probe.ivf_topk", "ivf topK", () =>
          IvfIndex.topK(docsDf(rows), "doc_id", "embedding", store("ivf"), k = 10, nprobe = 2)
            .collect().nonEmpty),
        Op("probe.minhash_matches", "minhash matches", () => {
          MinhashIndex.matches(docsDf(rows), "doc_id", "text", store("mh")).collect(); true
        }),
        Op("probe.sem_dedup", "sem dedupAgainst", () => {
          SemIndex.dedupAgainst(docsDf(rows), "doc_id", "embedding", store("sem")).collect(); true
        }))
    }
    val ingests = IngestStores.indices.map { n =>
      val content = Seq.fill(IngestRows)((Gen.englishText(r, 30 + r.nextInt(30)), Gen.unitVector(r, Dim)))
      // ids are handed out in execution order: every store needs them above its watermark
      def rows() = {
        val first = nextId
        nextId += IngestRows
        content.zipWithIndex.map { case ((t, v), k) => (first + k, t, v) }
      }
      IngestStores(n) match {
        case "mh" => Op("ingest.minhash", "minhash ingest", () => {
          ingested("mh") += MinhashIndex.ingest(docsDf(rows()), "doc_id", "text", store("mh")).count(); true
        })
        case "span" => Op("ingest.span", "span ingest", () => {
          SpanIndex.ingest(docsDf(rows()), "doc_id", "text", store("span")).collect(); true
        })
        case "sem" => Op("ingest.sem", "sem ingest", () => {
          ingested("sem") += SemIndex.ingest(docsDf(rows()), "doc_id", "embedding", store("sem")).count(); true
        })
        case _ => Op("ingest.ivf", "ivf ingest", () => {
          val batch = rows()
          IvfIndex.ingest(docsDf(batch), "doc_id", "embedding", store("ivf"))
          ingested("ivf") += batch.size
          lastIvfIngest = Some((batch.head._1, batch.head._3))
          true
        })
      }
    }
    val takedown = {
      val ids = victimOrder.slice(base * TakedownIds, (base + 1) * TakedownIds)
      Op("takedown", s"takedown ${ids.mkString(",")}", () => {
        val s = spark
        import s.implicits._
        val report = Takedown.run(spark, ids.toDF("doc_id"),
          minhashURI = store("mh"), spanURI = store("span"), semURI = store("sem"),
          ivfURI = store("ivf"), countsURI = store("wc"), modelURI = store("nb"),
          corpus = Some(corpus), corpusIdCol = "doc_id", textCol = "text", labelCol = "label",
          auditURI = store("audit")).collect()
        victims ++= ids
        report.length == StoreNames.size
      })
    }
    val compact = {
      val name = IngestStores(base % IngestStores.size)
      Op(s"compact.$name", s"$name compact", () => {
        name match {
          case "mh"   => MinhashIndex.compact(spark, store("mh"))
          case "span" => SpanIndex.compact(spark, store("span"))
          case "sem"  => SemIndex.compact(spark, store("sem"))
          case _      => IvfIndex.compact(spark, store("ivf"))
        }
        true
      })
    }
    r.shuffle(probes ++ ingests :+ takedown :+ compact)
  }

  /** The q210 checks, untimed: each id-keyed store's live count equals
    * built + ingested − removed, no store holds a taken-down id, the count
    * stores equal a fresh build over the corpus minus the victims, and an
    * exhaustive probe of an ingested vector returns its own id. */
  def check(): (Int, Seq[String]) = {
    val gone = victims.toSeq
    def count(t: String) = spark.read.parquet(store(t)).count()
    def holds(t: String, idCol: String): Long =
      spark.read.parquet(store(t)).filter(col(idCol).isin(gone: _*)).count()
    val kept = corpus.filter(!col("doc_id").isin(gone: _*))
    def same(a: DataFrame, b: DataFrame) = a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty
    val nbNow = NaiveBayes.read(spark, store("nb"))
    val nbWant = NaiveBayes.train(kept, "text", "label")
    val live = Seq("mh" -> "mh/exact", "sem" -> "sem/vectors", "ivf" -> "ivf/vectors")
      .map { case (s, t) => (s, count(t)) }
    val checks: Seq[(Boolean, String)] = live.map { case (s, n) =>
      val want = built(s) + ingested(s) - gone.size
      (n == want) -> s"$s live rows $n, want built ${built(s)} + ingested ${ingested(s)} - removed ${gone.size}"
    } ++ Seq("mh/bands" -> "_id", "mh/shingles" -> "_id", "mh/exact" -> "_id", "span/grams" -> "keeper",
      "sem/vectors" -> "id", "ivf/vectors" -> "id").map { case (t, c) =>
      val n = holds(t, c)
      (n == 0) -> s"$t still holds $n rows of taken-down ids"
    } ++ Seq(
      same(WordCounts.read(spark, store("wc")), Bpe.wordCounts(kept, "text")) ->
        "word counts differ from a fresh count over the corpus minus the victims",
      (same(nbNow.tokenTable, nbWant.tokenTable) && same(nbNow.classTable, nbWant.classTable)) ->
        "naive Bayes model differs from a fresh train over the corpus minus the victims",
      lastIvfIngest.forall { case (id, v) =>
        val top = IvfIndex.topK(docsDf(Seq((id, "", v))), "doc_id", "embedding", store("ivf"),
          k = 1, nprobe = Lists).select("neighbor_id").collect().map(_.getLong(0)).toSeq
        top == Seq(id)
      } -> "exhaustive probe of an ingested vector did not return its own id")
    (checks.size, checks.collect { case (false, msg) => msg })
  }

  /** An ingest the ledger does not see: the live-count check must fail. */
  def injectFault(): Unit =
    IvfIndex.ingest(docsDf(Seq((Long.MaxValue / 2, "", Gen.unitVector(new Random(1), Dim)))),
      "doc_id", "embedding", store("ivf"))

  def inputDigest(): String = Gen.digest(spark.read.parquet(s"$dir/corpus.parquet"))

  /** Space on disk of the six stores, and per live row: the rows of minhash
    * `exact`, span `grams`, sem and ivf `vectors`, word `counts` and the
    * naive Bayes token table. */
  override def layerExtras(): Map[String, Double] = {
    val (files, bytes) = StoreNames.map(s => Disk.usage(store(s))).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val liveRows = Seq("mh/exact", "span/grams", "sem/vectors", "ivf/vectors", "wc/counts")
      .map(t => spark.read.parquet(store(t)).count()).sum +
      NaiveBayes.read(spark, store("nb")).tokenTable.count()
    Map("stores.files" -> files.toDouble, "stores.bytes" -> bytes.toDouble,
      "stores.bytes_per_live_row" -> (if (liveRows > 0) bytes.toDouble / liveRows else 0.0))
  }
}

object Stores {
  val CorpusDocs = 1000
  val Dim = 32
  val Lists = 4
  val ProbeRows = 8
  val IngestRows = 16
  val TakedownIds = 3
  val IngestStores = IndexedSeq("mh", "span", "sem", "ivf")
  val StoreNames = Seq("mh", "span", "sem", "ivf", "wc", "nb")
}
