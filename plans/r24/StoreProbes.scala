package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.util.Random
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.llm.{IvfIndex, MinhashIndex, SemIndex, SpanIndex, WordCounts, NaiveBayes}
import graft.perfbench.Gen

/** Spark jobs, wall time and result digests of the store probes and
  * ingests, on stores built the way perfbench's `store_lifecycle` builds
  * them (1000 documents, 32-dim vectors, 4 lists, `Gen`'s seeded text).
  *
  *   jobs [rounds]          one line per (round, operation): 8-row probes
  *                          and 16-row ingests, jobs counted the way
  *                          LlmSpec's `ParamsRecordCheck.jobsDuring` counts
  *   bounds <sizes> [reps]  median wall ms of IvfIndex.topK and
  *                          SemIndex.dedupAgainst per batch size
  */
object StoreProbes {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("4", "WARN", "spark.app.name" -> "store-probes")
    import spark.implicits._
    def jobs[T](f: => T): (Int, T, Double) = {
      val sc = spark.sparkContext
      val n = new AtomicInteger()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      require(org.apache.spark.GraftListenerBus.drain(sc, 10000))
      sc.addSparkListener(l)
      val t0 = System.nanoTime()
      try {
        val r = f
        val ms = (System.nanoTime() - t0) / 1e6
        require(org.apache.spark.GraftListenerBus.drain(sc, 10000))
        (n.get, r, ms)
      } finally sc.removeSparkListener(l)
    }
    val rng = new Random(1)
    val docs = 1000
    val texts = IndexedSeq.fill(docs)(Gen.englishText(rng, 30 + rng.nextInt(30)))
    val vectors = IndexedSeq.fill(docs)(Gen.unitVector(rng, 32))
    val base = java.nio.file.Files.createTempDirectory("storeprobes").toString
    (1L to docs).map { id =>
      val i = (id - 1).toInt
      (id, texts(i), s"c${id % 3}", vectors(i))
    }.toDF("doc_id", "text", "label", "embedding").repartition(4)
      .write.parquet(s"$base/corpus.parquet")
    val corpus = spark.read.parquet(s"$base/corpus.parquet")
    def store(n: String) = s"$base/$n"
    MinhashIndex.write(corpus, "doc_id", "text", store("mh"), bands = 4)
    SpanIndex.write(corpus, "doc_id", "text", store("span"), k = 8, hashMode = "xxhash64",
      nbuckets = 8, bloomBits = 1L << 18, bloomHashes = 3)
    SemIndex.write(corpus, "doc_id", "embedding", store("sem"), nclusters = 4)
    IvfIndex.write(corpus, "doc_id", "embedding", store("ivf"), nlist = 4)
    def probeRows(r: Random, n: Int): Seq[(Long, String, Array[Float])] =
      (0 until n).map { j =>
        val i = r.nextInt(docs)
        if (j % 2 == 0) (j.toLong, Gen.perturb(r, texts(i)), Gen.nearVector(r, vectors(i)))
        else (j.toLong, Gen.englishText(r, 40), Gen.unitVector(r, 32))
      }
    def df(rows: Seq[(Long, String, Array[Float])]): DataFrame = rows.toDF("doc_id", "text", "embedding")
    def digest(rows: Array[org.apache.spark.sql.Row]): String =
      Integer.toHexString(rows.map(_.toString).sorted.mkString("\n").hashCode)
    args.headOption.getOrElse("jobs") match {
      case "jobs" =>
        val rounds = if (args.length > 1) args(1).toInt else 3
        var nextId = docs + 1L
        for (round <- 0 until rounds) {
          val r = new Random(100 + round)
          val rows = probeRows(r, 8)
          def report(op: String, res: (Int, String, Double)): Unit =
            println(f"OP round=$round%d op=$op%-22s jobs=${res._1}%3d ms=${res._3}%8.1f digest=${res._2}")
          report("probe.ivf_topk", jobs(digest(IvfIndex.topK(df(rows), "doc_id", "embedding",
            store("ivf"), k = 10, nprobe = 2).collect())))
          report("probe.minhash_matches", jobs(digest(MinhashIndex.matches(df(rows), "doc_id",
            "text", store("mh")).collect())))
          report("probe.sem_dedup", jobs(digest(SemIndex.dedupAgainst(df(rows), "doc_id",
            "embedding", store("sem")).collect())))
          def batch(): Seq[(Long, String, Array[Float])] = {
            val first = nextId
            nextId += 16
            (0 until 16).map(k => (first + k, Gen.englishText(r, 30 + r.nextInt(30)),
              Gen.unitVector(r, 32)))
          }
          report("ingest.minhash", jobs(MinhashIndex.ingest(df(batch()), "doc_id", "text",
            store("mh")).count().toString))
          report("ingest.span", jobs(digest(SpanIndex.ingest(df(batch()), "doc_id", "text",
            store("span")).collect())))
          report("ingest.sem", jobs(SemIndex.ingest(df(batch()), "doc_id", "embedding",
            store("sem")).count().toString))
          report("ingest.ivf", jobs { IvfIndex.ingest(df(batch()), "doc_id", "embedding",
            store("ivf")); "-" })
        }
      case "bounds" =>
        val sizes = args(1).split(",").map(_.toInt)
        val reps = if (args.length > 2) args(2).toInt else 5
        for (n <- sizes) {
          val r = new Random(7 + n)
          val rows = probeRows(r, n)
          def median(f: => Unit): (Double, Int) = {
            f // warm-up
            val runs = (0 until reps).map(_ => jobs(f))
            val ms = runs.map(_._3).sorted
            (ms(ms.size / 2), runs.head._1)
          }
          val (ivf, ivfJobs) = median(IvfIndex.topK(df(rows), "doc_id", "embedding", store("ivf"),
            k = 10, nprobe = 2).collect())
          val (sem, semJobs) = median(SemIndex.dedupAgainst(df(rows), "doc_id", "embedding",
            store("sem")).collect())
          val heapKb = org.apache.spark.util.SizeEstimator.estimate(
            df(rows).select("doc_id", "embedding").collect()) / 1024.0
          println(f"BOUND rows=$n%5d ivf_topk_ms=$ivf%8.1f ivf_jobs=$ivfJobs%3d " +
            f"sem_dedup_ms=$sem%8.1f sem_jobs=$semJobs%3d id_vec_heap_kb=$heapKb%9.1f")
        }
    }
    spark.stop()
  }
}
