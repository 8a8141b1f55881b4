package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import graft.llm.{IvfIndex, MinhashIndex, NaiveBayes, SemIndex, SpanIndex, Takedown, WordCounts}

/** Spark jobs per one-id takedown operation, counted the way the test
  * suite's `ParamsRecordCheck.jobsDuring` counts them (a SparkListener
  * around the call, the listener bus drained before and after), on the
  * test suite's session shape (`Sessions.local("4", ...)`). Three rounds
  * on fresh stores; prints one line per round. */
object TakedownJobs {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("4", "WARN", "spark.app.name" -> "takedown-jobs")
    import spark.implicits._
    def jobs(f: => Unit): Int = {
      val sc = spark.sparkContext
      val n = new AtomicInteger()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
      }
      require(org.apache.spark.GraftListenerBus.drain(sc, 10000))
      sc.addSparkListener(l)
      try { f; require(org.apache.spark.GraftListenerBus.drain(sc, 10000)) }
      finally sc.removeSparkListener(l)
      n.get
    }
    def vec(p: Int): Seq[Float] = Seq.tabulate(8)(i => if (i == p % 8) 1f else 0f)
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "spam", vec(0)),
      (1L, "one two three four five six seven eight nine ten eleven", "ham", vec(1)),
      (2L, "red orange yellow green blue indigo violet cyan magenta white", "spam", vec(2)),
      (3L, "north south east west up down left right forward backward", "ham", vec(3)))
      .toDF("doc_id", "text", "label", "embedding")
    corpus.createOrReplaceTempView("probe_corpus")
    for (round <- 0 until 3) {
      val base = java.nio.file.Files.createTempDirectory("tdjobs").toString
      val (mh, sp, se, iv, wc, nb) =
        (s"$base/mh", s"$base/sp", s"$base/se", s"$base/iv", s"$base/wc", s"$base/nb")
      MinhashIndex.write(corpus, "doc_id", "text", mh)
      SpanIndex.write(corpus, "doc_id", "text", sp, k = 4, nbuckets = 4).count()
      SemIndex.write(corpus, "doc_id", "embedding", se, nclusters = 2)
      IvfIndex.write(corpus, "doc_id", "embedding", iv, nlist = 2)
      WordCounts.write(corpus, "text", wc)
      NaiveBayes.write(NaiveBayes.train(corpus, "text", "label"), nb)
      val one = Seq(1L).toDF("doc_id")
      val pv = jobs(Takedown.preview(spark, one, minhashURI = mh, spanURI = sp,
        semURI = se, ivfURI = iv).collect())
      val pvCounts = jobs(Takedown.preview(spark, one, countsURI = wc, modelURI = nb,
        corpus = Some(corpus)).collect())
      val td = jobs(Takedown.run(spark, one, minhashURI = mh, spanURI = sp,
        semURI = se, ivfURI = iv, auditURI = s"$base/audit").collect())
      Seq(2L).toDF("doc_id").createOrReplaceTempView("probe_ids")
      val ctx = new graft.core.PipelineContext(spark)
      val wcIds = jobs(graft.transform.WordCountsTransform("w", "probe_ids", "probe_wc",
        wc, action = "deleteIds", corpusView = "probe_corpus", idField = "doc_id")
        .execute(ctx).get.collect())
      val nbIds = jobs(graft.transform.ClassifierTransform("c", "probe_ids", "probe_nb",
        "text", mode = "unlearnIds", idField = "doc_id", corpusView = "probe_corpus",
        modelURI = nb).execute(ctx).get.collect())
      val md = jobs(MinhashIndex.delete(spark, mh, Seq(3L)))
      println(s"ROUND $round takedown_preview_4idx=$pv takedown_preview_counts=$pvCounts " +
        s"takedown_run_4idx_audit=$td wordcounts_deleteIds=$wcIds " +
        s"classifier_unlearnIds=$nbIds minhash_delete=$md")
    }
    spark.stop()
  }
}
