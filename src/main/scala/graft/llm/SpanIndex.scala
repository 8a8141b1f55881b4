package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental cross-document span dedup — the [[SemIndex]] discipline
  * applied to [[SpanDedup]]: persist the corpus's k-window gram set once,
  * then dedup each new batch against it with work proportional to the
  * BATCH's grams, appending the batch's new grams for the next round. A
  * daily-ingest pipeline must not re-shingle a year of corpus to admit one
  * day of crawl.
  *
  * Exactness contract (the parity SpanIndexSpec pins): with the
  * disjoint-id watermark (every batch id strictly above every indexed id),
  * write + N ingests produce, doc for doc, EXACTLY the rows a one-shot
  * [[SpanDedup.dedupSpans]] over the union corpus produces. The argument:
  * one-shot marks an occurrence iff its gram appears in ≥ 2 distinct docs
  * and the occurrence's doc is not the minimum — for a batch occurrence
  * that is precisely "gram seen by any earlier doc (index membership —
  * the earlier doc is always the min)" OR "gram shared with another batch
  * doc, and this doc is not the batch minimum"; earlier docs' outputs
  * never change because the earlier doc IS the keeper of any gram a later
  * batch repeats.
  *
  * On-disk layout at `path`:
  *   - `grams/bucket=N/` — one row per DISTINCT gram hash (h, keeper),
  *     hash-bucketed so the ingest verification reads only touched
  *     buckets ([[IndexCompact]] applies directly for small-file
  *     maintenance)
  *   - `bloom/` — a Bloom bitmap over every indexed gram
  *     ([[BloomSketch]] layout, OR-mergeable, ≤ bits/64 rows)
  *   - `params/` — k, hashMode, nbuckets, bloom geometry, and the maxId
  *     watermark (temp-then-rename writes, [[SemIndex]] crash discipline)
  *
  * Ingest cost shape, per batch: one narrow shingle pass + explode of
  * the batch's grams (the operator's whole shuffle, O(batch)); a
  * broadcast-bitmap membership scan that short-circuits every
  * definitely-new gram (the overwhelming majority — new content is
  * mostly new); an exact verification join whose index-side read is
  * partition-pruned to the buckets holding a maybe; and a bucket-
  * partitioned append of the new grams plus an OR-merge rewrite of the
  * ≤ bits/64-row bitmap. No step scans the historical corpus text.
  */
object SpanIndex extends IndexStore {
  val storeType = "span"

  /** A takedown removes every gram KEPT by one of its ids, so future
    * batches may keep fresh copies of those spans. The bloom still
    * remembers the deleted grams, which only routes probes to a
    * verification that finds nothing — a false positive the bloom
    * contract already absorbs. `bucket` derives from the gram hash, not
    * the keeper id, so discovery takes the column-pruned scan. */
  val tables: Seq[IndexTable] = Seq(IndexTable("grams", "keeper", "bucket"))

  private def bucketCol(h: org.apache.spark.sql.Column, nbuckets: Int) =
    pmod(xxhash64(h), lit(nbuckets.toLong)).cast("int")

  /** The `params/` record ([[graft.core.AtomicDir.writeRecord]]). Every
    * field has been written since the store was added, so a missing one
    * fails naming it. */
  private case class Params(k: Int, hashMode: String, nbuckets: Int,
      bits: Long, hashes: Int, maxId: Long) {
    def fields: Seq[(String, Any)] = Seq("k" -> k, "hashMode" -> hashMode,
      "nbuckets" -> nbuckets, "bits" -> bits, "hashes" -> hashes, "maxId" -> maxId)
  }
  private object Params {
    def apply(r: graft.core.AtomicDir.Record): Params = Params(
      r.long("k").toInt, r.string("hashMode"), r.long("nbuckets").toInt,
      r.long("bits"), r.long("hashes").toInt, r.long("maxId"))
  }

  /** Bloom bitmap swap with the params discipline: `bloom/` must never be
    * in a deleted-but-unwritten state (an empty bitmap would silently
    * pass every gram to verification — correct but a full-index join per
    * batch; a missing one fails reads). */
  private def swapBloom(spark: SparkSession, path: String, merged: DataFrame): Unit =
    graft.core.AtomicDir.swap(spark, s"$path/bloom") { tmp =>
      merged.write.mode("overwrite").parquet(tmp)
    }

  private def readBloom(spark: SparkSession, path: String): DataFrame = {
    graft.core.AtomicDir.recoverLive(spark, s"$path/bloom")
    graft.core.StoreTable.read(spark, s"$path/bloom")
  }

  /** One-shot dedup of the initial corpus AND index creation: runs
    * [[SpanDedup.dedupSpans]] over `df` (returned — per-doc n_tokens /
    * n_tokens_removed / n_spans / clean_text, the caller's to store) and
    * persists every distinct gram with its min-doc keeper, the Bloom
    * bitmap, and the id watermark. Corpus ids must be non-negative.
    */
  def write(df: DataFrame, idCol: String, textCol: String, path: String,
      k: Int, hashMode: String = "xxhash64", nbuckets: Int = 64,
      bloomBits: Long = 1L << 26, bloomHashes: Int = 5): DataFrame = {
    require(k >= 2, s"k must be >= 2 tokens, got $k")
    require(nbuckets >= 1, s"nbuckets must be >= 1, got $nbuckets")
    val spark = df.sparkSession
    val docs = graft.core.Lineage.pin(
      df.select(col(idCol).cast("long").as("doc_id"),
        SpanDedup.tokArr(col(textCol)).as("_arr")))
    val idRange = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    require(idRange.isNullAt(0) || idRange.getLong(0) >= 0L,
      s"SpanIndex.write: corpus ids must be non-negative, found ${idRange.get(0)}")
    val maxId = if (idRange.isNullAt(1)) -1L else idRange.getLong(1)
    val grams = graft.core.Lineage.pin(
      docs.select(col("doc_id"),
        posexplode(SpanDedup.windowHashes(col("_arr"), k, hashMode)).as(Seq("pos", "h"))))
    // the one-shot dedup over this corpus — the [[SpanDedup.dedupSpans]]
    // one-pass window marking (doc ≠ min(doc) over h ⟺ shared by ≥ 2
    // docs and not the keeper): one exchange, one scan of the pinned
    // grams instead of aggregate + join-back
    val marked = grams
      .withColumn("_keeper", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("doc_id") =!= col("_keeper"))
      .select(col("doc_id"), col("pos"))
    // EVERY distinct gram goes to the index (not just duplicated ones):
    // a future batch repeating a so-far-unique gram must get marked.
    // Pinned: consumed by both the parquet write and the bloom build
    val distinctGrams = graft.core.Lineage.pin(
      grams.groupBy("h").agg(min(col("doc_id")).as("keeper"))
        .withColumn("bucket", bucketCol(col("h"), nbuckets)))
    distinctGrams.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/grams")
    swapBloom(spark, path,
      BloomSketch.build(distinctGrams, col("h"), bloomBits, bloomHashes))
    graft.core.AtomicDir.writeRecord(spark, s"$path/params",
      Params(k, hashMode, nbuckets, bloomBits, bloomHashes, maxId).fields)
    SpanDedup.removeCovered(docs, marked, k)
  }

  /** Dedup `batch` against the index AND against itself, append its new
    * grams, advance the watermark. Returns the batch docs' rows in
    * [[SpanDedup.dedupSpans]] output schema — exactly what a one-shot
    * over (indexed corpus ∪ batch) would return for them. Batch ids must
    * be strictly above every indexed id (fails fast otherwise — the
    * one-shot-equivalence precondition).
    */
  def ingest(batch: DataFrame, idCol: String, textCol: String, path: String): DataFrame = {
    val spark = batch.sparkSession
    val p = Params(graft.core.AtomicDir.readRecord(spark, s"$path/params"))
    val Params(k, hashMode, nbuckets, bits, hashes, indexedMax) = p
    val docs = graft.core.Lineage.pin(
      batch.select(col(idCol).cast("long").as("doc_id"),
        SpanDedup.tokArr(col(textCol)).as("_arr")))
    val batchRange = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    require(batchRange.isNullAt(0) || batchRange.getLong(0) > indexedMax,
      s"SpanIndex.ingest: batch ids must be strictly above every indexed id " +
        s"(max indexed = $indexedMax, batch min = ${batchRange.get(0)}) — " +
        "renumber the batch or rebuild with SpanIndex.write")
    val grams = graft.core.Lineage.pin(
      docs.select(col("doc_id"),
        posexplode(SpanDedup.windowHashes(col("_arr"), k, hashMode)).as(Seq("pos", "h"))))
    // membership: bloom short-circuits definite-nots; maybes verify
    // against ONLY the touched bucket directories
    val sketch = readBloom(spark, path)
    val distinctH = graft.core.Lineage.pin(
      BloomSketch.mightContain(sketch,
        grams.select("h").distinct().withColumn("bucket", bucketCol(col("h"), nbuckets)),
        col("h"), bits, hashes, "_mc"))
    val maybes = distinctH.filter(col("_mc"))
    val touched = maybes.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted // bounded by nbuckets
    val inIndex =
      if (touched.isEmpty) grams.select("h").limit(0)
      else {
        val idx = graft.core.StoreTable.read(spark,
          touched.map(b => s"$path/grams/bucket=$b").toSeq, None)
        // half-landed-ingest tripwire: a keeper above the persisted
        // watermark means a previous ingest appended grams but crashed
        // before advancing params — deduping against them would wrongly
        // mark this batch's own (or the crashed batch's) grams. Detection
        // is bounded to the buckets read anyway; a re-run of the crashed
        // batch reliably lands here because its own leftover grams are
        // bloom hits.
        val stale = idx.filter(col("keeper") > indexedMax).limit(1).count()
        require(stale == 0L,
          s"SpanIndex.ingest: index at $path holds grams above the persisted " +
            s"watermark ($indexedMax) — a previous ingest crashed between the " +
            "gram append and the watermark write. Rebuild with SpanIndex.write " +
            "or remove the partial batch's gram files before ingesting")
        maybes.join(idx.select("h"), Seq("h"), "left_semi").select("h")
      }
    val inIndexPinned = graft.core.Lineage.pin(inIndex)
    // marked-in-index: EVERY batch occurrence of an indexed gram loses
    // (the keeper is an earlier doc by the watermark)
    val markedVsIndex = grams.join(inIndexPinned, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    // marked-in-batch: grams NEW to the index but shared by ≥ 2 batch
    // docs — min batch doc keeps. One-pass window marking (the
    // [[SpanDedup.dedupSpans]] shape): the newGrams anti-join used to be
    // evaluated twice (aggregate side + join-back probe side); now once.
    val newGrams = grams.join(inIndexPinned, Seq("h"), "left_anti")
    val markedInBatch = newGrams
      .withColumn("_keeper", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("doc_id") =!= col("_keeper"))
      .select(col("doc_id"), col("pos"))
    val result = SpanDedup.removeCovered(docs,
      markedVsIndex.unionByName(markedInBatch), k)
    // Persist in bloom -> grams -> params order. Bloom FIRST: a bloom
    // entry without its gram row only sends a future probe to
    // verification, which finds nothing and correctly treats the gram as
    // new — so a crash between bloom and grams is fully self-healing
    // (re-running the batch reproduces the same result and appends the
    // missing rows). The reverse order would leave grams the bloom never
    // admits: invisible to every future membership check AND to the
    // tripwire. A crash between grams and params is the window the
    // keeper>watermark tripwire above catches — reliably, because the
    // already-written bloom routes the re-run's grams into verification.
    val newDistinct = graft.core.Lineage.pin(
      newGrams.groupBy("h").agg(min(col("doc_id")).as("keeper"))
        .withColumn("bucket", bucketCol(col("h"), nbuckets)))
    val newBloom = BloomSketch.build(newDistinct, col("h"), bits, hashes)
    swapBloom(spark, path, BloomSketch.merge(sketch.unionByName(newBloom)))
    // batch-sized append (IndexCompact.coalesceForAppend): newDistinct is
    // pinned, so the count is a cached-block scan, and a small batch
    // writes ONE file per touched bucket instead of one per (task, bucket)
    IndexCompact.coalesceForAppend(newDistinct, newDistinct.count())
      .write.mode("append").partitionBy("bucket").parquet(s"$path/grams")
    if (!batchRange.isNullAt(1))
      graft.core.AtomicDir.writeRecord(spark, s"$path/params",
        p.copy(maxId = math.max(indexedMax, batchRange.getLong(1))).fields)
    result
  }
}
