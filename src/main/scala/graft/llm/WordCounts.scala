package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent word-frequency table — the trainable state ALL THREE
  * tokenizers consume (`Bpe.trainFromCounts`, `Unigram.trainFromCounts`,
  * `WordPiece.trainFromCounts` each take a (word, cnt) table) and the
  * cheapest corpus statistic worth keeping warm between batches.
  *
  * Counts are exact integers, so the incremental contract is exact (the
  * [[NaiveBayes.merge]] / index-ingest discipline): `write(A); ingest(B)`
  * leaves on disk EXACTLY the counts of A ∪ B — retraining a tokenizer
  * after a daily batch costs one pass over the BATCH plus a vocab-bounded
  * driver loop, never a pass over the historical corpus.
  *
  * Scale shape: counting is ONE map-side-combined aggregate (output
  * vocabulary-shaped, never corpus-shaped); ingest unions the persisted
  * table (vocab-shaped) with the batch's counts and re-aggregates — the
  * historical TEXT never re-reads. [[topWords]] caps the driver collection
  * with the salted bounded top-k ([[Unigram.train]]'s maxWords
  * discipline). Layout: `path/counts` parquet, whole-directory
  * [[graft.core.AtomicDir]] swap — a crash mid-write leaves the previous
  * complete table live; re-run the ingest.
  *
  * Word segmentation is the engine-wide `\s+` contract
  * ([[Bpe.wordCounts]]), so the persisted table, every tokenizer's
  * training input and a DuckDB `string_split_regex` oracle all segment
  * identically — the q201 battery entry runs the write+ingest ≡ one-shot
  * contract under the FULL cross-engine oracle.
  *
  * Single-writer discipline (as for every persisted store here): ingest is
  * read-merge-swap, so two CONCURRENT ingests can lose one batch's counts
  * (classic lost update). Serialize ingests per path — the daily-batch
  * cadence this exists for does that naturally.
  */
object WordCounts {

  /** Replace the table at `path` with `df`'s word counts. */
  def write(df: DataFrame, textCol: String, path: String): Unit =
    writeCounts(Bpe.wordCounts(df, textCol), path)

  private def writeCounts(counts: DataFrame, path: String): Unit = {
    val spark = counts.sparkSession
    // pin BEFORE sizing: the count and the write must not each re-run the
    // corpus aggregation (and on ingest, pinning also means the swap never
    // overwrites a directory the write is still reading from)
    val pinned = graft.core.Lineage.pin(counts)
    graft.core.AtomicDir.swap(spark, path) { tmp =>
      // vocab-shaped, not corpus-shaped: a handful of files suffices and
      // keeps the read side metadata-light across many ingests
      IndexCompact.coalesceForAppend(pinned, pinned.count())
        .write.mode("overwrite").parquet(s"$tmp/counts")
    }
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    graft.core.AtomicDir.recoverLive(spark, path)
    graft.core.StoreTable.read(spark, s"$path/counts")
  }

  /** Fold a batch in by exact count addition: afterwards the table equals
    * `write(A ∪ B)`'s, byte-for-byte. Returns the merged table re-read
    * from the live path. */
  def ingest(batch: DataFrame, textCol: String, path: String): DataFrame = {
    val spark = batch.sparkSession
    val merged = read(spark, path)
      .unionByName(Bpe.wordCounts(batch, textCol))
      .groupBy("word").agg(sum("cnt").as("cnt"))
    writeCounts(merged, path)
    read(spark, path)
  }

  /** Exact takedown for the count table — the inverse of [[ingest]], the
    * right-to-be-forgotten step the index tiers got in
    * [[IndexCompact.deleteMatching]], here for the trainable state: counts
    * are integers, so subtraction is exact — `write(A); ingest(B);
    * delete(B)` (equivalently `write(A ∪ B); delete(B)`) leaves on disk
    * EXACTLY `write(A)`'s table, and a tokenizer retrained from it has
    * never seen the deleted documents' words.
    *
    * The batch must be a SUBSET of what the table counted: any word whose
    * count would go negative fails loudly BEFORE the swap (deleting text
    * that was never written/ingested is operator error, and silently
    * clamping would de-sync the table from the corpus it claims to
    * count). Words whose count reaches exactly zero are DROPPED — the
    * table never grows tombstones, so `delete(B)` after `ingest(B)`
    * really is byte-for-byte `write(A)`. One pass over the BATCH plus a
    * vocab-shaped merge, the same scale shape as [[ingest]]; same
    * single-writer discipline. Returns the table re-read from the live
    * path. */
  def delete(batch: DataFrame, textCol: String, path: String): DataFrame = {
    val spark = batch.sparkSession
    val batchCounts = graft.core.Lineage.pin(Bpe.wordCounts(batch, textCol))
    val merged = subtractedChecked(batchCounts, path)
    writeCounts(merged.filter(col("cnt") > 0), path)
    // evidence AFTER the swap committed ([[IndexCompact.takedownLog]]'s
    // contract); the log lives in a SIBLING dir because the swap replaces
    // the store dir wholesale
    val b = batchCounts
      .agg(count(lit(1)).as("w"), coalesce(sum("cnt"), lit(0L)).as("o")).head()
    graft.core.AuditLog.append(spark, s"${path}_takedown_log",
      Seq("table" -> path, "batchWords" -> b.getLong(0),
        "occurrencesRemoved" -> b.getLong(1)))
    read(spark, path)
  }

  /** The signed merge behind [[delete]]/[[previewDelete]]: table counts
    * minus batch counts, pinned, with the loud not-a-subset check run
    * BEFORE anything could swap. */
  private def subtractedChecked(batchCounts: DataFrame, path: String): DataFrame = {
    val spark = batchCounts.sparkSession
    val merged = graft.core.Lineage.pin(
      read(spark, path)
        .unionByName(batchCounts.select(col("word"), (-col("cnt")).as("cnt")))
        .groupBy("word").agg(sum("cnt").as("cnt")))
    val under = merged.filter(col("cnt") < 0)
      .orderBy("word").limit(5).collect().map(_.getString(0))
    require(under.isEmpty,
      s"WordCounts.delete: batch is not a subset of the table at $path — " +
        s"words occurring more often in the delete batch than in the table " +
        s"(first ${under.length}): ${under.mkString(", ")}. Delete only text " +
        "that was previously written/ingested into this table.")
    merged
  }

  /** [[delete]]'s validation WITHOUT the swap — the dry run behind
    * [[Takedown.preview]]: runs the exact subset check (a violation fails
    * loudly here, before any real run mutates anything) and returns the
    * occurrence count a real delete would remove. Mutates nothing, logs
    * nothing. */
  def previewDelete(batch: DataFrame, textCol: String, path: String): Long = {
    val batchCounts = graft.core.Lineage.pin(Bpe.wordCounts(batch, textCol))
    subtractedChecked(batchCounts, path)
    batchCounts.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
  }

  /** The table's takedown audit trail — one record per completed
    * [[delete]], written only after the swap committed (a crashed delete
    * leaves no record: re-run it). Sibling-dir placement, see
    * [[graft.core.AuditLog]]. */
  def takedownLog(spark: SparkSession, path: String): DataFrame =
    graft.core.AuditLog.read(spark, s"${path}_takedown_log",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("table",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("batchWords",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("occurrencesRemoved",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("runId",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("completedAtMs",
          org.apache.spark.sql.types.LongType))))

  /** The `maxWords` heaviest words (cnt desc, word asc — the tokenizers'
    * deterministic training order), collected bounded: the salted top-k
    * prunes per partition, so a hot vocabulary never funnels through one
    * task and the driver sees at most `maxWords` rows. Feed directly to
    * any `trainFromCounts`. */
  def topWords(spark: SparkSession, path: String, maxWords: Int): Seq[(String, Long)] = {
    require(maxWords > 0, s"maxWords must be positive, got $maxWords")
    graft.operators.TopK.perKeySalted(
        read(spark, path).withColumn("_g", lit(1)),
        Seq("_g"), "cnt", maxWords, descending = true, tiebreak = Seq("word"))
      .select("word", "cnt")
      .orderBy(col("cnt").desc, col("word"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }
}
