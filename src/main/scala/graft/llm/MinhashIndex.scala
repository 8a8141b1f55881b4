package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent MinHash-LSH index for INCREMENTAL near-dedup — the daily-ingest
  * shape: the corpus is LSH'd once and saved; each new batch is banded and
  * joined against the saved buckets. Re-LSHing a 100 TB corpus per ingest
  * batch is a non-starter; querying the index costs
  * O(|batch| + matched buckets) instead.
  *
  * Layout under `path` (all parquet, partition-friendly):
  *  - `bands/`    — (_band, _bucket, _id): the corpus band buckets, bucket
  *                  size capped at build time (a >cap bucket is boilerplate;
  *                  keeping `cap` deterministic members preserves match-any
  *                  semantics for dedup while bounding query fan-out — the
  *                  same recall trade the self-join path's star links make).
  *  - `shingles/` — (_id, _sh): hashed shingle sets for exact Jaccard
  *                  verification of candidates.
  *  - `exact/`    — (_fp, _id): xxhash64 of the raw text per corpus doc.
  *                  Queries drop exact copies via this table FIRST (a batch-
  *                  sized join on an 8-byte key), so verbatim duplicates are
  *                  caught with probability 1 regardless of any LSH cap —
  *                  caps only ever trade recall on genuine NEAR-dups.
  *  - `params/`   — one JSON row pinning (shingleLen, bands, rowsPerBand,
  *                  maxBucketSize); queries READ these instead of trusting
  *                  caller arguments, so index and query banding can never
  *                  drift.
  *
  * Reference arc-jupyter has no incremental dedup (SURVEY.md §2); this is a
  * scale-path extension composing the same engine as `Dedup.minhashPairs`.
  */
object MinhashIndex extends IndexStore {
  val storeType = "minhash"

  /** `_p = pmod(_id, idPartitions)`, the geometry persisted in `params/`
    * — read by a delete only, so the shingles/exact takedown computes its
    * touched directories from the ids with zero table IO. */
  private val idPartition: (SparkSession, String) => Column => Column =
    (spark, path) => {
      val p = Params(graft.core.AtomicDir.readRecord(spark, s"$path/params"))
      id => pmod(id, lit(p.idPartitions))
    }

  /** `bands` keys on `_band` (not id-derived), so its takedown discovery
    * takes one column-pruned scan. Delete order bands → shingles → exact:
    * a failure between tables leaves the doc matching through the
    * exact/shingle tiers until the re-run. */
  val tables: Seq[IndexTable] = Seq(
    IndexTable("bands", "_id", "_band"),
    IndexTable("shingles", "_id", "_p", Some(idPartition)),
    IndexTable("exact", "_id", "_p", Some(idPartition)))

  /** The shingles/exact tables partition by `pmod(_id, idPartitions)` —
    * an id-DERIVED layout, so [[delete]] computes a takedown's touched
    * directories from the ids with zero table IO (the bands table keys
    * on `_band` and takes a scan instead). The count is chosen at WRITE
    * time from the corpus size (guide §6: partition counts derive from
    * data, not a constant) and persisted in `params/` — every later
    * ingest/delete reads it from there, so index and layout can never
    * drift. Sizing: ~128k docs per directory keeps production partitions
    * in the hundreds-of-MB range, while a battery-sized corpus gets the
    * 4-directory floor — small enough that every table open stays under
    * Spark's parallel-partition-discovery threshold (32 directories; a
    * 64-dir layout made every open of these tables launch a distributed
    * listing job, and the lifecycle batteries open them dozens of times
    * per run). Under that threshold an open runs no job at all: the
    * tables open through [[graft.core.StoreTable]], which also skips the
    * schema-inference job. Changing a store's layout: rebuild with
    * [[write]]. */
  private val autoDocsPerPartition = 1L << 17
  private def autoIdPartitions(rows: Long): Long =
    math.min(1L << 16,
      math.max(4L, (rows + autoDocsPerPartition - 1) / autoDocsPerPartition))

  /** Build and save the index over `df`. Overwrites `path`. Ids must be
    * non-negative (the [[ingest]] watermark contract). Layout note: the
    * three tables are Hive-partitioned (`bands` by `_band`, `shingles` /
    * `exact` by an id-derived `_p`) so ingest appends land in partition
    * directories [[IndexCompact]] can maintain.
    */
  def write(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleLen: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = 256
  ): Unit = {
    val spark = df.sparkSession
    val numHashes = bands * rowsPerBand
    // id validation BEFORE any destructive write: an abort mid-rebuild must
    // not leave new bands/shingles next to old exact/params (a banding
    // mismatch reads silently wrong). The same aggregate carries the row
    // count that sizes the id-partition layout — no extra job.
    val idRange = df.agg(min(col(idCol).cast("long")), max(col(idCol).cast("long")),
      count(lit(1))).head()
    require(idRange.isNullAt(0) || idRange.getLong(0) >= 0L,
      s"MinhashIndex.write: corpus ids must be non-negative, found ${idRange.get(0)}")
    val idPartitions = autoIdPartitions(idRange.getLong(2))
    // The shingle+signature pass is the expensive part and feeds TWO write
    // jobs (bands + shingles); persist so the corpus is read and hashed once,
    // spilling to disk if it outgrows memory.
    val withSig = df
      .select(col(idCol).cast("long").as("_id"),
        Dedup.hashedShingles(col(textCol), shingleLen).as("_sh"))
      .filter(size(col("_sh")) > 0)
      .withColumn("_sig", Dedup.minhashSignature(col("_sh"), numHashes))
      .repartition(col("_id")) // materialize (_sh, _sig) once — see minhashPairs
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val banded = withSig.select(
        col("_id"),
        posexplode(Dedup.bandKeys(col("_sig"), bands, rowsPerBand)).as(Seq("_band", "_bucket")))
      // Cap order = hash of the id: an unbiased DETERMINISTIC sample of each
      // bucket. Ordering by raw _id would keep the same lowest-id docs in
      // every hot bucket — systematically correlated, so a query doc's own
      // identical-text group would be crowded out of every bucket at once.
      val capped = banded
        .withColumn("_rn",
          row_number().over(
            Window.partitionBy("_band", "_bucket").orderBy(xxhash64(col("_id")), col("_id"))))
        .filter(col("_rn") <= maxBucketSize)
        .drop("_rn")
      capped.write.mode("overwrite").partitionBy("_band").parquet(s"$path/bands")
      withSig.select(col("_id"), col("_sh"), pmod(col("_id"), lit(idPartitions)).as("_p"))
        .write.mode("overwrite").partitionBy("_p").parquet(s"$path/shingles")
    } finally withSig.unpersist()
    df.select(xxhash64(col(textCol)).as("_fp"), col(idCol).cast("long").as("_id"))
      .withColumn("_p", pmod(col("_id"), lit(idPartitions)))
      .write.mode("overwrite").partitionBy("_p").parquet(s"$path/exact")
    graft.core.AtomicDir.writeRecord(spark, s"$path/params",
      Params(shingleLen, bands, rowsPerBand, maxBucketSize,
        if (idRange.isNullAt(1)) -1L else idRange.getLong(1), idPartitions).fields)
  }

  /** The `params/` record ([[graft.core.AtomicDir.writeRecord]]). */
  private case class Params(shingleLen: Int, bands: Int, rowsPerBand: Int,
      maxBucketSize: Int, maxId: Long, idPartitions: Long) {
    def fields: Seq[(String, Any)] = Seq("shingleLen" -> shingleLen,
      "bands" -> bands, "rowsPerBand" -> rowsPerBand,
      "maxBucketSize" -> maxBucketSize, "maxId" -> maxId,
      "idPartitions" -> idPartitions)
  }
  private object Params {
    def apply(r: graft.core.AtomicDir.Record): Params = Params(
      r.long("shingleLen").toInt, r.long("bands").toInt,
      r.long("rowsPerBand").toInt, r.long("maxBucketSize").toInt,
      // pre-watermark indexes read as -1: the first ingest then persists a
      // real maxId (ids are non-negative, so the check passes trivially once)
      r.long("maxId", -1L),
      // pre-adaptive-layout stores were written with the fixed 64-way
      // pmod layout; reading them keeps that geometry
      r.long("idPartitions", 64L))
  }

  /** Exact-copy matches via the fingerprint table: (new_id, corpus_id, 1.0).
    * A batch-sized equi-join on an 8-byte key — no LSH involved, so exact
    * duplicates are found with probability 1 at any cap setting.
    */
  def exactMatches(newDf: DataFrame, idCol: String, textCol: String, path: String): DataFrame = {
    val corpusFp = graft.core.StoreTable.read(newDf.sparkSession, s"$path/exact")
    newDf
      .select(col(idCol).cast("long").as("new_id"), xxhash64(col(textCol)).as("_fp"))
      .join(corpusFp, Seq("_fp"))
      .select(col("new_id"), col("_id").as("corpus_id"), lit(1.0).as("jaccard"))
  }

  /** Near-duplicate matches of `newDf` against the saved corpus:
    * (new_id, corpus_id, jaccard), jaccard ≥ threshold. Banding parameters
    * come from the index itself. Tiered: exact copies come from the
    * fingerprint table (always found), near-dups from the capped LSH query.
    *
    * `maxCandidatesPerDoc` bounds exact-Jaccard verifications per new doc
    * (deterministic hash-ordered choice among bucket-mates): a new doc
    * landing in a boilerplate-heavy cluster would otherwise verify against
    * every capped bucket member in every band — measured 4× of query cost at
    * the 400k probe. True near-dups share most buckets, so the caps cost
    * recall only for at-threshold pairs in hot clusters (same trade as
    * Dedup.bucketCandidates' star links); exact copies are exempt via the
    * fingerprint tier, and for ingest DEDUP any one match suffices.
    */
  def matches(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      threshold: Double = 0.8,
      maxCandidatesPerDoc: Int = 64
  ): DataFrame =
    exactMatches(newDf, idCol, textCol, path)
      .unionByName(lshMatches(newDf, idCol, textCol, path, threshold, maxCandidatesPerDoc))
      .dropDuplicates("new_id", "corpus_id")

  private def lshMatches(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      threshold: Double,
      maxCandidatesPerDoc: Int
  ): DataFrame = {
    val spark = newDf.sparkSession
    val p = Params(graft.core.AtomicDir.readRecord(spark, s"$path/params"))
    val numHashes = p.bands * p.rowsPerBand
    val signed = newDf
      .select(col(idCol).cast("long").as("_nid"),
        Dedup.hashedShingles(col(textCol), p.shingleLen).as("_nsh"))
      .filter(size(col("_nsh")) > 0)
      .withColumn("_sig", Dedup.minhashSignature(col("_nsh"), numHashes))
    // the signatures are computed once: a request-sized batch on the
    // driver (the projection folds into a local batch with no job),
    // anything larger in one shuffle
    val once = graft.core.Local.collectUpTo(signed, IndexStore.BatchRows, IndexStore.BatchBytes)
      .map(rows => graft.core.Local.relation(spark, signed.schema, rows.toSeq))
      .getOrElse(signed.repartition(col("_nid")))
    lshMatchesSigned(spark, once, path, threshold, maxCandidatesPerDoc, p)
  }

  /** [[lshMatches]] over a PRE-SIGNED batch — (_nid, _nsh, _sig) already
    * computed and materialized by the caller. [[ingest]] shares ONE
    * shingle+signature pass across the exact tier, this probe, the
    * batch-internal pairs and the appends; the query path wraps it above. */
  private def lshMatchesSigned(
      spark: SparkSession,
      signed: DataFrame,
      path: String,
      threshold: Double,
      maxCandidatesPerDoc: Int,
      p: Params
  ): DataFrame = {
    val corpusBands = graft.core.StoreTable.read(spark, s"$path/bands")
    val corpusSh = graft.core.StoreTable.read(spark, s"$path/shingles")
    val newSig = signed.filter(size(col("_nsh")) > 0)
    val newBands = newSig.select(
      col("_nid"),
      posexplode(Dedup.bandKeys(col("_sig"), p.bands, p.rowsPerBand)).as(Seq("_band", "_bucket")))
    // The per-doc cap alone is not enough: in a boilerplate-heavy corpus a
    // whole batch lands in the SAME hot buckets, and batch×bucketCap×bands
    // candidate rows exist before any per-doc window can prune them
    // (measured: a 40k batch against the 400k templated probe corpus built
    // ~80M candidate rows — the query cost 4.5× the index BUILD). So corpus
    // bucket membership is first shrunk per (band, bucket) to the per-band
    // share of the candidate budget — one window over the bands table the
    // join shuffles anyway. Normal buckets are smaller than the share and
    // keep full membership; hot buckets degrade to deterministic
    // representatives, the same trade bucket capping already makes.
    val perBandCap = math.max(1, math.ceil(maxCandidatesPerDoc.toDouble / p.bands).toInt)
    val corpusBandsCapped = corpusBands
      .withColumn("_qrn", row_number().over(
        Window.partitionBy("_band", "_bucket").orderBy(xxhash64(col("_id")), col("_id"))))
      .filter(col("_qrn") <= perBandCap)
      .drop("_qrn")
    // candidates: ids only ride the band join; pairs dedupe BEFORE the
    // shingle fetch (a pair colliding in k bands pays the Jaccard once);
    // the per-doc window then enforces the exact budget over ≤ bands ×
    // perBandCap ≈ maxCandidatesPerDoc rows per doc
    val cand = newBands
      .join(corpusBandsCapped, Seq("_band", "_bucket"))
      .select(col("_nid"), col("_id"))
      .distinct()
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_nid").orderBy(xxhash64(col("_nid"), col("_id")))))
      .filter(col("_rn") <= maxCandidatesPerDoc)
      .drop("_rn")
    cand
      .join(newSig.select(col("_nid"), col("_nsh")), Seq("_nid"))
      .join(corpusSh, Seq("_id"))
      .select(
        col("_nid").as("new_id"),
        col("_id").as("corpus_id"),
        Dedup.jaccard(col("_nsh"), col("_sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Rows of `newDf` with NO near-duplicate in the indexed corpus — the
    * ingest filter. Tiered: the exact-fingerprint anti-join runs FIRST, so
    * verbatim copies never reach the LSH query (they are both the most
    * common duplicate class in real ingest and the ones that made hot
    * clusters hot), then the capped LSH pass filters the remainder.
    */
  def dedupAgainst(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      threshold: Double = 0.8,
      maxCandidatesPerDoc: Int = 64
  ): DataFrame = {
    val exactLosers = exactMatches(newDf, idCol, textCol, path)
      .select(col("new_id").cast("long").as(idCol)).distinct()
    val survivors = newDf.join(exactLosers, Seq(idCol), "left_anti")
    val nearLosers = lshMatches(survivors, idCol, textCol, path, threshold, maxCandidatesPerDoc)
      .select(col("new_id").cast("long").as(idCol))
      .distinct()
    survivors.join(nearLosers, Seq(idCol), "left_anti")
  }

  /** [[dedupAgainst]] PLUS batch-internal single-link dedup PLUS appending
    * the survivors' band/shingle/fingerprint rows — so the next batch is
    * deduped against this one too, instead of against a stale corpus until
    * a full rebuild. Returns the surviving batch rows.
    *
    * Semantics: a batch doc dies iff it (a) exactly or nearly matches the
    * indexed corpus, or (b) nearly matches a LOWER-id doc of the same
    * batch, or (c) is a verbatim copy of a lower-id batch doc — i.e. the
    * single-link keep-lowest rule of [[Dedup.minhashDedup]] applied to
    * (corpus ∪ batch), which MinhashIndexSpec pins as exactly the one-shot
    * result on clique-shaped duplicate groups. (A batch doc whose ONLY
    * near-match is a doc an earlier ingest dropped survives here, where a
    * one-shot would drop it — the standard survivor-index trade; the same
    * recall caveat as the LSH caps.)
    *
    * Batch ids must be strictly above every indexed id (persisted maxId
    * watermark, [[SemIndex]] discipline) — fails fast otherwise. Crash
    * window: appends land before the watermark advances; discard the
    * returned frame and rebuild (or remove the partial appends) after a
    * crashed ingest.
    *
    * Layout caveat: the id-partition count is fixed when the store is
    * written (sized from that corpus, persisted in `params/`), and ingest
    * never re-derives it. A store bootstrapped small and grown by daily
    * ingest keeps the floor of 4 `_p` directories, so each directory grows
    * without bound and a later takedown rewrites whole multi-GB
    * directories per touched partition. Rebuild with [[write]] once the
    * corpus has outgrown its layout.
    */
  def ingest(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      threshold: Double = 0.8,
      maxCandidatesPerDoc: Int = 64
  ): DataFrame = {
    val spark = newDf.sparkSession
    val p = Params(graft.core.AtomicDir.readRecord(spark, s"$path/params"))
    val bandsDir = new org.apache.hadoop.fs.Path(s"$path/bands")
    val fs = bandsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pre-partitioned-layout guard: the OLD layout stored loose part files
    // directly under bands/ — appending partitioned data there would mix
    // layouts. An empty partitioned table (every corpus doc shorter than
    // shingleLen) has no loose files and is fine to ingest into.
    require(fs.exists(bandsDir) && !fs.listStatus(bandsDir).exists(s =>
        s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".")),
      s"MinhashIndex.ingest: index at $path uses the pre-partitioned layout — " +
        "rebuild with MinhashIndex.write before ingesting")
    val batchRange = newDf.agg(
      min(col(idCol).cast("long")), max(col(idCol).cast("long"))).head()
    require(batchRange.isNullAt(0) || batchRange.getLong(0) > p.maxId,
      s"MinhashIndex.ingest: batch ids must be strictly above every indexed id " +
        s"(max indexed = ${p.maxId}, batch min = ${batchRange.get(0)}) — " +
        "renumber the batch or rebuild with MinhashIndex.write")
    // half-landed-ingest tripwire (the SpanIndex discipline): fingerprint
    // rows above the persisted watermark mean a previous ingest appended
    // but crashed before advancing params — re-running that batch would
    // silently exact-match every doc against its own half-landed rows and
    // report ~zero survivors. Cheap: _id is parquet-stats-prunable, so
    // row groups below the watermark skip without reading.
    val stale = graft.core.StoreTable.read(spark, s"$path/exact")
      .filter(col("_id") > p.maxId).limit(1).count()
    require(stale == 0L,
      s"MinhashIndex.ingest: index at $path holds rows above the persisted " +
        s"watermark (${p.maxId}) — a previous ingest crashed between its " +
        "appends and the watermark write. Rebuild with MinhashIndex.write " +
        "or remove the partial batch's rows before ingesting")
    val numHashes = p.bands * p.rowsPerBand
    // ONE shingle+signature pass over the batch, pinned: the exact tier,
    // the LSH probe, the batch-internal pairs AND the appends all read
    // these columns — the previous formulation recomputed the shingle
    // hashing three times and the numHashes-way signature twice per batch
    // doc, the dominant per-row compute of an ingest at production batch
    // sizes (guide §1.2: per-task work, computed once).
    val batchAll = graft.core.Lineage.pin(
      newDf.select(col(idCol).cast("long").as("_nid"),
          xxhash64(col(textCol)).as("_fp"),
          Dedup.hashedShingles(col(textCol), p.shingleLen).as("_nsh"))
        .withColumn("_sig",
          when(size(col("_nsh")) > 0,
            Dedup.minhashSignature(col("_nsh"), numHashes))))
    // (a) vs the index — exact-fingerprint tier first ([[dedupAgainst]]'s
    // shape). The LSH probe runs over EVERY batch doc rather than the
    // exact tier's survivors: a doc the exact tier killed contributes
    // probe rows the final anti-join discards, and the per-doc candidate
    // caps are per-doc windows — the loser UNION is identical either way.
    val exactLosersIdx = batchAll
      .join(graft.core.StoreTable.read(spark, s"$path/exact").select("_fp"), Seq("_fp"), "left_semi")
      .select(col("_nid").as(idCol))
    val nearLosersIdx = lshMatchesSigned(spark,
        batchAll.select(col("_nid"), col("_nsh"), col("_sig")),
        path, threshold, maxCandidatesPerDoc, p)
      .select(col("new_id").as(idCol))
    // (b) batch-internal near-dups, same banding as the index (the
    // [[Dedup.minhashPairsFromHashedShingles]] pipeline over the pinned
    // signatures); (c) batch-internal verbatim copies (catches
    // shingle-empty short docs too)
    val bandedAll = batchAll.filter(size(col("_nsh")) > 0)
      .select(col("_nid").as("_id"),
        posexplode(Dedup.bandKeys(col("_sig"), p.bands, p.rowsPerBand))
          .as(Seq("_band", "_bucket")))
    val shingleSets = batchAll.select(col("_nid"), col("_nsh"))
    val nearLosersBatch = Dedup
      .bucketCandidates(bandedAll, Seq("_band", "_bucket"), "_id", p.maxBucketSize)
      .join(shingleSets.select(col("_nid").as("idA"), col("_nsh").as("_shA")), Seq("idA"))
      .join(shingleSets.select(col("_nid").as("idB"), col("_nsh").as("_shB")), Seq("idB"))
      .filter(Dedup.jaccard(col("_shA"), col("_shB")) >= threshold)
      .select(col("idB").cast("long").as(idCol))
    val exactLosersBatch = batchAll
      .withColumn("_min", min(col("_nid")).over(Window.partitionBy("_fp")))
      .filter(col("_nid") =!= col("_min"))
      .select(col("_nid").as(idCol))
    val survivors = graft.core.Lineage.pin(
      newDf.join(
        exactLosersIdx.unionByName(nearLosersIdx)
          .unionByName(nearLosersBatch).unionByName(exactLosersBatch)
          .distinct(),
        Seq(idCol), "left_anti"))
    // append the survivors' rows in the write() layout — shingles and
    // signatures read back from the pinned batch pass, never recomputed
    val withSig = graft.core.Lineage.pin(
      batchAll
        .join(survivors.select(col(idCol).cast("long").as("_nid")),
          Seq("_nid"), "left_semi")
        .filter(size(col("_nsh")) > 0)
        .select(col("_nid").as("_id"), col("_nsh").as("_sh"), col("_sig")))
    val banded = withSig.select(
      col("_id"),
      posexplode(Dedup.bandKeys(col("_sig"), p.bands, p.rowsPerBand)).as(Seq("_band", "_bucket")))
    // batch-sized appends (IndexCompact.coalesceForAppend): withSig is
    // pinned, so the count is a cached-block scan, and a small daily batch
    // writes ONE file per touched partition dir instead of one per
    // (task, dir) pair
    val nSig = withSig.count()
    // cap within the batch's own contribution; a bucket can exceed the cap
    // across many ingests, but the query side re-caps per (band, bucket)
    // anyway (lshMatches' perBandCap window)
    IndexCompact.coalesceForAppend(
      banded
        .withColumn("_rn", row_number().over(
          Window.partitionBy("_band", "_bucket").orderBy(xxhash64(col("_id")), col("_id"))))
        .filter(col("_rn") <= p.maxBucketSize)
        .drop("_rn"),
      nSig * p.bands)
      .write.mode("append").partitionBy("_band").parquet(s"$path/bands")
    IndexCompact.coalesceForAppend(
      withSig.select(col("_id"), col("_sh"), pmod(col("_id"), lit(p.idPartitions)).as("_p")),
      nSig)
      .write.mode("append").partitionBy("_p").parquet(s"$path/shingles")
    IndexCompact.coalesceForAppend(
      batchAll
        .join(survivors.select(col(idCol).cast("long").as("_nid")),
          Seq("_nid"), "left_semi")
        .select(col("_fp"), col("_nid").as("_id"))
        .withColumn("_p", pmod(col("_id"), lit(p.idPartitions))),
      nSig)
      .write.mode("append").partitionBy("_p").parquet(s"$path/exact")
    if (!batchRange.isNullAt(1))
      graft.core.AtomicDir.writeRecord(spark, s"$path/params",
        p.copy(maxId = math.max(p.maxId, batchRange.getLong(1))).fields)
    survivors
  }
}
