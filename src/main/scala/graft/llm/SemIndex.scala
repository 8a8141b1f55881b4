package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental SemDeDup — the [[MinhashIndex]] discipline applied to
  * embedding dedup: [[Dedup.semDedup]] is one-shot (every new batch would
  * re-train KMeans and re-pair the whole corpus), so daily-ingest
  * pipelines persist the quantizer and the KEPT rows once and dedup each
  * new batch against them with O(batch) work.
  *
  * Layout at `path`:
  *   - `centroids/` — the trained coarse quantizer ((halfNorm, list, vec),
  *     the [[IvfIndex]] shape), frozen at build time: batches MUST assign
  *     with the build's centroids or batch and index rows would land in
  *     different clusters and near-dups would never meet.
  *   - `vectors/` — the kept rows (id, vec), partitioned by `_cluster`:
  *     a batch touching 3 clusters reads 3 directories, never the corpus.
  *   - `params/` — tau / maxClusterSize, so query-time semantics cannot
  *     drift from the build.
  *
  * Semantics (corpus-first, the [[MinhashIndex.dedupAgainst]] contract):
  * indexed rows always win — a batch row within `tau` cosine of ANY kept
  * row (directly or through a chain of batch rows) is dropped; among
  * pure-batch duplicate components the minimum id survives. With batch
  * ids above corpus ids this equals one-shot [[Dedup.semDedup]] on the
  * union under the SAME centroids (SemIndexSpec pins it); what the
  * incremental path cannot see is a chain through a row the BUILD already
  * dropped — the build keeps one representative per component, so a batch
  * row near-dup only to a dropped loser (cosine < tau to every kept row)
  * survives. That is the documented approximation, inherent to keeping
  * the index duplicate-free.
  */
object SemIndex extends IndexStore {
  val storeType = "sem"

  /** `_cluster` is assignment-derived, not computable from the id, so a
    * takedown's discovery takes the column-pruned scan. Centroids are
    * never rewritten (the frozen-quantizer contract). */
  val tables: Seq[IndexTable] = Seq(IndexTable("vectors", "id", "_cluster"))

  /** One-shot dedup of `corpus`, persisting quantizer + kept rows to
    * `path` (overwrites). Returns nothing — read back via
    * [[dedupAgainst]]/[[ingest]].
    */
  def write(corpus: DataFrame, idCol: String, vecCol: String, path: String,
      nclusters: Int = 16, tau: Double = 0.95, seed: Long = 42L,
      maxClusterSize: Int = 1024, samplePerCluster: Int = 256): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = Similarity.trainCoarseCentroids(
      corpus, idCol, vecCol, nclusters, seed, samplePerCluster, salt = "semindex-train")
      .sortBy(_._2)
    // pinned: pairsFromAssigned scans the assignment three times
    // (candidates + two vector joins) and the anti-join a fourth —
    // unpinned, each would re-run the full-corpus centroid attach. The
    // same pass enforces the non-negative-id contract the INCREMENTAL
    // path depends on: dedupAgainst encodes index rows as negative
    // sentinels, so a negative id persisted here would conflate with a
    // real batch id later and silently mis-attribute components.
    val assigned = graft.core.Lineage.pin(
      Dedup.assignToCentroids(corpus, idCol, vecCol, cents))
    val idRange = assigned.agg(min(col("_id").cast("long")), max(col("_id").cast("long"))).head()
    require(idRange.isNullAt(0) || idRange.getLong(0) >= 0L,
      s"SemIndex.write: corpus ids must be non-negative, found ${idRange.get(0)}")
    val maxId = if (idRange.isNullAt(1)) -1L else idRange.getLong(1)
    val pairs = Dedup.pairsFromAssigned(assigned, tau, maxClusterSize)
    val losers = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("_lid"))
    assigned
      .join(losers, col("_id") === col("_lid"), "left_anti")
      .select(col("_id").as("id"), col("_v").as("vec"), col("_cluster"))
      .write.mode("overwrite").partitionBy("_cluster").parquet(s"$path/vectors")
    cents.map { case (hn, i, v) => (i, hn, v) }.toDF("list", "halfNorm", "vec")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    // maxId persists the one-shot-equivalence precondition (batch ids
    // strictly above every indexed id): ingest enforces and advances it
    graft.core.AtomicDir.writeRecord(spark, s"$path/params",
      Params(tau, maxClusterSize, maxId).fields)
  }

  /** The `params/` record. It is replaced through
    * [[graft.core.AtomicDir.writeRecord]]: a plain mode("overwrite")
    * deletes the old params/ BEFORE writing the new one, so a crash
    * mid-overwrite would leave params/ empty and the whole index
    * unreadable (tau/maxClusterSize lost). With the swap, params/ holds a
    * complete copy at every instant except the delete→rename gap, and
    * [[graft.core.AtomicDir.readRecord]] completes an interrupted swap
    * from `params_tmp`.
    * Remaining documented window (ingest): a crash AFTER the vectors
    * append but BEFORE the params write leaves a stale watermark, so
    * re-running the same batch passes the disjoint-id check against its
    * own half-landed rows. The re-run then drops every batch row against
    * its own appended copy: the INDEX converges to the correct kept set (the
    * copies are already there, nothing new appends), but the returned
    * survivor frame is empty-ish and must be discarded — take survivors
    * from the index itself (or rebuild) after a crashed ingest.
    */
  private case class Params(tau: Double, maxClusterSize: Int, maxId: Long) {
    def fields: Seq[(String, Any)] =
      Seq("tau" -> tau, "maxClusterSize" -> maxClusterSize, "maxId" -> maxId)
  }
  private object Params {
    def apply(r: graft.core.AtomicDir.Record): Params = Params(
      r.double("tau"), r.long("maxClusterSize").toInt,
      // pre-maxId indexes (older builds) read as -1 → the disjointness check
      // passes trivially once, then the first ingest persists a real maxId
      r.long("maxId", -1L))
  }

  /** Batch rows that survive dedup against the index AND against each
    * other (pure-batch duplicate components keep their minimum id).
    * O(batch): assignment is a narrow broadcast-centroid map, and only the
    * kept rows of the batch's TOUCHED clusters are read (partition-pruned).
    * Batch ids must be non-negative (index rows ride as negative sentinel
    * ids through the component pass so the corpus always wins).
    */
  def dedupAgainst(batch: DataFrame, idCol: String, vecCol: String,
      path: String): DataFrame = {
    val spark = batch.sparkSession
    val Params(tau, maxClusterSize, _) = Params(
      graft.core.AtomicDir.readRecord(spark, s"$path/params"))
    dedupAgainst(batch, idCol, vecCol, Similarity.readCentroids(spark, path),
      tau, maxClusterSize, graft.core.StoreTable.read(spark, s"$path/vectors"))
  }

  /** [[dedupAgainst]] over a store already opened by the caller: its
    * centroids, params and `vectors/` frame ([[ingest]] reads each once).
    * A request-sized batch ([[IndexStore.BatchRows]]) is collected once
    * and everything but the index-side pairs runs on the driver: the
    * assignment folds into the local relation, the batch-internal pairs
    * and the survivors are computed from its rows. The result is a local
    * relation then; above the bound the distributed path runs. */
  private def dedupAgainst(batch: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Double, Int, Seq[Float])], tau: Double, maxClusterSize: Int,
      vectors: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    // the minimum batch id enforces the non-negative-id contract: a
    // negative batch id would conflate with the sentinel encoding of index
    // rows below and silently mis-attribute components
    def checkIds(minId: Option[Long]): Unit = require(minId.forall(_ >= 0L),
      s"SemIndex.dedupAgainst: batch ids must be non-negative, found ${minId.get}")
    def losers(pairs: DataFrame): DataFrame = Dedup.connectedComponents(pairs)
      .filter(col("id") >= 0 && col("id") =!= col("component"))
      .select(col("id").as(idCol))
    graft.core.Local.collectUpTo(batch, IndexStore.BatchRows, IndexStore.BatchBytes) match {
      case Some(rows) =>
        val local = graft.core.Local.relation(spark, batch.schema, rows.toSeq)
        val assignedDf = Dedup.assignToCentroids(local, idCol, vecCol, cents, inline = true)
        val out = assignedDf.withColumn("_lid", col("_id").cast("long")).collect()
        checkIds(out.filterNot(_.isNullAt(3)).map(_.getLong(3)).minOption)
        val assigned = out.toSeq.map(r => org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2)))
        val pairs = crossPairs(graft.core.Local.relation(spark, assignedDf.schema, assigned),
            out.map(_.getInt(2)).distinct.toSeq, vectors, tau, maxClusterSize)
          .unionByName(Dedup.pairsOnDriver(spark, assigned, assignedDf.schema, tau, maxClusterSize))
        // a driver-labelled graph comes back as a local relation: the
        // losers collect without a job, and so does the result
        val lost = losers(pairs).collect().map(_.get(0)).toSeq
        local.filter(col(idCol).isNull || !col(idCol).isin(lost: _*))
          .select((idCol +: batch.columns.filter(_ != idCol)).map(col).toSeq: _*)
      case None =>
        // pinned: the summary below and the pair joins read it; the same
        // cheap pass (pinned blocks, no recompute) takes the minimum id
        val assigned = graft.core.Lineage.pin(
          Dedup.assignToCentroids(batch, idCol, vecCol, cents))
        val summary = assigned
          .agg(collect_set(col("_cluster")).as("_cs"),
            min(col("_id").cast("long")).as("_minId")).head()
        checkIds(if (summary.isNullAt(1)) None else Some(summary.getLong(1)))
        val pairs = crossPairs(assigned, summary.getSeq[Int](0), vectors, tau, maxClusterSize)
          .unionByName(Dedup.pairsFromAssigned(assigned, tau, maxClusterSize)
            .select(col("idA"), col("idB")))
        batch.join(losers(pairs), Seq(idCol), "left_anti")
    }
  }

  /** Batch × kept same-cluster dup edges (batchId, keptId) over the kept
    * rows of the `touched` clusters (the isin filter prunes unread cluster
    * directories). Kept ids enter the component pass as negative sentinels
    * so a mixed component's minimum is ALWAYS an index row (corpus-first
    * semantics). */
  private def crossPairs(assigned: DataFrame, touched: Seq[Int], vectors: DataFrame,
      tau: Double, maxClusterSize: Int): DataFrame = {
    val kept = vectors.filter(col("_cluster").isin(touched.map(Integer.valueOf): _*))
    // deterministic per-cluster cap on the INDEX side (the MinhashIndex
    // bucket-cap discipline): one dense cluster contributes a bounded
    // candidate set, never cluster × batch rows unbounded
    val keptCapped = graft.operators.TopK.perKeySalted(
      kept.withColumn("_h", xxhash64(col("id"))), Seq("_cluster"), "_h",
      maxClusterSize, descending = false, tiebreak = Seq("id"))
      .drop("_h")
    assigned
      .join(keptCapped.select(col("_cluster"), col("id").as("_kid"), col("vec").as("_kv")),
        Seq("_cluster"))
      .filter(Similarity.cosine(col("_v"), col("_kv")) >= tau)
      .select((-col("_kid") - 1).as("idA"), col("_id").as("idB"))
  }

  /** [[dedupAgainst]] + append the survivors to the kept layout, so the
    * NEXT batch deduplicates against them too. Returns the survivors.
    * Fails fast if the layout at `path` does not match this build
    * (the [[IvfIndex.ingest]] mixed-schema guard).
    */
  def ingest(batch: DataFrame, idCol: String, vecCol: String, path: String): DataFrame = {
    val spark = batch.sparkSession
    val vectors = graft.core.StoreTable.read(spark, s"$path/vectors")
    val existing = vectors.schema
    require(existing.fieldNames.toSet == Set("id", "vec", "_cluster"),
      s"SemIndex.ingest: layout at $path has columns " +
        s"${existing.fieldNames.sorted.mkString(",")} — rebuild with " +
        "SemIndex.write before ingesting")
    // TYPES must match too, not just names: appending int ids next to long
    // ids (or float32 next to float64 vectors) leaves mixed parquet footers
    // and footer-dependent reads — the IvfIndex mixed-layout hazard
    val batchIdType = batch.schema(idCol).dataType
    val batchVecType = batch.schema(vecCol).dataType
    // .sql comparison: nullability differences are parquet-compatible —
    // only the physical type matters for footer consistency
    require(existing("id").dataType.sql == batchIdType.sql &&
      existing("vec").dataType.sql == batchVecType.sql,
      s"SemIndex.ingest: index at $path stores (id: ${existing("id").dataType.sql}, " +
        s"vec: ${existing("vec").dataType.sql}) but the batch carries " +
        s"(${batchIdType.sql}, ${batchVecType.sql}) — cast the batch or rebuild")
    val cents = Similarity.readCentroids(spark, path)
    val Params(tau, maxClusterSize, indexedMax) = Params(
      graft.core.AtomicDir.readRecord(spark, s"$path/params"))
    // a request-sized batch is collected once and every step below reads
    // the local relation: the id range and the survivors come back to the
    // driver, and the append's assignment folds into the relation
    val local = graft.core.Local.collectUpTo(batch, IndexStore.BatchRows, IndexStore.BatchBytes)
      .map(rows => graft.core.Local.relation(spark, batch.schema, rows.toSeq))
    val input = local.getOrElse(batch)
    // disjoint-id contract: a batch reusing an indexed id would append a
    // duplicate-id row to vectors/, silently breaking min-id attribution
    // and the one-shot-equivalence pin. Cheap: the batch's id range vs the
    // persisted max — no index scan (no job at all for a local batch).
    val batchIds = local match {
      case Some(rel) => rel.select(col(idCol).cast("long")).collect()
        .filterNot(_.isNullAt(0)).map(_.getLong(0)).toSeq
      case None =>
        val r = batch.agg(min(col(idCol).cast("long")), max(col(idCol).cast("long"))).head()
        if (r.isNullAt(0)) Nil else Seq(r.getLong(0), r.getLong(1))
    }
    require(batchIds.isEmpty || batchIds.min > indexedMax,
      s"SemIndex.ingest: batch ids must be strictly above every indexed id " +
        s"(max indexed = $indexedMax, batch min = ${batchIds.min}) — " +
        "renumber the batch or rebuild with SemIndex.write")
    val found = dedupAgainst(input, idCol, vecCol, cents, tau, maxClusterSize, vectors)
    val (survivors, nSurvivors) = local match {
      case Some(_) =>
        val rows = found.collect()
        (graft.core.Local.relation(spark, found.schema, rows.toSeq), rows.length.toLong)
      case None =>
        val pinned = graft.core.Lineage.pin(found)
        (pinned, pinned.count())
    }
    // batch-sized append (IndexCompact.coalesceForAppend): survivors is
    // local or pinned, so its count is free or a cached-block scan; a
    // small batch writes ONE file per touched cluster dir instead of one
    // per (task, dir)
    IndexCompact.coalesceForAppend(
      Dedup.assignToCentroids(survivors, idCol, vecCol, cents, inline = local.isDefined)
        .select(col("_id").as("id"), col("_v").as("vec"), col("_cluster")),
      nSurvivors)
      .write.mode("append").partitionBy("_cluster").parquet(s"$path/vectors")
    // advance the persisted max so the NEXT batch is checked against this
    // one's ids too (dropped batch ids are consumed — max over the whole
    // batch, not just survivors)
    if (batchIds.nonEmpty)
      graft.core.AtomicDir.writeRecord(spark, s"$path/params",
        Params(tau, maxClusterSize, math.max(indexedMax, batchIds.max)).fields)
    survivors
  }
}
