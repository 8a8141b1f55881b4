package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF index: the repeated-retrieval path for embedding search.
  *
  * [[Similarity.ivfTopK]] trains the coarse quantizer and assigns the whole
  * corpus on EVERY call — right for one-shot joins, wasteful when the same
  * corpus serves query batch after query batch (retrieval-augmented data
  * curation, dedup-against-corpus, eval-set mining). This index pays
  * training + assignment once at [[write]]:
  *
  *  - `path/vectors/` — (id, vec) parquet PARTITIONED BY the inverted-list
  *    id, so a query batch that probes `nprobe` of `nlist` lists reads only
  *    those directories: Spark's partition pruning turns the inverted-file
  *    structure into skipped I/O, no custom reader needed (the same
  *    mechanism as a date-partitioned fact table — this is deliberately a
  *    LAYOUT, not a format).
  *  - `path/centroids/` — (list, halfNorm, vec), `nlist` rows.
  *
  * [[topK]] then: reads the tiny centroid table, ranks each query's
  * `nprobe` nearest lists (narrow map — same argmin_c(0.5‖c‖² − x·c) trick
  * as ivfTopK), prunes the vectors read to the union of probed lists, and
  * reranks candidates exactly (fused native cosine). The only shuffle is
  * the candidates join keyed on list id.
  *
  * With `nprobe = nlist` the probe is exhaustive and the result equals
  * [[Similarity.bruteForceTopK]] exactly (same scoring, same
  * (score desc, id) tiebreak) — IvfIndexSpec pins that equivalence, plus
  * recall under partial probes and the partition-pruned scan.
  */
object IvfIndex extends IndexStore {
  val storeType = "ivf"

  /** All three read tiers — flat, SQ8, PQ — share the vector table, so
    * one delete covers them; `_list` is assignment-derived, so discovery
    * takes the column-pruned scan. Centroids and codebooks are never
    * rewritten (the frozen-quantizer contract). */
  val tables: Seq[IndexTable] = Seq(IndexTable("vectors", "id", "_list"))

  /** Train a KMeans coarse quantizer on a hash-sample of the corpus
    * ([[Similarity.trainCoarseCentroids]] — a few hundred vectors per
    * centroid, never ~10 full-corpus passes) and persist the
    * list-partitioned vectors + centroid table. `nlist` follows the usual
    * √n rule at scale. The full corpus is still scanned exactly once, for
    * the assignment write. Exhaustive-probe exactness is
    * assignment-independent (assignment only shapes which partitions hold
    * which rows), and partial-probe recall depends on centroid QUALITY,
    * which hundreds of samples per centroid already deliver.
    */
  def write(corpus: DataFrame, idCol: String, vecCol: String, path: String,
      nlist: Int = 16, seed: Long = 42L, samplePerList: Int = 256,
      pqSubspaces: Int = 0, pqCodesPerSub: Int = 16,
      pqResidual: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    // (halfNorm, list, vec) — the Similarity centroid-struct shape, sorted
    // by list id so element_at(…, list + 1) lookups are valid everywhere
    val cents = Similarity.trainCoarseCentroids(
      corpus, idCol, vecCol, nlist, seed, samplePerList, salt = "ivf-train")
      .sortBy(_._2)
    import spark.implicits._
    cents.map { case (hn, i, v) => (i, hn, v) }.toDF("list", "halfNorm", "vec")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    // optional PQ codebooks (IVF-PQ, the faiss `IVFx,PQm` layout): trained
    // on the same sampled discipline, persisted so ingest batches encode
    // identically to the build. With `pqResidual` the codebooks quantize
    // (vec − assigned centroid) instead of the raw vector — the faiss
    // default for IVFPQ: residuals concentrate near zero, so the ksub codes
    // per subspace resolve fine within-list structure instead of spending
    // themselves re-describing which cluster a vector sits in.
    val cbs =
      if (pqSubspaces <= 0) None
      else {
        val dim = corpus.select(size(col(vecCol))).head.getInt(0)
        require(dim % pqSubspaces == 0,
          s"dim ($dim) must be divisible by pqSubspaces ($pqSubspaces)")
        val trainSrc =
          if (!pqResidual) corpus.select(col(idCol).as("_tid"), col(vecCol).as("_tvec"))
          else Similarity.attachCentroidData(corpus, cents)
            .withColumn("_list",
              element_at(Similarity.rankedCentroidLists(col(vecCol), col("_cents")), 1)
                .getField("list"))
            .select(col(idCol).as("_tid"),
              residualExpr(col(vecCol), col("_cents"), col("_list")).as("_tvec"))
        val entries = Pq.trainCodebooks(trainSrc, "_tid", "_tvec", dim,
          pqSubspaces, pqCodesPerSub, seed)
        entries.map(e => (e.sub, e.code, e.halfNorm, e.vec, pqResidual))
          .toDF("sub", "code", "halfNorm", "vec", "residual")
          .repartition(1).write.mode("overwrite").parquet(s"$path/pq_codebooks")
        Some((entries, pqSubspaces, dim / pqSubspaces, pqResidual))
      }
    assignAndWrite(corpus, idCol, vecCol, cents, cbs, path, "overwrite")
  }

  /** vec − centroid(list): the PQ-residual input. `centsCol` must be the
    * list-id-ordered `_cents` struct array ([[Similarity.attachCentroidData]]
    * over centroids sorted by list).
    */
  private def residualExpr(vec: Column, centsCol: Column, listCol: Column): Column =
    zip_with(vec,
      element_at(centsCol, listCol + 1).getField("vec"),
      (a, b) => a - b)

  // ONE definition of the vectors layout (column names, assignment, the
  // partition scheme) shared by write and ingest — build and daily append
  // cannot drift apart. Each row also carries its int8 codes ([[Quantize]]
  // symmetric absmax): [[topKQuantized]] shortlists by scanning ONLY the
  // codes column — parquet's columnar layout makes the 4× shrink real I/O
  // savings, not just a smaller cache footprint. When the index was built
  // with PQ codebooks, each row additionally carries its m-entry `pq` codes
  // ([[topKPq]] shortlists over those — a further 4× under the SQ8 column).
  // `inline` attaches the centroids as a literal, for a local batch only
  // ([[Similarity.attachCentroidData]]).
  private def assignAndWrite(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Double, Int, Seq[Float])],
      cbs: Option[(Seq[Pq.CodebookEntry], Int, Int, Boolean)],
      path: String, mode: String, inline: Boolean = false): Unit = {
    val base = cbs match {
      case Some((entries, m, dsub, residual)) =>
        val withList = Similarity.attachCentroidData(df, cents, inline)
          .withColumn("_list",
            element_at(Similarity.rankedCentroidLists(col(vecCol), col("_cents")), 1)
              .getField("list"))
        val pqInput =
          if (residual) residualExpr(col(vecCol), col("_cents"), col("_list"))
          else col(vecCol)
        Pq.attachCodebooks(withList, entries)
          .select(col(idCol).as("id"), col(vecCol).as("vec"),
            Quantize.int8Codes(col(vecCol)).as("codes"),
            Pq.pqCodes(pqInput, col("_cb"), m, dsub).as("pq"),
            Similarity.norm(col(vecCol)).as("vnorm"),
            col("_list"))
      case None =>
        Similarity.attachCentroidData(df, cents, inline)
          .select(col(idCol).as("id"), col(vecCol).as("vec"),
            Quantize.int8Codes(col(vecCol)).as("codes"),
            Similarity.norm(col(vecCol)).as("vnorm"),
            element_at(Similarity.rankedCentroidLists(col(vecCol), col("_cents")), 1)
              .getField("list").as("_list"))
    }
    base.write.mode(mode).partitionBy("_list").parquet(s"$path/vectors")
  }

  /** The persisted PQ codebooks (None for an index built without PQ),
    * plus (m, dsub, residual) derived from the stored entries. Pre-residual
    * indexes lack the `residual` column → raw-vector codes. */
  private def readCodebooks(spark: SparkSession,
      path: String): Option[(Seq[Pq.CodebookEntry], Int, Int, Boolean)] = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/pq_codebooks")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else {
      val raw = graft.core.StoreTable.read(spark, s"$path/pq_codebooks")
      val hasResidual = raw.columns.contains("residual")
      val rows = raw.collect()
      val entries = rows
        .map(r => Pq.CodebookEntry(r.getInt(0), r.getInt(1), r.getDouble(2), r.getSeq[Float](3)))
        .toSeq.sortBy(e => (e.sub, e.code))
      val residual = hasResidual && rows.headOption.exists(_.getBoolean(4))
      val m = entries.map(_.sub).max + 1
      Some((entries, m, entries.head.vec.size, residual))
    }
  }

  /** Assign a new batch against the EXISTING quantizer and append it to the
    * list partitions — the daily-ingest path: O(batch) work, no retraining,
    * no corpus rescan (the [[MinhashIndex.dedupAgainst]] discipline, for
    * retrieval). Centroids drift from the true corpus centroids as the
    * distribution shifts; re-[[write]] when partial-probe recall decays —
    * exhaustive probes stay exact regardless, since assignment only shapes
    * which partitions hold which rows.
    *
    * Duplicate ids are REFUSED, not silently double-indexed: unlike the
    * dedup indexes there is no strictly-increasing id watermark (a
    * retrieval corpus legitimately ingests interleaved id ranges), and
    * appending a second copy of an indexed id would occupy two top-k
    * slots with identical cosine — silent retrieval degradation, the one
    * misuse the dedup tiers' watermark tripwire catches and this index
    * previously did not. Every ingest therefore runs a duplicate probe
    * (column-pruned id scan bounded by the batch's [min, max] — the
    * [[IndexCompact.deleteMatching]] row-group-pruning shape, so an
    * id-clustered index skips most row groups) and fails loudly on
    * overlap. `replace = true` instead TAKES DOWN the overlapping ids
    * first ([[delete]] — the staged crash-safe rewrite, audit-logged like
    * any other removal) and then appends, so re-ingesting refreshed
    * vectors is atomic-per-call rather than a caller-coordinated
    * delete+ingest pair. Replace requires long-castable ids (the takedown
    * contract all four index families share).
    */
  def ingest(newVectors: DataFrame, idCol: String, vecCol: String, path: String,
      replace: Boolean = false): Unit = {
    val spark = newVectors.sparkSession
    val cents = Similarity.readCentroids(spark, path)
    val cbs = readCodebooks(spark, path)
    // Layout guard: appending current-layout rows (vnorm/codes/pq columns)
    // next to files written by an older build would leave the read schema
    // footer-dependent — if Spark picks a new footer, legacy rows read NULL
    // vnorm, their _adc coalesces to 0.0 in topKPq, and old vectors silently
    // vanish from shortlists. Fail fast with a rebuild hint instead; the
    // pre-r12 "unnormalized fallback" contract only holds when NO file has
    // the new columns.
    val vectors = graft.core.StoreTable.read(spark, s"$path/vectors")
    val existingSchema = vectors.schema
    val existing = existingSchema.fieldNames.toSet
    val expected = cbs match {
      case Some(_) => Set("id", "vec", "codes", "pq", "vnorm", "_list")
      case None    => Set("id", "vec", "codes", "vnorm", "_list")
    }
    require(existing == expected,
      s"IvfIndex.ingest: index at $path has columns ${existing.toSeq.sorted.mkString(",")} " +
        s"but this build writes ${expected.toSeq.sorted.mkString(",")} — " +
        "mixed layouts make reads footer-dependent; rebuild the index with " +
        "IvfIndex.write before ingesting")
    // id/vec TYPES must match too (int ids appended next to long ids are
    // the same footer-dependent hazard as a missing column)
    // .sql comparison: nullability differences are parquet-compatible —
    // only the physical type matters for footer consistency
    require(existingSchema("id").dataType.sql == newVectors.schema(idCol).dataType.sql &&
      existingSchema("vec").dataType.sql == newVectors.schema(vecCol).dataType.sql,
      s"IvfIndex.ingest: index at $path stores (id: ${existingSchema("id").dataType.sql}, " +
        s"vec: ${existingSchema("vec").dataType.sql}) but the batch carries " +
        s"(${newVectors.schema(idCol).dataType.sql}, ${newVectors.schema(vecCol).dataType.sql}) " +
        "— cast the batch or rebuild")
    // duplicate tripwire: ONE column-pruned scan, bounded by the batch's
    // pushed [min, max] id range so parquet row-group stats prune it
    import org.apache.spark.sql.functions.{count => cnt, lit, max => fmax, min => fmin}
    val batch = newVectors.select(col(idCol), col(vecCol))
    val local = graft.core.Local.collectUpTo(batch, IndexStore.BatchRows, IndexStore.BatchBytes)
    // (distinct ids, distinct non-NULL ids, the duplicate probe)
    val (n, nonNull, probeDups) = local match {
      case Some(rows) =>
        // a request-sized batch, collected once: the id checks read the
        // rows, the probe carries the ids as an isin literal (pushed to
        // parquet as their [min, max] range past the In-pushdown
        // threshold), and the few duplicates come back as a local relation
        val ids = rows.map(_.get(0)).distinct.toSeq
        (ids.size.toLong, ids.count(_ != null).toLong, () => {
          val probe = vectors.select("id").filter(col("id").isin(ids: _*))
          graft.core.Local.relation(spark, probe.schema, probe.collect().toSeq)
        })
      case None =>
        // the semi join broadcasts whichever side AQE finds small
        val batchIds = graft.core.Lineage.pin(batch.select(col(idCol).as("id")).distinct())
        val bs = batchIds.agg(cnt(lit(1)).as("n"), cnt(col("id")).as("nn"),
          fmin(col("id")).as("lo"), fmax(col("id")).as("hi")).head()
        (bs.getLong(0), bs.getLong(1), () => graft.core.Lineage.pin(
          vectors.select("id")
            .filter(col("id").between(lit(bs.get(2)), lit(bs.get(3))))
            .join(batchIds, Seq("id"), "left_semi")))
    }
    if (n == 0L) {
      // a no-new-vectors day is a NO-OP, not an error — a daily pipeline
      // cell or a streaming foreachBatch must survive an empty trigger
      graft.core.LogBuffer.append(s"IvfIndex.ingest: empty batch for $path — no-op")
      return
    }
    require(nonNull == n, s"IvfIndex.ingest: batch contains NULL $idCol values")
    val dups = probeDups()
    val dupSample = dups.limit(6).collect().map(r => String.valueOf(r.get(0)))
    if (dupSample.nonEmpty && !replace)
      throw new IllegalArgumentException(
        s"IvfIndex.ingest: ${if (dupSample.length > 5) "6+" else dupSample.length.toString} " +
          s"batch id(s) are already indexed at $path (first: " +
          s"${dupSample.take(5).mkString(", ")}) — appending would double-index " +
          "them (two top-k slots, identical cosine, displaced real neighbors). " +
          "Pass replace=true to take the old copies down first, or delete() " +
          "them explicitly.")
    if (dupSample.nonEmpty)
      // staged crash-safe rewrite; the removal lands in the takedown audit
      // log like any other — replace IS a removal plus an append
      delete(spark, path, dups)
    // encode against the PERSISTED codebooks (when present) so appended rows
    // carry pq codes consistent with the build — the layouts cannot drift;
    // a local batch appends the rows it checked, assigned on the driver
    local match {
      case Some(rows) => assignAndWrite(graft.core.Local.relation(spark, batch.schema, rows.toSeq),
        idCol, vecCol, cents, cbs, path, "append", inline = true)
      case None => assignAndWrite(newVectors, idCol, vecCol, cents, cbs, path, "append")
    }
  }

  /** Top-k cosine neighbors for a query batch against the persisted index.
    * Reads only the probed inverted-list partitions. A request-sized batch
    * ([[IndexStore.BatchRows]]) is ranked against the centroids on the
    * driver; a larger one in a pinned distributed pass.
    */
  def topK(queries: DataFrame, queryId: String, queryVec: String, path: String,
      k: Int, nprobe: Int = 2): DataFrame = {
    require(k > 0 && nprobe > 0, s"k/nprobe must be positive, got $k/$nprobe")
    val spark = queries.sparkSession
    val cents = Similarity.readCentroids(spark, path)
    def probes(vec: Column): Column = transform(
      slice(Similarity.rankedCentroidLists(vec, col("_cents")), 1, math.min(nprobe, cents.size)),
      s => s.getField("list"))
    val batch = queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv"))
    // (query, probed list) rows and the batch's probed lists (≤ nlist
    // values): the isin filter below is a partition filter on the vectors
    // layout, so unprobed list directories are never read
    val (q, probed) = graft.core.Local.collectUpTo(batch, IndexStore.BatchRows,
        IndexStore.BatchBytes) match {
      case Some(rows) =>
        // a request-sized batch, collected once: the ranking folds into
        // the local relation on the driver (no job), and the rows ARE the
        // probe — one read of the input, nothing to pin
        val ranked = Similarity.attachCentroidData(
            graft.core.Local.relation(spark, batch.schema, rows.toSeq), cents, inline = true)
          .select(col("query_id"), col("_qv"), probes(col("_qv")).as("_lists"))
          .collect()
        val exploded = ranked.toSeq.flatMap(r =>
          r.getSeq[Int](2).map(l => org.apache.spark.sql.Row(r.get(0), r.get(1), l)))
        (graft.core.Local.relation(spark,
            batch.schema.add("_list", org.apache.spark.sql.types.IntegerType, nullable = false),
            exploded),
          exploded.map(_.getInt(2)).distinct)
      case None =>
        // pinned BEFORE the explode (each query vector stored once, not
        // nprobe times): TWO jobs read this frame (the probed-lists
        // collect and the final join) — an unpinned nondeterministic
        // query input could probe one set of lists but join with another
        // (the Lineage.pin two-jobs-one-frame hazard)
        val qLists = graft.core.Lineage.pin(
          Similarity.attachCentroidData(batch, cents)
            .select(col("query_id"), col("_qv"), probes(col("_qv")).as("_lists")))
        val q = qLists.select(col("query_id"), col("_qv"), explode(col("_lists")).as("_list"))
        (q, q.select("_list").distinct().collect().map(_.getInt(0)).toSeq)
    }
    val candidates = graft.core.StoreTable.read(spark, s"$path/vectors")
      .filter(col("_list").isin(probed.map(Integer.valueOf).toSeq: _*))
      .select(col("id").as("neighbor_id"), col("vec").as("_cv"), col("_list"))
    val scored = candidates
      .join(q, Seq("_list"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("_qv"), col("_cv")).as("score"))
    // salted bounded rerank (operators/TopK.perKeySalted): a bare per-query
    // row_number window would sort one query's ENTIRE candidate set in a
    // single task — with a hot inverted list (skewed corpus) that is an
    // unbounded single-task sort. The salted two-level window splits a hot
    // query's candidates across the shuffle-partition count and stays in
    // codegen (the heap-prune alternative measured 4× slower on 25M narrow
    // candidates at the 400k ScaleProbe); the neighbor_id tiebreak keeps
    // the result EXACTLY the (score desc, neighbor_id) window formulation —
    // the brute-force parity contract is unchanged.
    graft.operators.TopK.perKeySalted(scored, Seq("query_id"), "score", k,
      descending = true, tiebreak = Seq("neighbor_id"))
  }

  /** IVF-SQ8 retrieval: shortlist by INTEGER dot product over the stored
    * int8 codes, then exact-rescore only the shortlist against the float
    * vectors — the standard IVF-flat → IVF-quantized step (faiss
    * `IVF…,SQ8`). Why it wins at scale: the shortlist pass scans ONLY the
    * `codes` column of the probed lists (4× fewer bytes than the float
    * vectors, integer multiplies), and the float vectors are touched for
    * just `shortlistFactor × k` candidates per query via a broadcast join
    * of the (tiny) shortlist.
    *
    * `shortlistFactor` trades recall for speed: the int8 ranking can
    * misorder near-ties, so the shortlist keeps `shortlistFactor × k`
    * candidates before the exact rescore. With a shortlist that covers the
    * whole candidate set and `nprobe = nlist`, the result equals
    * [[Similarity.bruteForceTopK]] exactly (IvfIndexSpec pins it).
    *
    * Requires an index written at r12+ (the `codes` column in the vectors
    * layout).
    */
  def topKQuantized(queries: DataFrame, queryId: String, queryVec: String, path: String,
      k: Int, nprobe: Int = 2, shortlistFactor: Int = 4): DataFrame = {
    require(k > 0 && nprobe > 0, s"k/nprobe must be positive, got $k/$nprobe")
    require(shortlistFactor > 0, s"shortlistFactor must be positive, got $shortlistFactor")
    val spark = queries.sparkSession
    val cents = Similarity.readCentroids(spark, path)
    // pinned for the same two-jobs-one-frame reason as topK; queries carry
    // their own int8 codes so the integer dot is symmetric with the stored
    // corpus codes
    val qLists = graft.core.Lineage.pin(
      Similarity.attachCentroidData(queries, cents)
        .select(
          col(queryId).as("query_id"),
          col(queryVec).as("_qv"),
          Quantize.int8Codes(col(queryVec)).as("_qc"),
          transform(
            slice(Similarity.rankedCentroidLists(col(queryVec), col("_cents")),
              1, math.min(nprobe, cents.size)),
            s => s.getField("list")).as("_lists")))
    val q = qLists.select(col("query_id"), col("_qc"), explode(col("_lists")).as("_list"))
    val probed = q.select("_list").distinct().collect().map(_.getInt(0))
    val listFilter = col("_list").isin(probed.map(Integer.valueOf).toSeq: _*)
    // shortlist pass: codes column only — the narrow integer scan
    val codes = graft.core.StoreTable.read(spark, s"$path/vectors")
      .filter(listFilter)
      .select(col("id").as("neighbor_id"), col("codes").as("_cc"), col("_list"))
    val scoredInt = codes
      .join(q, Seq("_list"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(
          zip_with(col("_qc"), col("_cc"), (a, b) => a.cast("long") * b.cast("long")),
          lit(0L), (acc, x) => acc + x).as("_dot_q"))
    val short = graft.operators.TopK
      .perKeySalted(scoredInt, Seq("query_id"), "_dot_q", k * shortlistFactor,
        descending = true, tiebreak = Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    // exact rescore: float vectors of the shortlist only. The shortlist is
    // ≤ queries × k × shortlistFactor rows — broadcast it against the
    // probed partitions, so the wide float column is read once and never
    // shuffled.
    val vecs = graft.core.StoreTable.read(spark, s"$path/vectors")
      .filter(listFilter)
      .select(col("id").as("neighbor_id"), col("vec").as("_cv"))
    val rescored = vecs
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(qLists.select(col("query_id"), col("_qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("_qv"), col("_cv")).as("score"))
    graft.operators.TopK.perKeySalted(rescored, Seq("query_id"), "score", k,
      descending = true, tiebreak = Seq("neighbor_id"))
  }

  /** IVF-PQ retrieval (faiss `IVFx,PQm`): shortlist by ADC lookup tables
    * over the stored m-entry `pq` codes, then exact-rescore only the
    * shortlist against the float vectors. The shortlist pass scans ONLY the
    * pq column of the probed lists — m small ints per row, a further ~4×
    * under the SQ8 codes and ~32× under the floats at dim=64/m=8 — and each
    * candidate costs m array lookups (the per-query LUT is computed once
    * from the float query and the persisted codebooks). Same contract as
    * [[topKQuantized]]: the shortlist only GATES candidates, scores come
    * from the exact rescore, so a covering shortlist + exhaustive probe
    * equals [[Similarity.bruteForceTopK]] bit-for-bit.
    *
    * Requires an index written with `pqSubspaces > 0`.
    */
  def topKPq(queries: DataFrame, queryId: String, queryVec: String, path: String,
      k: Int, nprobe: Int = 2, shortlistFactor: Int = 4): DataFrame = {
    require(k > 0 && nprobe > 0, s"k/nprobe must be positive, got $k/$nprobe")
    require(shortlistFactor > 0, s"shortlistFactor must be positive, got $shortlistFactor")
    val spark = queries.sparkSession
    val cents = Similarity.readCentroids(spark, path)
    val (cbs, m, dsub, residual) = readCodebooks(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"$path was written without PQ codebooks — rebuild with pqSubspaces > 0"))
    // With residual codes the ADC table approximates dot(q, v − c_list);
    // the exact per-(query, list) term dot(q, c_list) is added back so the
    // shortlist ranks by dot(q, c) + ADC(q, v−c) ≈ dot(q, v). The dots are
    // computed per query BEFORE the explode (while the tiny ordered
    // centroid array is attached) and travel zipped with the list ids —
    // the nlist×dim centroid payload never rides the exploded rows.
    val qLists = graft.core.Lineage.pin(
      Pq.attachCodebooks(Similarity.attachCentroidData(queries, cents), cbs)
        .select(
          col(queryId).as("query_id"),
          col(queryVec).as("_qv"),
          Pq.adcLut(col(queryVec), col("_cb"), m, dsub).as("_lut"),
          graft.functions.Let.bind(
            transform(
              slice(Similarity.rankedCentroidLists(col(queryVec), col("_cents")),
                1, math.min(nprobe, cents.size)),
              s => s.getField("list")),
            lists =>
              zip_with(lists,
                transform(lists, l =>
                  if (residual)
                    Similarity.dot(col(queryVec),
                      element_at(col("_cents"), l + 1).getField("vec"))
                  else lit(0.0)),
                (l, d) => struct(l.as("list"), d.as("qdotc")))).as("_probes")))
    val q = qLists
      .select(col("query_id"), col("_lut"), explode(col("_probes")).as("_p"))
      .select(col("query_id"), col("_lut"),
        col("_p.list").as("_list"), col("_p.qdotc").as("_qdotc"))
    val probed = q.select("_list").distinct().collect().map(_.getInt(0))
    val listFilter = col("_list").isin(probed.map(Integer.valueOf).toSeq: _*)
    // shortlist pass: pq column (+ the scalar vnorm) only — the narrowest
    // scan the layout offers. The ADC dot is divided by the stored vector
    // norm so the shortlist ranks by APPROXIMATE COSINE, consistent with
    // the exact-cosine rescore — a raw-dot shortlist systematically favors
    // large-norm regions of the corpus and starves true neighbors out of
    // tight shortlists (measured: 0.16 → 0.99 recall at factor 2 on a
    // clustered fixture with per-cluster norm spread). Pre-r12 indexes
    // lack vnorm → unnormalized fallback, still rescored exactly.
    val vectorsSchema = graft.core.StoreTable.read(spark, s"$path/vectors").schema
    val hasVnorm = vectorsSchema.fieldNames.contains("vnorm")
    val codes = graft.core.StoreTable.read(spark, s"$path/vectors")
      .filter(listFilter)
      .select(col("id").as("neighbor_id"), col("pq").as("_pq"),
        (if (hasVnorm) col("vnorm") else lit(1.0)).as("_vn"), col("_list"))
    val scoredAdc = codes
      .join(q, Seq("_list"))
      .select(col("query_id"), col("neighbor_id"),
        coalesce(
          (Pq.adcDot(col("_pq"), col("_lut")) + col("_qdotc")) /
            nullif(col("_vn"), lit(0.0)),
          lit(0.0)).as("_adc"))
    val short = graft.operators.TopK
      .perKeySalted(scoredAdc, Seq("query_id"), "_adc", k * shortlistFactor,
        descending = true, tiebreak = Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val vecs = graft.core.StoreTable.read(spark, s"$path/vectors")
      .filter(listFilter)
      .select(col("id").as("neighbor_id"), col("vec").as("_cv"))
    val rescored = vecs
      .join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(qLists.select(col("query_id"), col("_qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("_qv"), col("_cv")).as("score"))
    graft.operators.TopK.perKeySalted(rescored, Seq("query_id"), "score", k,
      descending = true, tiebreak = Seq("neighbor_id"))
  }

  /** Index-freshness monitor: sampled partial-probe recall against brute
    * force over the INDEXED corpus. [[ingest]] batches drift the data away
    * from the quantizer's training distribution, and partial-probe recall
    * decays silently — exhaustive probes stay exact regardless, so nothing
    * else in the index surfaces the decay. Pipelines run this on a small
    * query sample (the brute-force ground truth scans the corpus once per
    * probe — size the sample, not the corpus) and trigger a re-[[write]]
    * when recall drops below their threshold.
    *
    * Returns ONE row: (mode, n_queries, k, nprobe, n_exact, n_hit, recall)
    * where recall = |topK(nprobe) ∩ bruteForce| / |bruteForce| over the
    * sampled queries, matched on (query_id, neighbor_id). With
    * `quantized = true` the probed path is [[topKQuantized]] (mode "sq8"),
    * so the monitor also covers the shortlistFactor recall trade — the SQ8
    * shortlist can drop true neighbors that nprobe alone would keep, and
    * nothing else in the index surfaces that. `pq = true` probes [[topKPq]]
    * (mode "pq") the same way.
    */
  def recallProbe(sampleQueries: DataFrame, queryId: String, queryVec: String,
      path: String, k: Int, nprobe: Int,
      quantized: Boolean = false, shortlistFactor: Int = 4,
      pq: Boolean = false): DataFrame = {
    require(!(quantized && pq), "pick ONE probed path: quantized (sq8) or pq")
    val mode = if (pq) "pq" else if (quantized) "sq8" else "flat"
    recallReport(sampleQueries, queryId, queryVec, path, k,
      Seq(RecallSetting(mode, nprobe, shortlistFactor)))
      .select("mode", "n_queries", "k", "nprobe", "n_exact", "n_hit", "recall")
  }

  /** One recall sweep entry: storage tier (`flat` | `sq8` | `pq`), probe
    * breadth, and (for the quantized tiers) the shortlist factor. */
  final case class RecallSetting(mode: String, nprobe: Int, shortlistFactor: Int = 4) {
    require(mode == "flat" || mode == "sq8" || mode == "pq",
      s"unknown recall mode '$mode' (flat|sq8|pq)")
  }

  /** MAINTENANCE self-probe: partial-probe recall measured on a
    * deterministic hash-sample of the INDEXED vectors themselves — the
    * operational form of [[recallProbe]] for a maintenance cell that has
    * no external query set. [[ingest]] batches drift the corpus away from
    * the frozen quantizer's training distribution and partial-probe
    * recall decays SILENTLY (exhaustive probes stay exact, so no query
    * result ever looks wrong); until now detection meant a human
    * re-running a recall sweep with hand-picked queries. This probes
    * every tier the index carries (flat always; sq8 when the codes
    * column exists; pq when codebooks are persisted), one report row
    * each — [[recallReport]] underneath, so the exact ground truth is
    * computed once for the whole sweep.
    *
    * Sampling is a hash-ORDER top-N over the ids (xxhash64 with a fixed
    * salt): deterministic across runs (re-probing after a re-[[write]]
    * measures the same queries), uniform over the corpus regardless of
    * list assignment — so late-ingested (drifted) regions are sampled in
    * proportion to their corpus share, which is exactly where the decay
    * lives. Cost: one TakeOrdered pass for the sample plus one
    * brute-force pass of sampleSize queries against the corpus — sized
    * by the sample, run in the maintenance window like [[compact]].
    */
  def maintenanceRecall(spark: SparkSession, path: String, k: Int = 10,
      nprobe: Int = 2, sampleSize: Int = 64,
      shortlistFactor: Int = 4): DataFrame = {
    require(sampleSize > 0, s"sampleSize must be positive, got $sampleSize")
    val vectors = graft.core.StoreTable.read(spark, s"$path/vectors")
    val sample = graft.core.Lineage.pin(
      vectors.select(col("id"), col("vec"))
        .orderBy(xxhash64(col("id"), lit("ivf-recall-probe")), col("id"))
        .limit(sampleSize))
    val settings = Seq(RecallSetting("flat", nprobe)) ++
      (if (vectors.schema.fieldNames.contains("codes"))
        Seq(RecallSetting("sq8", nprobe, shortlistFactor)) else Nil) ++
      readCodebooks(spark, path)
        .map(_ => RecallSetting("pq", nprobe, shortlistFactor)).toSeq
    recallReport(sample, "id", "vec", path, k, settings)
  }

  /** The faiss-style recall@k SWEEP — one report row per [[RecallSetting]].
    * The exact brute-force top-k ground truth is computed ONCE and pinned
    * ([[graft.core.Lineage.pin]]): a sweep's whole cost beyond it is one
    * probed retrieval + one semi-join count per setting, not a fresh
    * corpus-wide exact pass each (the naive per-setting formulation
    * measured ~6× this wall time on a 6-entry sweep). Driver-side state is
    * three counts per setting — bounded, never corpus-shaped.
    */
  def recallReport(sampleQueries: DataFrame, queryId: String, queryVec: String,
      path: String, k: Int, settings: Seq[RecallSetting]): DataFrame = {
    require(settings.nonEmpty, "recallReport needs at least one setting")
    val spark = sampleQueries.sparkSession
    val corpus = graft.core.StoreTable.read(spark, s"$path/vectors").select(col("id"), col("vec"))
    val exact = graft.core.Lineage.pin(Similarity
      .bruteForceTopK(corpus, "id", "vec", sampleQueries, queryId, queryVec, k)
      .select(col("query_id"), col("neighbor_id")))
    val nQueries = sampleQueries.select(col(queryId)).distinct().count()
    val nExact = exact.count()
    // ONE aggregate job for every setting's hit count: the per-setting
    // retrieval plans union (tagged), semi-join the pinned exact set once,
    // and a single bounded groupBy yields all |approx ∩ exact| at once —
    // instead of one count action per setting (top-k outputs are unique
    // per (query, neighbor), so the semi-join cardinality IS the
    // intersection size in either join direction)
    // Building each setting's retrieval plan runs a few EAGER driver
    // actions (centroid read, probed-list collect, query pin) — construct
    // the settings concurrently (guide §2.6) so those tiny jobs overlap
    // instead of serializing; the frames themselves are unchanged.
    val tagged = graft.core.Par.all(settings.zipWithIndex.map { case (s, i) => () =>
      (s.mode match {
        case "pq" => topKPq(sampleQueries, queryId, queryVec, path, k, s.nprobe,
          s.shortlistFactor)
        case "sq8" => topKQuantized(sampleQueries, queryId, queryVec, path, k, s.nprobe,
          s.shortlistFactor)
        case _ => topK(sampleQueries, queryId, queryVec, path, k, s.nprobe)
      }).select(col("query_id"), col("neighbor_id")).withColumn("_si", lit(i))
    }).reduce(_ unionByName _)
    val hitCounts = tagged
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("_si").agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = settings.zipWithIndex.map { case (s, i) =>
      val nHit = hitCounts.getOrElse(i, 0L)
      (s.mode, nQueries, k, s.nprobe, s.shortlistFactor, nExact, nHit,
        if (nExact == 0) 1.0 else nHit.toDouble / nExact)
    }
    import spark.implicits._
    rows.toDF("mode", "n_queries", "k", "nprobe", "shortlist_factor",
      "n_exact", "n_hit", "recall")
  }
}
