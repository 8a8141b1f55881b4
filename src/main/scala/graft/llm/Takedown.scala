package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** One legal request, every store — the right-to-be-forgotten
  * ORCHESTRATOR over the six stores: the four index stores, each declared
  * once by its partitioned tables ([[IndexStore]]; delete, preflight and
  * preview loop over that declaration), and the two count stores
  * ([[WordCounts.delete]], [[NaiveBayes.unlearn]]).
  *
  * A deployed curation pipeline persists state in up to six places; honoring
  * one deletion request by hand means six separately-addressed cells, and a
  * forgotten store is SILENT non-compliance that none of the per-store
  * machinery can detect. [[run]] takes the id view once, fans out to every
  * store named in the request, and publishes ONE consolidated view — plus,
  * when `auditURI` is set, one audit record per store under a shared
  * request id ([[consolidatedLog]] reads them back as a single trail).
  *
  * The count stores (word counts, classifier) subtract COUNTS, which carry
  * no provenance — they need the deleted documents' exact trained TEXT,
  * while a legal queue carries ids. [[recoverRows]] closes that gap
  * in-engine: the id view joins against `corpus` (the same post-cleaning
  * view that was ingested/trained — same pipeline version, same
  * normalization), recovering exactly the rows to subtract. Ids missing
  * from the corpus and ids matching MORE than one corpus row both fail
  * loudly before anything mutates: a missing id would silently
  * under-delete, a duplicated one double-subtract.
  *
  * One request, one id set: the id view is checked ONCE per call by
  * [[IndexCompact.normalizeIds]] — the same function every index delete
  * and the id-addressed count-store stages use — and that one record
  * (distinct ids, count, [min, max], id-set hash) feeds the resume
  * check, the corpus join and every store's delete or dry-run count.
  *
  * Failure discipline: every store's removal is individually atomic and
  * individually audited (the per-store `_takedown_log` contract), and
  * [[run]] and [[preview]] share one PREFLIGHT that runs before anything
  * mutates — store URIs named and distinct, id hygiene, the resume
  * ledger's checks ([[run]] only), store existence, interrupted-rewrite
  * staging leftovers ([[IndexCompact.hasInterruptedRun]]) and corpus
  * coverage for the count stores ([[recoverRows]]). A failure between
  * stores still leaves every other store either cleanly committed or
  * untouched (the count stores run first and sequentially; the four index
  * deletes run concurrently — each an independent single-writer tree); the
  * consolidated log shows exactly which stores committed. Completing a
  * partially-applied request is MACHINE-ENFORCED, not operator
  * discipline: with `auditURI` set, re-running the same `requestId`
  * without `resume = true` REFUSES (count stores must not see the same
  * batch twice — counts carry no provenance, so a second subtraction of a
  * completed store de-syncs it silently), and `resume = true` replays the
  * consolidated trail, skipping every store that already holds a record
  * for the request and executing only the missing ones. Resume verifies
  * the re-supplied request is THE SAME request — per committed store the
  * recorded store URI, id count, and an order-independent hash of the id
  * set must match — so a drifted id view cannot split one legal request
  * into two inconsistent halves.
  *
  * Scale shape: the id view is takedown-sized and rides broadcast; each
  * index delete rewrites only touched partitions (discovery arithmetic or
  * a range-bounded pruned scan — [[IndexCompact.deleteMatching]]); the
  * count-store subtractions are one pass over the RECOVERED BATCH plus
  * vocab-shaped merges. The historical corpus is read only for the id
  * join, itself bounded by the ids' pushed [min, max] range.
  */
object Takedown {

  /** Recover the corpus rows for a checked id set — the ids→text bridge
    * the count stores need. `corpus` must hold EXACTLY ONE row per
    * requested id under `idCol`. Returns the matched rows pinned (every
    * requested id, original corpus columns). The corpus scan is bounded
    * by the ids' [min, max] (pushed to a parquet-backed view's row-group
    * stats) and the ids broadcast into the join — one bounded pass,
    * takedown-sized output. */
  def recoverRows(ids: IndexCompact.DeleteIds, corpus: DataFrame, idCol: String): DataFrame = {
    require(corpus.columns.contains(idCol),
      s"Takedown: corpus view has no column '$idCol' " +
        s"(columns: ${corpus.columns.mkString(", ")})")
    val idFrame = ids.as("_takedown_id")
    val matched = graft.core.Lineage.pin(
      corpus.withColumn("_takedown_id", col(idCol).cast("long"))
        .filter(col("_takedown_id").between(ids.lo, ids.hi))
        .join(broadcast(idFrame), Seq("_takedown_id"), "left_semi"))
    val per = matched.groupBy("_takedown_id").agg(count(lit(1)).as("_n"))
    val st = per.agg(count(lit(1)).as("matched"),
      coalesce(max(col("_n")), lit(0L)).as("maxPer")).head()
    if (st.getLong(1) > 1L) {
      val dups = per.filter(col("_n") > 1).orderBy("_takedown_id").limit(5)
        .collect().map(_.getLong(0))
      throw new IllegalArgumentException(
        s"Takedown: corpus view holds MORE than one row for ${dups.length}+ " +
          s"requested id(s) (first: ${dups.mkString(", ")}) — a duplicated " +
          "row would subtract its counts twice and de-sync the count " +
          "stores. Deduplicate the corpus view per id first.")
    }
    if (st.getLong(0) < ids.n) {
      val missing = idFrame.join(per, Seq("_takedown_id"), "left_anti")
        .orderBy("_takedown_id").limit(5).collect().map(_.getLong(0))
      throw new IllegalArgumentException(
        s"Takedown: ${ids.n - st.getLong(0)} requested id(s) are MISSING from " +
          s"the corpus view (first: ${missing.mkString(", ")}) — their text " +
          "cannot be recovered, so the count stores would silently " +
          "under-delete. Feed the same post-cleaning corpus that was " +
          "trained/ingested, or trim the id view deliberately.")
    }
    matched.drop("_takedown_id")
  }

  /** Consolidated-view / [[consolidatedLog]] schema. */
  val viewSchema: StructType = StructType(Seq(
    StructField("store", StringType),
    StructField("store_type", StringType),
    StructField("n_ids", LongType),
    StructField("rows_removed", LongType),
    StructField("request_id", StringType),
    StructField("completed_at_ms", LongType)))

  /** Every field a consolidated-trail record carries, the one read schema
    * of the trail: [[consolidatedLog]] and [[run]]'s resume ledger each
    * select their own columns. `idsHash` is absent (null) only in records
    * written before the hash was recorded. */
  private val trailSchema: StructType = StructType(
    Seq("requestId", "store", "storeType", "runId").map(StructField(_, StringType)) ++
      Seq("nIds", "rowsRemoved", "idsHash", "completedAtMs").map(StructField(_, LongType)))

  /** One committed (request, store) record replayed from the trail —
    * resume's ledger entry. */
  private final case class Committed(store: String, nIds: Long,
      rowsRemoved: Long, completedAtMs: Long, idsHash: Option[Long])

  /** A request's store URIs by store type, in the consolidated view's
    * order; an empty URI means the store is not part of the request. */
  private def storesOf(countsURI: String, modelURI: String, minhashURI: String,
      spanURI: String, semURI: String, ivfURI: String): Seq[(String, String)] =
    Seq("wordcounts" -> countsURI, "classifier" -> modelURI, "minhash" -> minhashURI,
      "span" -> spanURI, "sem" -> semURI, "ivf" -> ivfURI)

  /** The classifier store's trained-document total — what an unlearn
    * removes, in [[run]] and [[preview]] alike. */
  private def docs(m: NaiveBayes.Model): Long =
    m.classTable.agg(coalesce(sum("n_docs"), lit(0L))).head().getLong(0)

  /** What [[preflight]] hands on: the checked ids, the named index stores
    * in fan-out order, and the corpus rows recovered for the count stores
    * still to run (None when there are none). */
  private final case class Checked(ids: IndexCompact.DeleteIds,
      indexStores: Seq[(IndexStore, String)], recovered: Option[DataFrame])

  /** The preflight [[run]] and [[preview]] share, all before any store
    * mutates, so the likely failures surface while every store is intact:
    * URIs named and distinct; the ids checked once
    * ([[IndexCompact.normalizeIds]]) and handed to `checkIds` (run's resume
    * ledger); the corpus present when a count store not in `skip` needs
    * it; every named store present; no interrupted-rewrite leftovers
    * (parked rows under `_compact_old` are invisible to table reads — a
    * delete would refuse mid-request, and preview's sizing would silently
    * undercount); the count stores' rows recovered from the corpus. */
  private def preflight(spark: SparkSession, op: String, idView: DataFrame,
      stores: Seq[(String, String)], skip: Set[String], corpus: Option[DataFrame],
      corpusIdCol: String)(checkIds: IndexCompact.DeleteIds => Unit): Checked = {
    val uris = stores.map(_._2).filter(_.nonEmpty)
    require(uris.nonEmpty,
      s"$op: no store URI set — name at least one of minhashURI/" +
        "spanURI/semURI/ivfURI/countsURI/modelURI")
    require(uris.distinct.size == uris.size,
      s"$op: two store parameters point at the SAME URI — each " +
        "store is a distinct directory")
    val ids = IndexCompact.normalizeIds(idView)
    checkIds(ids)
    val countStores = stores.collect {
      case (t @ ("wordcounts" | "classifier"), u) if u.nonEmpty && !skip(t) => t
    }
    require(countStores.isEmpty || corpus.isDefined,
      s"$op: countsURI/modelURI subtract counts, which carry no " +
        "provenance — pass the corpus view so the deleted documents' " +
        "exact trained text can be recovered from the ids")
    uris.foreach { u =>
      val path = new org.apache.hadoop.fs.Path(u)
      require(path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path),
        s"$op: no store at $u — check the URI (a typo here, caught late, " +
          "would leave the request half-applied)")
    }
    val uriOf = stores.toMap
    val indexStores = IndexStore.named(uriOf("minhash"), uriOf("span"), uriOf("sem"),
      uriOf("ivf"))
    val interrupted = indexStores.flatMap { case (st, u) => st.interruptedTables(spark, u) }
    require(interrupted.isEmpty,
      s"$op: interrupted rewrite leftovers at ${interrupted.mkString(", ")} — " +
        "run IndexCompact.recover on each, then re-run the request")
    Checked(ids, indexStores,
      if (countStores.isEmpty) None else Some(recoverRows(ids, corpus.get, corpusIdCol)))
  }

  /** Execute one takedown request against every named store. Empty-string
    * URIs mean "not part of this request"; at least one must be set.
    * `corpus` is required when a count store (`countsURI` / `modelURI`) is
    * named and not yet committed — see [[recoverRows]]. Returns the
    * consolidated view (one row per store: store URI, store type, id
    * count, rows removed, request id, completion time); `rows_removed`
    * for an index store sums its declared tables (per-table detail lives
    * in [[IndexStore.takedownLog]]). When `auditURI` is
    * set, each store's completion ALSO appends one record there under the
    * shared `requestId` — written immediately after that store commits,
    * so the records present after a crash are exactly the stores that
    * completed.
    *
    * CRASH RECOVERY is machine-enforced through that trail: calling `run`
    * again with a `requestId` that already holds records REFUSES unless
    * `resume = true` (a from-the-top re-run would subtract the count
    * stores twice, and counts carry no provenance — the de-sync is
    * silent). With `resume = true`, stores that already committed under
    * the request id are SKIPPED (their recorded rows replayed into the
    * returned view, no mutation, no duplicate audit record) and only the
    * missing stores execute. Resume first verifies the re-supplied
    * request matches what the committed records saw — store URI per
    * store type, id count, and an order-independent hash of the id set —
    * so a drifted id view or a moved store fails loudly instead of
    * splitting one legal request into two inconsistent halves.
    */
  def run(spark: SparkSession, ids: DataFrame,
      minhashURI: String = "", spanURI: String = "", semURI: String = "",
      ivfURI: String = "", countsURI: String = "", modelURI: String = "",
      corpus: Option[DataFrame] = None, corpusIdCol: String = "doc_id",
      textCol: String = "text",
      labelCol: String = "label", auditURI: String = "",
      requestId: String = java.util.UUID.randomUUID().toString,
      resume: Boolean = false): DataFrame = {
    require(!resume || auditURI.nonEmpty,
      "Takedown.run: resume replays the consolidated audit trail to learn " +
        "which stores already committed — set auditURI (and pass the " +
        "interrupted request's requestId)")
    val stores = storesOf(countsURI, modelURI, minhashURI, spanURI, semURI, ivfURI)
    // the resume ledger: stores already committed under this request id
    // (request-sized: at most one record per store type)
    val committed: Map[String, Committed] =
      if (auditURI.isEmpty) Map.empty
      else graft.core.AuditLog.read(spark, auditURI, trailSchema)
        .filter(col("requestId") === requestId)
        .select("storeType", "store", "nIds", "rowsRemoved", "completedAtMs", "idsHash")
        .collect()
        .map(r => r.getString(0) -> Committed(r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
        .toMap
    // the id-set fingerprint is recorded with every store's audit record
    // and re-verified here: same count, different ids is exactly the
    // drift nIds alone cannot catch
    def checkResume(ids: IndexCompact.DeleteIds): Unit = {
      if (!resume && committed.nonEmpty)
        throw new IllegalArgumentException(
          s"Takedown.run: the audit trail already holds ${committed.size} " +
            s"record(s) for request '$requestId' (committed stores: " +
            s"${committed.keys.toSeq.sorted.mkString(", ")}) — re-running a " +
            "partially-applied request from the top would subtract the " +
            "count stores TWICE (counts carry no provenance; the de-sync is " +
            "silent). Pass resume = true to skip the committed stores and " +
            "complete only the missing ones.")
      committed.foreach { case (tpe, c) =>
        require(c.nIds == ids.n && c.idsHash.forall(_ == ids.idsHash),
          s"Takedown.run: resume of request '$requestId' — the supplied id " +
            s"view is NOT the one the committed $tpe record saw (recorded " +
            s"${c.nIds} id(s)${c.idsHash.map(h => s", id-set hash $h").getOrElse("")}; " +
            s"supplied ${ids.n}, id-set hash ${ids.idsHash}). One request = one id " +
            "set — a drifted view would leave the stores describing two " +
            "different requests. Submit the changed ids as a NEW request.")
        val named = stores.toMap.getOrElse(tpe, "")
        require(named.isEmpty || named == c.store,
          s"Takedown.run: resume of request '$requestId' — the trail " +
            s"records its $tpe store at ${c.store} but this call names " +
            s"$named; one request cannot move between stores")
      }
    }
    val Checked(idSet, indexStores, recovered) = preflight(spark, "Takedown.run", ids,
      stores, committed.keySet, corpus, corpusIdCol)(checkResume)
    val nIds = idSet.n

    // store, type, nIds, removed, completedAtMs (Some = replayed record).
    // Appends are synchronized (the index deletes run concurrently) and
    // the view is emitted in the canonical store order below, so the
    // returned frame is byte-identical to the sequential formulation.
    val results = scala.collection.mutable.ListBuffer
      .empty[(String, String, Long, Long, Option[Long])]
    def complete(store: String, storeType: String, removed: Long): Unit = {
      if (auditURI.nonEmpty)
        graft.core.AuditLog.append(spark, auditURI,
          Seq("requestId" -> requestId, "store" -> store,
            "storeType" -> storeType, "nIds" -> nIds,
            "rowsRemoved" -> removed, "idsHash" -> idSet.idsHash),
          runId = s"$requestId-$storeType")
      graft.core.LogBuffer.append(
        s"Takedown[$requestId]: $storeType complete at $store, $removed rows removed")
      results.synchronized { results += ((store, storeType, nIds, removed, None)) }
    }
    // committed stores are UNTOUCHED on resume: their recorded row
    // replays into the view, no mutation, no duplicate audit record
    def runStore(uri: String, storeType: String)(exec: => Long): Unit =
      if (uri.nonEmpty) committed.get(storeType) match {
        case Some(c) =>
          graft.core.LogBuffer.append(
            s"Takedown[$requestId]: $storeType already committed at " +
              s"${c.store} (${c.rowsRemoved} rows) — resume skips it")
          results.synchronized {
            results += ((c.store, storeType, c.nIds, c.rowsRemoved,
              Some(c.completedAtMs)))
          }
        case None => complete(uri, storeType, exec)
      }

    // count stores FIRST: their failures are semantic (wrong corpus
    // version, not-a-subset) and therefore the most likely — the index
    // deletes that follow can only fail on conditions preflight checked
    runStore(countsURI, "wordcounts") {
      def total(): Long = WordCounts.read(spark, countsURI)
        .agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
      val before = total()
      WordCounts.delete(recovered.get, textCol, countsURI)
      before - total()
    }
    runStore(modelURI, "classifier") {
      val before = docs(NaiveBayes.read(spark, modelURI))
      NaiveBayes.unlearn(recovered.get, textCol, labelCol, modelURI)
      before - docs(NaiveBayes.read(spark, modelURI))
    }
    // The four index deletes are independent single-writer directory
    // trees — run them CONCURRENTLY (guide §2.6: overlap independent
    // jobs; each delete is dozens of tiny driver-latency-bound actions,
    // and running them back to back serialized that latency four times
    // over). Each store remains individually atomic and individually
    // audited; a failure in one store no longer stops the others from
    // committing cleanly, and either way the consolidated trail records
    // exactly the committed set — the contract resume replays. Par.all
    // rethrows the first failure after every store settles, with the
    // other stores' failures suppressed on it. Every store deletes the
    // one id set preflight checked.
    graft.core.Par.all(indexStores.map { case (st, uri) => () =>
      runStore(uri, st.storeType)(st.delete(spark, uri, idSet).total)
    })

    // canonical store order regardless of completion order — the view is
    // byte-identical to the sequential formulation's
    val storeOrder = stores.map(_._1).zipWithIndex.toMap
    val now = System.currentTimeMillis()
    val rows = results.toList.sortBy(r => storeOrder(r._2))
      .map { case (store, tpe, n, removed, at) =>
        org.apache.spark.sql.Row(store, tpe, n, removed, requestId,
          at.getOrElse(now))
      }
    graft.core.Local.relation(spark, viewSchema, rows)
  }

  /** DRY RUN: what [[run]] WOULD remove, with zero mutation — the sizing
    * step a legal queue wants before executing a request. Same preflight
    * as [[run]] (minus the resume ledger), same discovery shapes
    * (range-bounded pruned scans, broadcast ids), no staged rewrite, no
    * audit record. Returns one row per store:
    * (store, store_type, n_ids, rows_matched). For the count stores
    * `rows_matched` is the occurrences/docs the subtraction would remove;
    * a subset violation (text that was never ingested) surfaces here as
    * it would in the real run — preview is the place to discover it. */
  def preview(spark: SparkSession, ids: DataFrame,
      minhashURI: String = "", spanURI: String = "", semURI: String = "",
      ivfURI: String = "", countsURI: String = "", modelURI: String = "",
      corpus: Option[DataFrame] = None, corpusIdCol: String = "doc_id",
      textCol: String = "text", labelCol: String = "label"): DataFrame = {
    val Checked(idSet, indexStores, recovered) = preflight(spark, "Takedown.preview", ids,
      storesOf(countsURI, modelURI, minhashURI, spanURI, semURI, ivfURI), Set.empty,
      corpus, corpusIdCol)(_ => ())
    val results = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    if (countsURI.nonEmpty)
      // runs delete's exact subset check without the swap — a violation
      // fails HERE, before any real run could half-apply the request
      results += ((countsURI, "wordcounts",
        WordCounts.previewDelete(recovered.get, textCol, countsURI)))
    if (modelURI.nonEmpty) {
      // the model-level unlearn validates (subset checks) and returns the
      // would-be model without persisting anything — exactly a dry run
      val before = NaiveBayes.read(spark, modelURI)
      results += ((modelURI, "classifier",
        docs(before) - docs(NaiveBayes.unlearn(before, recovered.get, textCol, labelCol))))
    }
    // discovery-shaped match count: the same pushed range bound and id
    // filter a delete's discovery runs
    indexStores.foreach { case (st, uri) =>
      results += ((uri, st.storeType, st.previewMatches(spark, uri, idSet)))
    }
    val rows = results.toList.map { case (store, tpe, matched) =>
      org.apache.spark.sql.Row(store, tpe, idSet.n, matched)
    }
    graft.core.Local.relation(spark,
      StructType(viewSchema.take(3) :+ StructField("rows_matched", LongType)), rows)
  }

  /** The consolidated request-level audit trail at `auditURI` — one row
    * per (request, store) completion, every request interleaved. Filter on
    * `request_id` for one request; a store missing for a request id means
    * that store's removal never completed (crash before commit — re-run
    * the request naming ONLY the missing stores). */
  def consolidatedLog(spark: SparkSession, auditURI: String): DataFrame =
    graft.core.AuditLog.read(spark, auditURI, trailSchema)
      .select(col("store"), col("storeType").as("store_type"),
        col("nIds").as("n_ids"), col("rowsRemoved").as("rows_removed"),
        col("requestId").as("request_id"),
        col("completedAtMs").as("completed_at_ms"))
}
