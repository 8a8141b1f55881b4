package graft.llm

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, hash, lit, max, min, sum}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Staged rewrites — small-file compaction, takedown deletes, crash
  * recovery and their audit trail — of the Hive-partitioned tables behind
  * the four index stores ([[MinhashIndex]], [[SpanIndex]], [[SemIndex]],
  * [[IvfIndex]]). Each store declares its tables once ([[IndexTable]]s of
  * an [[IndexStore]]), and the store-level operations loop over that
  * declaration. Every `ingest` batch appends one file set per touched
  * partition directory, so a year of daily batches leaves tens of
  * thousands of tiny parquet files per partition and reads become
  * metadata-bound — the classic long-lived-index operational failure.
  *
  * `compactPartitioned` rewrites ONLY the partition directories whose
  * part-file count exceeds `maxFilesPerPartition`, each into
  * ceil(bytes / targetBytes) files, preserving the Hive-style layout
  * (`col=value/` directory names carry the partition value, so rows are
  * rewritten without the partition column and land back in the same
  * directory — bit-identical contents, fewer files). Centroids, params
  * and codebooks are untouched; query/dedup results are pinned identical
  * before/after by IndexCompactSpec.
  *
  * Crash safety: the per-partition swap never holds a partition's only
  * copy in a directory that a cleanup pass deletes. Order per partition:
  * (1) write the compacted replacement under `_compact_tmp/part`,
  * (2) move the OLD part files aside to `_compact_old/part`,
  * (3) move the new files in (named `compact-<uuid>` so recovery can tell
  * them from originals), (4) COMMIT by atomically renaming
  * `_compact_old/part` to `_compact_done/part`, then delete it. The
  * commit rename matters: a recursive delete is file-by-file on most
  * filesystems, so deleting `_compact_old/part` directly would let a
  * crash leave a PARTIAL parked set that recovery would "restore" over
  * the complete new copy — the rename moves the originals out of
  * recovery's sight in one atomic step, and anything under
  * `_compact_done` is committed garbage recovery simply discards. A
  * crash at ANY point therefore leaves every row present in the live
  * partition, `_compact_old` or `_compact_tmp` — a recoverable superset,
  * never a loss. Every `fs.rename` return value is checked and aborts on
  * false (a silent rename failure must not fall through to a delete).
  * `compactPartitioned` REFUSES to start while `_compact_tmp` /
  * `_compact_old` hold files from an interrupted run — call [[recover]]
  * first, which restores the original part files and discards partial
  * output, then re-run compaction.
  *
  * Scale shape: the driver lists partition directories (bounded by
  * nlist/nclusters, never by corpus size) and each oversized partition is
  * one partition-pruned read + write — cost proportional to the data
  * actually rewritten, nothing else. Like `ingest`, compaction is an
  * offline maintenance op: run it in the same window as ingests, not
  * concurrently with readers (mid-swap a partition is transiently
  * incomplete on disk; the superset lives across the three directories).
  */
object IndexCompact {

  /** Bound a partitioned append's writer-task count by the batch's size:
    * a Hive-partitioned append lands one file per (writer task, touched
    * partition dir) pair, so a default-32-task write of a tiny daily
    * batch into 64 dirs leaves up to 32 × 64 files per table per ingest —
    * the very debris [[compactPartitioned]] exists to mop up. Coalescing
    * to ceil(rows / targetRowsPerFile) tasks (no shuffle; a no-op when
    * the frame already has fewer partitions) bounds a small batch at ONE
    * file per touched dir while leaving big batches parallel. */
  def coalesceForAppend(df: DataFrame, rows: Long,
      targetRowsPerFile: Long = 1L << 20): DataFrame = {
    val want = math.max(1L,
      math.min((rows + targetRowsPerFile - 1) / targetRowsPerFile, 1L << 16))
    df.coalesce(want.toInt)
  }

  private def liveFiles(fs: FileSystem, dir: Path) =
    fs.listStatus(dir).filter(f =>
      f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))

  /** Any LIVE file under `dir`, recursively — `_`/`.`-prefixed metadata
    * (the `_runid` marker, parquet `_SUCCESS`) doesn't count. */
  private def hasAnyFile(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists(s =>
      (s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".")) ||
        (s.isDirectory && hasAnyFile(fs, s.getPath)))

  private def renameOrAbort(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to),
      s"IndexCompact: rename failed ($from -> $to) — aborting before any delete; " +
        "run IndexCompact.recover to restore, then re-run compaction")

  /** Compact every `col=value` partition directory under `dir` whose
    * parquet part-file count exceeds `maxFilesPerPartition`. Returns
    * (partitionsCompacted, filesBefore, filesAfter) for observability —
    * silent maintenance is unauditable maintenance.
    */
  def compactPartitioned(spark: SparkSession, dir: String,
      maxFilesPerPartition: Int = 8,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Long, Long) = {
    require(maxFilesPerPartition >= 1, s"maxFilesPerPartition must be >= 1")
    val (fs, root) = openRewrite(spark, dir)
    val tmpRoot = new Path(root, "_compact_tmp")
    val oldRoot = new Path(root, "_compact_old")
    val doneRoot = new Path(root, "_compact_done")
    val partDirs = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.contains("="))
    // per-run id, embedded in every moved-in file name and recorded in a
    // marker BEFORE any file moves: recovery must delete exactly the
    // files THIS run moved in, never same-prefixed survivors of an
    // earlier completed compaction (whose live files are also compact-*).
    // Staging dirs are created lazily — a steady-state no-op run must
    // not churn the index root (object-store requests cost money)
    val runId = java.util.UUID.randomUUID().toString
    var staged = false
    def ensureStaging(): Unit = if (!staged) {
      staged = true
      fs.mkdirs(oldRoot)
      val marker = fs.create(new Path(oldRoot, "_runid"), true)
      marker.write(runId.getBytes("UTF-8")); marker.close()
    }
    var compacted = 0
    var before = 0L
    var after = 0L
    partDirs.foreach { p =>
      val files = liveFiles(fs, p.getPath)
      before += files.length
      if (files.length > maxFilesPerPartition) {
        val bytes = files.map(_.getLen).sum
        val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        val tmp = new Path(tmpRoot, p.getPath.getName)
        // (1) rewrite this partition's rows alone (partition-pruned read;
        // the partition value lives in the directory name, not the rows)
        graft.core.StoreTable.read(spark, p.getPath.toString)
          .coalesce(nOut)
          .write.mode("overwrite").parquet(tmp.toString)
        ensureStaging()
        // (2) move the old part files ASIDE, not away: until step (4)
        // they remain the authoritative copy recovery restores
        val oldPart = new Path(oldRoot, p.getPath.getName)
        fs.mkdirs(oldPart)
        files.foreach(f =>
          renameOrAbort(fs, f.getPath, new Path(oldPart, f.getPath.getName)))
        // (3) move the new files in under recovery-recognizable names
        // (`compact-<runId>-` prefix; Spark's task-UUID suffix keeps them
        // unique across re-runs and repeated compactions)
        val moved = liveFiles(fs, tmp)
        moved.foreach { f =>
          renameOrAbort(fs, f.getPath,
            new Path(p.getPath, s"compact-$runId-${f.getPath.getName}"))
        }
        // (4) COMMIT: one atomic rename moves the originals out of
        // recovery's restore set, THEN delete — a crash mid-delete of a
        // _compact_done dir is garbage, not a partial restore source
        fs.mkdirs(doneRoot)
        renameOrAbort(fs, oldPart, new Path(doneRoot, p.getPath.getName))
        fs.delete(new Path(doneRoot, p.getPath.getName), true)
        fs.delete(tmp, true)
        compacted += 1
        after += moved.length
      } else after += files.length
    }
    // both staging roots hold only empty directories now; verify rather
    // than trust (a file here means a logic error, not a crash)
    require(!hasAnyFile(fs, tmpRoot) && !hasAnyFile(fs, oldRoot),
      s"IndexCompact: staging directories not empty after compaction of $dir")
    if (staged) { fs.delete(tmpRoot, true); fs.delete(oldRoot, true) }
    fs.delete(doneRoot, true)
    (compacted, before, after)
  }

  /** True when `dir` holds leftover staging files from an interrupted
    * compaction or delete — [[deleteMatching]] and [[compactPartitioned]]
    * would refuse to start; run [[recover]] first. Lets an orchestrator
    * PREFLIGHT every store before mutating any of them, so the most common
    * refusal surfaces before a multi-store request is half-applied. */
  def hasInterruptedRun(spark: SparkSession, dir: String): Boolean = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(root) && staged(fs, root)
  }

  private def staged(fs: FileSystem, root: Path): Boolean =
    hasAnyFile(fs, new Path(root, "_compact_tmp")) ||
      hasAnyFile(fs, new Path(root, "_compact_old"))

  /** The table at `dir`, opened for a staged rewrite: refused when it is
    * missing or holds an interrupted run's staging files, and cleared of
    * `_compact_done` (committed originals of an interrupted step (4) —
    * the live partitions hold complete copies, so it is pure garbage). */
  private def openRewrite(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"IndexCompact: no directory at $dir")
    require(!staged(fs, root),
      s"IndexCompact: $dir has leftover files from an interrupted compaction " +
        "or delete (_compact_tmp/_compact_old non-empty) — run " +
        "IndexCompact.recover first")
    fs.delete(new Path(root, "_compact_done"), true)
    (fs, root)
  }

  /** Where the takedown audit records of the table at `dir` live
    * ([[takedownLog]]); `_`-prefixed so table reads never see them. */
  def takedownLogDir(dir: String): String =
    new Path(new Path(dir), "_takedown_log").toString

  /** One request's id set, checked once ([[normalizeIds]]) and handed to
    * every store and table it touches: distinct non-null longs (`frame`,
    * one column), their count, [min, max], the order-independent id-set
    * fingerprint a takedown trail records (`idsHash`: Spark SQL's
    * `sum(hash(id))` as long over the distinct ids), and — for a set of
    * ≤ 1000 ids — the values themselves. */
  final case class DeleteIds(frame: DataFrame, n: Long, lo: Long, hi: Long,
      idsHash: Long, local: Option[Seq[Long]]) {
    /** The ids under a table's id column name. */
    def as(idCol: String): DataFrame = frame.toDF(idCol)
  }

  /** What an [[IndexStore]] delete removed: the distinct id count and the
    * rows removed from each declared table, in declaration order. */
  final case class Deleted(nIds: Long, rowsRemoved: Seq[Long]) {
    def total: Long = rowsRemoved.sum

    /** The config surface's one-row result: `n_ids`, then each table's
      * rows removed under `removedCols` (declaration order). */
    def toDF(spark: SparkSession, removedCols: String*): DataFrame = {
      require(removedCols.size == rowsRemoved.size,
        s"Deleted.toDF: ${rowsRemoved.size} tables, ${removedCols.size} column names")
      spark.createDataFrame(java.util.List.of(Row.fromSeq(nIds +: rowsRemoved)),
        StructType(("n_ids" +: removedCols).map(StructField(_, LongType, nullable = false))))
    }
  }

  /** The id frame behind every `Seq[Long]` delete — the id list is
    * takedown-sized (a legal request, not a corpus), so a local Seq is a
    * fine carrier; large or view-shaped id sets should pass a frame. */
  def idFrame(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty, "deleteMatching needs at least one id")
    spark.createDataset(ids)(Encoders.scalaLong).toDF("_id")
  }

  /** The one place an id view becomes a checked id set — every takedown
    * and delete path ([[Takedown.run]], [[Takedown.preview]], the
    * id-addressed count-store stages, [[IndexStore]] deletes and
    * [[deleteMatching]]) normalizes here, once per request: the frame's
    * first column cast to long, distinct; an empty set and NULLs (null
    * rows, or values that do not cast to long) are refused. A
    * takedown-sized set (≤ 1000, the common legal-request shape) collects
    * in ONE job — null checks, count, [min, max] and the id-set hash
    * (Murmur3 with Spark's seed, exactly what `hash(id)` computes) come
    * from the local rows, and the frame that feeds discovery, the
    * rewrite's anti join and the corpus join is REBUILT from the collected
    * values (a local relation is trivially deterministic, so no pin job is
    * needed). Larger sets keep the pinned-frame path: one
    * materialization, one stats pass, broadcast semi joins. */
  def normalizeIds(idsDf: DataFrame): DeleteIds = {
    require(idsDf.columns.nonEmpty, "takedown ids: the id view has no columns")
    val nullIds = "takedown ids: ids contain NULL (null rows, or values that " +
      "do not cast to long) — clean the id view before the takedown"
    val normalized = idsDf.select(col(idsDf.columns.head).cast("long").as("_id")).distinct()
    graft.core.Local.collectUpTo(normalized, 1000, graft.core.Local.MaxBytes) match {
      case Some(headRows) =>
        require(headRows.nonEmpty,
          "takedown ids: the id view is empty — a takedown needs at least one id")
        require(!headRows.exists(_.isNullAt(0)), nullIds)
        val vals = headRows.map(_.getLong(0)).toSeq
        DeleteIds(idFrame(idsDf.sparkSession, vals), vals.length, vals.min, vals.max,
          vals.map(v => Murmur3_x86_32.hashLong(v, 42).toLong).sum, Some(vals))
      case None =>
        val pinned = graft.core.Lineage.pin(normalized)
        val st = pinned.agg(count(lit(1)), count(col("_id")), min(col("_id")),
          max(col("_id")), sum(hash(col("_id")).cast("long"))).head()
        require(st.getLong(1) == st.getLong(0), nullIds)
        DeleteIds(pinned, st.getLong(0), st.getLong(2), st.getLong(3), st.getLong(4), None)
    }
  }

  /** Rows of `df` whose `idCol` is one of `ids` — DISCOVERY only (the
    * rewrite's anti join must keep rows outside the id range). The
    * [min, max] bound ALWAYS pushes to the parquet scan, so row-group
    * stats prune — ingest-appended files are id-clustered, so a
    * recent-batch takedown skips most of the table's row groups
    * regardless of id count. The isin literal (≤ 1000 ids) additionally
    * pushes as per-value predicates when under the parquet In-pushdown
    * threshold; a broadcast semi join (join predicates never reach the
    * scan) handles the rest. */
  private def matching(df: DataFrame, idCol: String, ids: DeleteIds): DataFrame = {
    val bounded = df.filter(col(idCol).between(ids.lo, ids.hi))
    ids.local match {
      case Some(seq) =>
        bounded.filter(col(idCol).isin(seq.map(java.lang.Long.valueOf): _*))
      case None => bounded.join(broadcast(ids.as(idCol)), Seq(idCol), "left_semi")
    }
  }

  /** Rows of the table at `dir` a delete of `ids` would remove — the
    * dry-run count ([[Takedown.preview]]), through discovery's filter. */
  def matchCount(spark: SparkSession, dir: String, idCol: String,
      ids: DeleteIds): Long =
    matching(graft.core.StoreTable.read(spark, dir).select(col(idCol)), idCol, ids).count()

  /** Seq sugar over the DataFrame-native [[deleteMatching]] below. */
  def deleteMatching(spark: SparkSession, dir: String, idCol: String,
      partitionCol: String, ids: Seq[Long]): Long =
    deleteMatching(spark, dir, idCol, partitionCol, idFrame(spark, ids))

  /** Partition-directory path for a value, escaped the way Spark's own
    * writer escapes it (Hive-style percent-encoding) — so a partition
    * value that needs escaping (strings with `/`, `=`, spaces …) maps to
    * the directory the write actually produced instead of failing the
    * exists check or silently missing it. Integer values pass through
    * unchanged. */
  private def partitionDir(dir: String, partitionCol: String, value: String): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    s"$dir/${escapePathName(partitionCol)}=${escapePathName(value)}"
  }

  /** Crash-safe DELETION from a `col=value`-partitioned table — the
    * takedown path (right-to-be-forgotten, licensing retractions) a
    * long-lived 100 TB index cannot live without. Ids arrive as a
    * one-column DataFrame (any column name; values cast to long, nulls
    * fail fast — [[normalizeIds]]), so config-surface callers never
    * funnel an id view through the driver. Discovery of the touched
    * partitions:
    *
    *  - with `partitionOf` (tables whose partition value is COMPUTABLE
    *    from the id, e.g. the minhash tables' `_p = pmod(_id, idPartitions)`): the
    *    touched directories are derived from the ids with ZERO table IO
    *    and only those directories are read for the per-partition match
    *    counts;
    *  - otherwise: one column-pruned scan over the table, always bounded
    *    by the ids' pushed [min, max] range so parquet row-group stats
    *    prune it (ingest-appended files are id-clustered — a recent-batch
    *    takedown skips most of the table). Small id lists (≤ 1000)
    *    additionally ride as an `isin` literal; larger ones as a
    *    broadcast semi join (join predicates never reach the scan, which
    *    is why the range bound is applied separately).
    *
    * Only partitions holding matches rewrite, through the SAME staged
    * move-aside/commit machinery as [[compactPartitioned]] (identical
    * `_compact_*` staging and `compact-<runId>-` naming, so [[recover]]
    * restores an interrupted delete byte-identically — re-run it after
    * recovery). A completed run appends an audit record ([[takedownLog]])
    * AFTER the final commit — rows that exist are compliance evidence,
    * and a crash leaves no record for the interrupted run. Returns the
    * number of rows removed.
    *
    * Index semantics downstream: a deleted doc stops matching future
    * queries/ingests immediately. Survivor-index caveats hold — past
    * losers of a deleted keeper are not resurrected, the id watermark
    * does not move back (ids are permanently consumed), and a Bloom
    * sketch that remembers a deleted gram merely routes future probes to
    * a verification that now finds nothing (a false positive, the
    * contract blooms already carry).
    *
    * Readers vs takedown: like compaction, this is a MAINTENANCE-WINDOW
    * op under the stores' single-writer discipline. The staged renames
    * keep every row durable at all times, but a CONCURRENT
    * `spark.read.parquet` that lists a partition mid-swap can observe a
    * transient mix (old files parked but new not yet moved in — rows
    * temporarily invisible) or, between steps (3) and (4), both copies at
    * once. Queries running while a takedown commits should be treated
    * like queries during compaction: re-run them after the takedown
    * completes (the audit record is the completion signal).
    */
  def deleteMatching(spark: SparkSession, dir: String, idCol: String,
      partitionCol: String, idsDf: DataFrame,
      partitionOf: Option[Column => Column] = None,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    openRewrite(spark, dir) // the table's refusals come before the ids'
    deleteNormalized(spark, dir, idCol, partitionCol, normalizeIds(idsDf),
      partitionOf, targetBytes)
  }

  /** [[deleteMatching]] over ids already normalized by the caller — an
    * [[IndexStore]] delete normalizes once for all its tables. */
  private[llm] def deleteNormalized(spark: SparkSession, dir: String, idCol: String,
      partitionCol: String, ids: DeleteIds, partitionOf: Option[Column => Column],
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    val (fs, root) = openRewrite(spark, dir)
    val tmpRoot = new Path(root, "_compact_tmp")
    val oldRoot = new Path(root, "_compact_old")
    val doneRoot = new Path(root, "_compact_done")
    val idsLong = ids.as(idCol)
    val runId = java.util.UUID.randomUUID().toString
    // audit record of a COMPLETED takedown (GDPR/retraction evidence):
    // written only after every staged rename committed, so its absence
    // after a crash is itself the re-run signal. No-op deletes (ids
    // absent) record too — "the request was processed" is evidence even
    // when nothing matched.
    def writeAudit(rowsRemoved: Long, partitionsRewritten: Long): Unit =
      graft.core.AuditLog.append(spark, takedownLogDir(dir),
        Seq("table" -> dir, "idColumn" -> idCol, "partitionColumn" -> partitionCol,
          "nIds" -> ids.n, "rowsRemoved" -> rowsRemoved,
          "partitionsRewritten" -> partitionsRewritten),
        runId)
    // discovery: which partition dirs hold matches, and how many rows each
    val scanBase: Option[DataFrame] = partitionOf match {
      case Some(f) =>
        val vals = idsLong.select(f(col(idCol)).cast("string").as("_pv"))
          .distinct().collect().map(_.getString(0))
        val dirs = vals.map(v => partitionDir(dir, partitionCol, v))
          .filter(d => fs.exists(new Path(d))).toIndexedSeq
        if (dirs.isEmpty) None
        else Some(graft.core.StoreTable.read(spark, dir, dirs))
      case None => Some(graft.core.StoreTable.read(spark, dir))
    }
    val touched: Map[String, Long] = scanBase match {
      case None => Map.empty
      case Some(base) =>
        matching(base.select(col(idCol), col(partitionCol)), idCol, ids)
          .groupBy(col(partitionCol)).count()
          .collect().map { r =>
            require(!r.isNullAt(0),
              s"IndexCompact: null $partitionCol partition value in $dir — " +
                "takedown requires concrete partition values")
            (r.get(0).toString, r.getLong(1))
          }.toMap
    }
    if (touched.isEmpty) { writeAudit(0L, 0L); return 0L }
    fs.mkdirs(oldRoot)
    val marker = fs.create(new Path(oldRoot, "_runid"), true)
    marker.write(runId.getBytes("UTF-8")); marker.close()
    // (1) filtered rewrite of ALL touched partitions in ONE Spark job
    // (basePath keeps the partition column; a per-partition loop would run
    // one tiny job per directory — measured ~150 sequential jobs for a
    // 29-doc takedown across the three minhash tables). Writer tasks are
    // batch-sized, so a small takedown lands one file per touched dir.
    val touchedDirs = touched.keys.map(v => partitionDir(dir, partitionCol, v)).toSeq
    touchedDirs.foreach(d => require(fs.exists(new Path(d)),
      s"IndexCompact: expected partition dir $d"))
    val keptRows = graft.core.StoreTable.read(spark, dir, touchedDirs)
      .join(broadcast(idsLong), Seq(idCol), "left_anti")
    val touchedBytes = touchedDirs.map(d => liveFiles(fs, new Path(d)).map(_.getLen).sum).sum
    val nOut = math.max(touched.size.toLong,
      (touchedBytes + targetBytes - 1) / targetBytes)
    keptRows.coalesce(math.min(nOut, 1L << 16).toInt)
      .write.mode("overwrite").partitionBy(partitionCol).parquet(tmpRoot.toString)
    // Per-partition staged moves run CONCURRENTLY (bounded pool): each
    // partition's park→move-in→commit sequence touches only its own
    // directories, and [[recover]] handles every partition's interrupted
    // state independently, so ordering between partitions carries no
    // crash-safety meaning — but running them serially made the driver
    // the bottleneck (guide §2.6: measured 3.8 s of q202's wall was this
    // loop's filesystem round-trips; on an object store with 10–100 ms
    // per rename a wide takedown would serialize into minutes).
    fs.mkdirs(doneRoot)
    // an abort in ANY partition surfaces after every move settles — the
    // other partitions are each in a recover-able state by construction
    graft.core.Par.all(touched.keys.toSeq.map { value => () =>
      val part = new Path(partitionDir(dir, partitionCol, value))
      val files = liveFiles(fs, part)
      val tmp = new Path(tmpRoot, part.getName)
      // (2) park originals; (3) move the new files in (a fully-
      // deleted partition has no tmp dir — nothing moves in);
      // (4) commit
      val oldPart = new Path(oldRoot, part.getName)
      fs.mkdirs(oldPart)
      files.foreach(f =>
        renameOrAbort(fs, f.getPath, new Path(oldPart, f.getPath.getName)))
      if (fs.exists(tmp)) liveFiles(fs, tmp).foreach { f =>
        renameOrAbort(fs, f.getPath,
          new Path(part, s"compact-$runId-${f.getPath.getName}"))
      }
      renameOrAbort(fs, oldPart, new Path(doneRoot, part.getName))
      fs.delete(new Path(doneRoot, part.getName), true)
      fs.delete(tmp, true)
    })
    val removed = touched.valuesIterator.sum
    require(!hasAnyFile(fs, tmpRoot) && !hasAnyFile(fs, oldRoot),
      s"IndexCompact: staging directories not empty after delete in $dir")
    fs.delete(tmpRoot, true)
    fs.delete(oldRoot, true)
    fs.delete(doneRoot, true)
    writeAudit(removed, touched.size.toLong)
    removed
  }

  /** Columns of [[takedownLog]], in record order. */
  private val takedownLogSchema = StructType(
    Seq("runId", "table", "idColumn", "partitionColumn").map(StructField(_, StringType)) ++
      Seq("nIds", "rowsRemoved", "partitionsRewritten", "completedAtMs")
        .map(StructField(_, LongType)))

  /** The audit trail of COMPLETED takedowns on `dir` — one row per
    * successful [[deleteMatching]] run (no-op runs included), read from
    * the `_takedown_log/` records. A record is written only AFTER the
    * staged rewrite fully committed, so a crash mid-delete leaves NO row
    * for that run: compliance evidence is the rows that exist, and a
    * missing row for an issued request means `recover` + re-run. Empty
    * frame (same schema) when the table has never seen a takedown. */
  def takedownLog(spark: SparkSession, dir: String): DataFrame =
    graft.core.AuditLog.read(spark, takedownLogDir(dir), takedownLogSchema)

  /** Restore `dir` after an interrupted [[compactPartitioned]]: for every
    * partition with files parked in `_compact_old`, delete the files THAT
    * run already moved into the live directory (identified by the
    * interrupted run's `compact-<runId>-` prefix, read from the
    * `_compact_old/_runid` marker — their rows duplicate the parked
    * originals; files from earlier COMPLETED compactions are themselves
    * originals and are never touched) and move the originals back, then
    * discard `_compact_tmp` (never-moved replacement output — pure
    * duplicates) and `_compact_done` (committed originals whose live
    * partitions already hold the complete new copy). Idempotent; returns
    * the number of partitions restored. After recovery the index is
    * byte-identical in content to its pre-compaction state and
    * compaction can be re-run.
    */
  def recover(spark: SparkSession, dir: String): Int = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"IndexCompact: no directory at $dir")
    val tmpRoot = new Path(root, "_compact_tmp")
    val oldRoot = new Path(root, "_compact_old")
    var restored = 0
    if (fs.exists(oldRoot)) {
      val markerPath = new Path(oldRoot, "_runid")
      // no marker means the run crashed before any file move — there is
      // nothing live to delete, only parked/tmp dirs to fold back in
      val runPrefix: Option[String] =
        if (fs.exists(markerPath)) {
          // read to EOF — a single read() may return a prefix on remote
          // filesystems, and a truncated run id would fail to delete the
          // interrupted run's moved-in files (their rows would duplicate
          // the restored originals)
          val in = fs.open(markerPath)
          try {
            val bos = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](64)
            var n = in.read(buf)
            while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
            Some("compact-" + bos.toString("UTF-8") + "-")
          } finally in.close()
        } else None
      fs.listStatus(oldRoot).filter(_.isDirectory).foreach { parked =>
        val live = new Path(root, parked.getPath.getName)
        if (fs.exists(live))
          runPrefix.foreach { pre =>
            fs.listStatus(live).filter(f =>
              f.isFile && f.getPath.getName.startsWith(pre))
              .foreach(f => fs.delete(f.getPath, false))
          }
        else fs.mkdirs(live)
        val parkedFiles = liveFiles(fs, parked.getPath)
        if (parkedFiles.nonEmpty) {
          parkedFiles.foreach(f =>
            renameOrAbort(fs, f.getPath, new Path(live, f.getPath.getName)))
          restored += 1
        }
      }
      fs.delete(oldRoot, true)
    }
    fs.delete(tmpRoot, true)
    fs.delete(new Path(root, "_compact_done"), true)
    restored
  }
}

/** One Hive-partitioned table of an [[IndexStore]]: its sub-directory
  * under the store's path, the id column a takedown matches, the
  * partition column, and — when the partition value is computable from
  * the id — how, read from the store at a path (only a delete reads it). */
final case class IndexTable(dir: String, idCol: String, partitionCol: String,
    partitionOf: Option[(SparkSession, String) => Column => Column] = None)

/** An index store declared once by its partitioned [[tables]]. Delete,
  * takedown log, compaction, recovery, the interrupted-run preflight and
  * the takedown preview are written here over that declaration, so
  * [[Takedown]] and the maintenance stages name no table, and a table
  * added to a store is deleted, logged, compacted and recovered with the
  * rest. Every method takes the store's root `path`. */
trait IndexStore {
  /** The store's `store_type` in takedown and maintenance views. */
  def storeType: String

  /** The partitioned tables, in delete order. */
  def tables: Seq[IndexTable]

  def tableDirs(path: String): Seq[String] = tables.map(t => s"$path/${t.dir}")

  def delete(spark: SparkSession, path: String, ids: Seq[Long]): IndexCompact.Deleted =
    delete(spark, path, IndexCompact.idFrame(spark, ids))

  /** DataFrame-native [[delete]]: `ids` is a one-column frame of ids (the
    * config surface passes its input view straight through — no
    * driver-side id collection). */
  def delete(spark: SparkSession, path: String, ids: DataFrame): IndexCompact.Deleted =
    delete(spark, path, IndexCompact.normalizeIds(ids))

  /** Takedown: remove `ids` from every declared table, each a crash-safe
    * staged rewrite ([[IndexCompact.deleteMatching]]) over ids normalized
    * once. Tables delete in declaration order, each logged to
    * [[graft.core.LogBuffer]] on completion: a failure BETWEEN tables
    * leaves the earlier ones deleted and the later ones live, the log
    * shows how far it got, and re-running the delete after [[recover]]
    * finishes the job (clean tables remove 0 rows). Id-derived partition
    * layouts are read before any table mutates. */
  def delete(spark: SparkSession, path: String,
      ids: IndexCompact.DeleteIds): IndexCompact.Deleted = {
    val layouts = tables.flatMap(_.partitionOf).distinct
      .map(f => f -> f(spark, path)).toMap
    IndexCompact.Deleted(ids.n, tables.map { t =>
      val removed = IndexCompact.deleteNormalized(spark, s"$path/${t.dir}",
        t.idCol, t.partitionCol, ids, t.partitionOf.map(layouts))
      graft.core.LogBuffer.append(
        s"$storeType delete at $path: ${t.dir} complete, $removed rows removed")
      removed
    })
  }

  /** Rows a [[delete]] of `ids` would remove, summed over the tables. */
  def previewMatches(spark: SparkSession, path: String,
      ids: IndexCompact.DeleteIds): Long =
    tables.map(t => IndexCompact.matchCount(spark, s"$path/${t.dir}", t.idCol, ids)).sum

  /** Union of the tables' takedown audit trails — one row per completed
    * per-table delete, so a full [[delete]] contributes one per table;
    * fewer rows for a run means it was interrupted (recover + re-run). */
  def takedownLog(spark: SparkSession, path: String): DataFrame =
    tableDirs(path).map(IndexCompact.takedownLog(spark, _)).reduce(_ unionByName _)

  /** Fold each table's takedown trail into one file; records folded. */
  def compactTakedownLog(spark: SparkSession, path: String): Int =
    tableDirs(path).map(d =>
      graft.core.AuditLog.compact(spark, IndexCompact.takedownLogDir(d))._2).sum

  /** Small-file maintenance of every table ([[IndexCompact.compactPartitioned]];
    * offline op, crash-recoverable via [[recover]]). Returns
    * (partitionsCompacted, filesBefore, filesAfter) summed over tables. */
  def compact(spark: SparkSession, path: String,
      maxFilesPerPartition: Int = 8): (Int, Long, Long) = {
    val results = tableDirs(path).map(
      IndexCompact.compactPartitioned(spark, _, maxFilesPerPartition))
    (results.map(_._1).sum, results.map(_._2).sum, results.map(_._3).sum)
  }

  /** [[IndexCompact.recover]] on every table; partitions restored. */
  def recover(spark: SparkSession, path: String): Int =
    tableDirs(path).map(IndexCompact.recover(spark, _)).sum

  /** Tables holding an interrupted rewrite's staging files — the
    * preflight [[Takedown]] runs before mutating any store. */
  def interruptedTables(spark: SparkSession, path: String): Seq[String] =
    tableDirs(path).filter(IndexCompact.hasInterruptedRun(spark, _))
}

object IndexStore {
  /** The [[graft.core.Local]] bound of a probe or ingest batch: up to this
    * many rows and bytes, [[IvfIndex]] and [[SemIndex]] collect the batch
    * once and assign it on the driver, and the minhash probe computes its
    * signatures there; above it the distributed path runs (the
    * measurement behind the pair: `plans/r24/local_bounds.txt`). */
  val BatchRows = 1024
  val BatchBytes: Long = 8L << 20

  /** The index stores a request names (empty URI = not named), in
    * fan-out and view order. */
  def named(minhashURI: String, spanURI: String, semURI: String,
      ivfURI: String): Seq[(IndexStore, String)] =
    Seq(MinhashIndex -> minhashURI, SpanIndex -> spanURI, SemIndex -> semURI,
      IvfIndex -> ivfURI).filter(_._2.nonEmpty)
}
