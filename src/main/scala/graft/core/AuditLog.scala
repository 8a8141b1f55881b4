package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Append-only JSON evidence records — the shared writer/reader behind
  * every takedown audit trail ([[graft.llm.IndexCompact.takedownLog]] for
  * the partitioned index tables, [[graft.llm.WordCounts]]/
  * [[graft.llm.NaiveBayes]] for the swapped count stores). One record =
  * one file named by its run id, written in a single create+close — no
  * partial records, no coordination between writers.
  *
  * Placement is the CALLER's concern and matters: parquet table dirs keep
  * the log INSIDE (`table/_takedown_log/` — the `_` prefix keeps reads
  * blind to it), but [[AtomicDir]]-swapped stores replace their whole
  * directory on every write, so their log must live in a SIBLING dir
  * (`store_takedown_log/`, the `store_tmp` naming convention) or evidence
  * would vanish with each rewrite.
  */
object AuditLog {

  /** Write one record to `logDir/<runId>.json`. Values render as JSON
    * numbers when numeric, strings (escaped) otherwise; `runId` and
    * `completedAtMs` are appended automatically. */
  def append(spark: SparkSession, logDir: String, fields: Seq[(String, Any)],
      runId: String = java.util.UUID.randomUUID().toString): Unit = {
    val dir = new Path(logDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val body = Json.obj(fields :+ ("runId" -> runId) :+
      ("completedAtMs" -> System.currentTimeMillis()))
    val out = fs.create(new Path(dir, s"$runId.json"), true)
    out.write(body.getBytes("UTF-8")); out.close()
  }

  /** Read a log directory back under an explicit schema; empty frame
    * (same schema) when no record was ever written. */
  def read(spark: SparkSession, logDir: String, schema: StructType): DataFrame = {
    val dir = new Path(logDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir))
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).json(dir.toString)
  }

  /** Maintenance: fold the one-file-per-record log into ONE combined
    * JSON-lines file, rows preserved byte-for-byte, read path unchanged
    * (`spark.read.json` treats the combined file as JSON Lines). The
    * one-record-one-file write discipline is right at legal-takedown
    * cadence, but the streaming-takedown pattern (one record per
    * micro-batch PER TABLE) accumulates thousands of KB files — this is
    * the mop-up, run at ingest-maintenance cadence like
    * [[graft.llm.IndexCompact.compactPartitioned]].
    *
    * Crash discipline (single-writer, like every store here; run it in
    * the maintenance window, not concurrently with log reads): (1) any
    * interrupted run is recovered first — the `_compacting/` staging dir
    * holds a `_target` marker naming its combined file, so recovery knows
    * whether that run committed (live `compact-<id>.json` exists ⇒ parked
    * originals are duplicates, discard them) or not (restore the parked
    * originals, discard the invisible partial output); (2) live record
    * files move into `_compacting/` (atomic per-file renames —
    * `_`-prefixed dirs are invisible to Spark reads); (3) the combined
    * file is written `_`-prefixed (invisible while partial) and renamed
    * live in ONE atomic step; (4) staging is discarded. At every crash
    * point each record exists exactly once in the union of {live files,
    * parked originals}, and recovery resolves which copy wins from the
    * marker. Returns (filesBefore, recordsCompacted). */
  def compact(spark: SparkSession, logDir: String): (Int, Int) = {
    val dir = new Path(logDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return (0, 0)
    val staging = new Path(dir, "_compacting")
    // recover an interrupted run: the _target marker names the combined
    // file that run intended; its presence LIVE means the run committed
    // past step (3) and the parked files are pure duplicates
    if (fs.exists(staging)) {
      val marker = new Path(staging, "_target")
      val targetName: Option[String] =
        if (!fs.exists(marker)) None
        else {
          // read to EOF — a single read() may return a PREFIX on remote
          // filesystems, and a truncated name would misclassify a
          // committed run as uncommitted (restoring parked duplicates
          // next to the live combined file: evidence duplication)
          val in = fs.open(marker)
          val name = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          Some(name).filter(_.nonEmpty)
        }
      val committed = targetName.exists(n => fs.exists(new Path(dir, n)))
      if (!committed) {
        fs.listStatus(staging).filter(s => s.isFile &&
            !s.getPath.getName.startsWith("_"))
          .foreach(f => require(
            fs.rename(f.getPath, new Path(dir, f.getPath.getName)),
            s"AuditLog.compact: recovery rename failed for ${f.getPath}"))
        // a partial, never-committed combined file is invisible garbage
        targetName.foreach(n => fs.delete(new Path(dir, s"_$n"), false))
      }
      fs.delete(staging, true)
    }
    val live = fs.listStatus(dir).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    if (live.length <= 1) return (live.length, 0)
    val combinedName = s"compact-${java.util.UUID.randomUUID()}.json"
    fs.mkdirs(staging)
    val marker = fs.create(new Path(staging, "_target"), true)
    marker.write(combinedName.getBytes("UTF-8")); marker.close()
    live.foreach(f => require(
      fs.rename(f.getPath, new Path(staging, f.getPath.getName)),
      s"AuditLog.compact: rename failed for ${f.getPath} — aborting; " +
        "re-running compact recovers"))
    // records are single-line JSON objects (this writer's format; an
    // earlier compact's output is already newline-joined lines)
    val lines = fs.listStatus(staging)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
      .flatMap { f =>
        val in = fs.open(f.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray
        finally in.close()
      }
    val tmpOut = new Path(dir, s"_$combinedName")
    val out = fs.create(tmpOut, true)
    out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    require(fs.rename(tmpOut, new Path(dir, combinedName)),
      s"AuditLog.compact: commit rename failed for $tmpOut")
    fs.delete(staging, true)
    (live.length, lines.length)
  }
}
