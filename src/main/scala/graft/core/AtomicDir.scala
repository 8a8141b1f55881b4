package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.json4s._

/** Temp-then-rename replacement for small metadata directories (index
  * params, bloom bitmaps): a plain Spark `mode("overwrite")` DELETES the
  * old output before writing the new one, so a crash mid-overwrite leaves
  * the directory empty and whatever depends on it unreadable. The swap
  * keeps a complete copy on disk at every instant except the tiny
  * delete→rename gap, and [[recoverLive]] closes that gap on the read
  * side by completing the interrupted rename.
  *
  * It also owns the params record format of every persistent index
  * ([[graft.llm.SemIndex]], [[graft.llm.SpanIndex]],
  * [[graft.llm.MinhashIndex]]): [[writeRecord]] / [[readRecord]] move the
  * one-line JSON record on the driver through Hadoop `FileSystem` alone —
  * no Spark job, no commit protocol — and a dir in Spark's JSON output
  * layout (`part-*` plus `_SUCCESS`/`.crc`, as older builds wrote it)
  * reads back the same way. The crash-safety invariants and the format
  * live here, not in per-index copies; the stores keep only their field
  * names and legacy defaults.
  */
object AtomicDir {

  private def tmpPath(liveDir: String) = new Path(liveDir + "_tmp")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace `liveDir`: `writeTmp` writes the COMPLETE new copy to the
    * tmp path it is given (typically a Spark `mode("overwrite")` write —
    * overwriting the tmp dir also absorbs leftovers of a crash mid-tmp-
    * write), then delete-live + checked-rename swaps it in. */
  def swap(spark: SparkSession, liveDir: String)(writeTmp: String => Unit): Unit = {
    val live = new Path(liveDir)
    val tmp = tmpPath(liveDir)
    val fs = fsOf(spark, live)
    writeTmp(tmp.toString)
    fs.delete(live, true)
    require(fs.rename(tmp, live),
      s"AtomicDir: swap rename failed ($tmp -> $live) — the tmp dir holds " +
        "the complete copy; the next read recovers it")
  }

  /** Complete an interrupted [[swap]] before reading: a crash between its
    * delete and rename leaves the only complete copy at `<liveDir>_tmp`.
    * Call before every read of a swapped directory. */
  def recoverLive(spark: SparkSession, liveDir: String): Unit = {
    val live = new Path(liveDir)
    val tmp = tmpPath(liveDir)
    val fs = fsOf(spark, live)
    if (!fs.exists(live) && fs.exists(tmp))
      require(fs.rename(tmp, live),
        s"AtomicDir: recovering $live from $tmp failed")
  }

  /** Replace `dir` with ONE JSON record ([[Json.obj]] of `fields`) through
    * [[swap]]: the tmp dir is cleared first (a crash mid-write can leave a
    * partial one), the record is written to `part-00000.json` and closed,
    * and only then does the swap delete the live copy. */
  def writeRecord(spark: SparkSession, dir: String, fields: Seq[(String, Any)]): Unit =
    swap(spark, dir) { tmpDir =>
      val tmp = new Path(tmpDir)
      val fs = fsOf(spark, tmp)
      fs.delete(tmp, true)
      val out = fs.create(new Path(tmp, "part-00000.json"), false)
      try out.write((Json.obj(fields) + "\n").getBytes("UTF-8")) finally out.close()
    }

  /** Read the one record in `dir` on the driver, after [[recoverLive]].
    * Hidden files (`_SUCCESS`, `.crc`) are skipped; anything but exactly
    * one record fails naming the dir. */
  def readRecord(spark: SparkSession, dir: String): Record = {
    recoverLive(spark, dir)
    val live = new Path(dir)
    val fs = fsOf(spark, live)
    val lines = fs.listStatus(live).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map { f =>
      val in = fs.open(f.getPath)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }.mkString("\n").split('\n').filter(_.trim.nonEmpty)
    require(lines.length == 1, s"AtomicDir: expected one record in $dir, found ${lines.length}")
    org.json4s.jackson.JsonMethods.parse(lines.head) match {
      case JObject(kvs) => new Record(dir, kvs.toMap)
      case _ => throw new IllegalArgumentException(s"AtomicDir: the record in $dir is not an object")
    }
  }

  /** A record read by [[readRecord]]: typed access by field name. A field
    * of the wrong JSON type fails naming it and the dir; so does a missing
    * one, unless the caller passes the default older stores read as. */
  final class Record private[AtomicDir] (dir: String, fields: Map[String, JValue]) {
    private def get[T](name: String, default: => T)(pf: PartialFunction[JValue, T]): T =
      fields.get(name).fold(default)(v => pf.applyOrElse(v, (_: JValue) =>
        throw new IllegalArgumentException(s"AtomicDir: field '$name' in $dir has the wrong type: $v")))
    private def missing(name: String): Nothing =
      throw new IllegalArgumentException(s"AtomicDir: field '$name' missing in $dir")

    def long(name: String, default: => Long): Long =
      get(name, default) { case JInt(v) if v.isValidLong => v.toLong }
    def long(name: String): Long = long(name, missing(name))
    def double(name: String): Double =
      get(name, missing(name)) { case JDouble(v) => v }
    def string(name: String): String = get(name, missing(name)) { case JString(v) => v }
  }
}
