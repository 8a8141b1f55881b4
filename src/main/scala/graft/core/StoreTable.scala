package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

/** Opens a persisted store's parquet table with no Spark job.
  *
  * `spark.read.parquet(dir)` infers the data schema in a Spark job (one
  * task reading one footer), even with `mergeSchema` off — the fixed cost
  * every probe, ingest and takedown paid per table it opened. Here the
  * schema is read on the driver from the footer of the SAME file Spark's
  * inference reads (`ParquetUtils.inferSchema` in Spark 4.1: the first
  * `_common_metadata`, else the first `_metadata`, else the first data
  * file, each in path order over the listed leaf files), converted with
  * the session's converter settings and handed over as the user schema.
  * A fixed schema declared in code would be wrong — the IVF and sem stores
  * keep the caller's id type. Partition columns stay out of that schema,
  * so Spark discovers them from the directory names exactly as before.
  *
  * Paths with no data file at all read through plain `read.parquet`,
  * which keeps its own refusal ("Unable to infer schema").
  */
object StoreTable {

  /** The table at `dir`. */
  def read(spark: SparkSession, dir: String): DataFrame = read(spark, Seq(dir), None)

  /** The partition directories `dirs` of the table at `basePath`, with
    * the partition column (Spark's `basePath` option). */
  def read(spark: SparkSession, basePath: String, dirs: Seq[String]): DataFrame =
    read(spark, dirs, Some(basePath))

  /** `paths` read as one table, each path its own root unless `basePath`
    * names the common one. */
  def read(spark: SparkSession, paths: Seq[String], basePath: Option[String]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = basePath.foldLeft(spark.read)((r, b) => r.option("basePath", b))
    schemaFile(paths.map(new Path(_)), conf) match {
      case None => reader.parquet(paths: _*)
      case Some(file) =>
        val footer = ParquetFileReader.readFooter(conf, file, ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        reader.schema(schema).parquet(paths: _*)
    }
  }

  /** The file whose footer Spark's schema inference reads, among the leaf
    * files its file index lists under `roots`. */
  private def schemaFile(roots: Seq[Path],
      conf: org.apache.hadoop.conf.Configuration): Option[Path] = {
    val leaves = roots.flatMap { root =>
      val fs = root.getFileSystem(conf)
      if (fs.exists(root)) listLeaves(fs, fs.getFileStatus(root)) else Nil
    }.map(_.getPath).sortBy(_.toString)
    def named(n: String) = leaves.find(_.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(leaves.find(p => p.getName != "_common_metadata" && p.getName != "_metadata"))
  }

  /** Leaf files under `st`, skipping what Spark's file index skips
    * (`HadoopFSUtils.shouldFilterOutPathName`): names starting with `.`,
    * names starting with `_` unless they hold `=` (partition directories)
    * or are parquet summary files, and `._COPYING_` files. */
  private def listLeaves(fs: org.apache.hadoop.fs.FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq.filterNot(s => hidden(s.getPath.getName))
      .flatMap(listLeaves(fs, _))

  private def hidden(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    exclude && !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
  }
}
