package graft.sources

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Parquet corpus scanning with schema evolution, re-expressing
  * `ffiec_scan_pqs(union_by_name = TRUE)` and `ffiec_list_pqs`
  * (ref: /root/reference/R/ffiec_manifest.R:217, ffiec_process.R:622).
  */
object Scan {

  /** Scan a parquet glob, unioning files by column *name* — the way
    * DuckDB's union_by_name does: missing columns read as NULL, and
    * pushdown and pruning still reach every file. A small glob (at most
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` data
    * files, Spark's own cutoff for listing file metadata on the driver)
    * whose footers all carry Spark's row schema and agree on every
    * column's type is merged on the driver ([[footerSchema]]), so the
    * scan launches no schema-merge job, and it reads the paths the glob
    * resolved to, so Spark neither globs again nor stats the literal
    * glob. Any other glob goes through Spark's `mergeSchema` read, which
    * raises Spark's own error on a type conflict or, for a glob that
    * matches nothing, on the missing path. */
  def unionByName(spark: SparkSession, glob: String,
                  keepFilename: Boolean = false): DataFrame = {
    val df = footerSchema(spark, glob) match {
      case Some((schema, paths)) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(glob)
    }
    if (keepFilename) df.withColumn("filename", input_file_name()) else df
  }

  private val RowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`):
    * names it skips as hidden or in-flight. Parquet summary files
    * (`_metadata`, `_common_metadata`) are kept by Spark and counted
    * here as not hidden. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  /** The schema `mergeSchema` would infer for `glob`, merged on the
    * driver from the footers' Spark row schemas (fields by name in
    * first-seen order over the data files sorted by path, all
    * nullable), and the paths the glob matched. None — take Spark's
    * read — when the glob matches nothing or more data files than the
    * discovery threshold, when a match holds a subdirectory
    * (partitioned or nested data) or a summary file, when a footer
    * cannot be read or has no row schema, when a match is a streaming
    * sink's output (its `_spark_metadata` log decides which files
    * count), or when one column name carries two types (or,
    * case-insensitively, two spellings). */
  private[sources] def footerSchema(spark: SparkSession,
                                    glob: String): Option[(StructType, Seq[String])] = {
    val threshold = spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    Try {
      val pattern = new Path(glob)
      val fs = pattern.getFileSystem(conf)
      val roots = Option(fs.globStatus(pattern)).toSeq.flatten
      if (roots.isEmpty || roots.size > threshold ||
          roots.exists(r => hidden(r.getPath.getName))) None
      else {
        val listed = roots.flatMap(r =>
          if (r.isDirectory) fs.listStatus(r.getPath).toSeq else Seq(r))
        val files = listed.filterNot(f => hidden(f.getPath.getName))
          .sortBy(_.getPath.toString)
        if (files.isEmpty || files.size > threshold ||
            files.exists(f => f.isDirectory || f.getPath.getName.startsWith("_")) ||
            listed.exists(_.getPath.getName == "_spark_metadata")) None
        else mergeFields(files.map(rowSchema(conf, _)), caseSensitive)
          .map(_ -> roots.map(_.getPath.toString))
      }
    }.toOption.flatten
  }

  /** A footer's Spark row schema; throws when the footer has none. */
  private def rowSchema(conf: Configuration, file: FileStatus): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val json = try reader.getFileMetaData.getKeyValueMetaData.get(RowSchemaKey)
      finally reader.close()
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  private def mergeFields(schemas: Seq[StructType],
                          caseSensitive: Boolean): Option[StructType] = {
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    val agree = schemas.iterator.flatMap(_.fields).forall { f =>
      val key = if (caseSensitive) f.name else f.name.toLowerCase(java.util.Locale.ROOT)
      merged.get(key) match {
        case None => merged(key) = f.copy(nullable = true); true
        case Some(seen) => seen.name == f.name && seen.dataType == f.dataType
      }
    }
    if (agree) Some(StructType(merged.values.toSeq)) else None
  }

  /** Union an explicit list of DataFrames by name, tolerating missing
    * columns (the in-memory twin of the glob scan). */
  def unionFramesByName(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "nothing to union")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** One row per written parquet file with parsed (schedule, date) —
    * the reference's `ffiec_list_pqs` (ref: ffiec_process.R:622).
    * `allFiles=false` keeps only `*_YYYYMMDD.parquet` names. Driver-side
    * FS metadata listing (manifest-scale, like the reference). */
  case class PqFile(baseName: String, fullName: String,
                    schedule: String, dateRaw: Option[String])

  private val datedPq = """_(\d{8})\.parquet$""".r

  def listPqs(spark: SparkSession, dataDir: String, prefix: String = "",
              allFiles: Boolean = false): Seq[PqFile] = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dataDir)
    val fs = p.getFileSystem(conf)
    val listing =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
    listing
      .map { path =>
        val base = path.getName
        PqFile(base, path.toString, extractSchedule(base, prefix),
          datedPq.findFirstMatchIn(base).map(_.group(1)))
      }
      .filter(f => allFiles || f.dateRaw.isDefined)
      .sortBy(f => (f.schedule, f.dateRaw))
  }

  /** Schedule id from a parquet basename `{prefix}{schedule}_YYYYMMDD
    * .parquet` (ref: ffiec_process.R:656 extract_schedule). */
  def extractSchedule(baseName: String, prefix: String = ""): String = {
    val x = if (prefix.nonEmpty && baseName.startsWith(prefix))
      baseName.substring(prefix.length) else baseName
    x.replaceAll("_\\d{8}\\.parquet$", "")
  }
}
