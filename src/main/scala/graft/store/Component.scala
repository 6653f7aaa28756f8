package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One named directory of a persisted store (`path/<name>`): the
  * optional-component read, the compaction swap, the (component,
  * rows) manifest and the file-layout listing that every store in
  * `graft.operators` shares. The stores declare WHAT
  * their components hold; this object is the one place that decides
  * HOW a component is read, replaced and measured.
  */
object Component {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    fsOf(spark, p).delete(p, true)
  }

  /** Optional-component read: None when the directory is absent (a
    * store that never had the component — no tombstones yet, no codes
    * sidecar), decided by one metadata call, not by catching a failed
    * read. A directory that EXISTS but Spark cannot read raises: a
    * corrupt tombstone table must not read as "nothing deleted". */
  def readIfExists(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(dir)
    if (fsOf(spark, p).exists(p)) Some(spark.read.parquet(dir)) else None
  }

  /** Replace the components `names` of the store at `path` with what
    * `write` lands under the scratch root it is given: the new copy of
    * `name` is `<root>/<name>`. A name may be a nested path (one
    * partition, `cells/cell=3`); a name `write` did not produce is
    * gone, so its live copy is deleted and nothing takes its place.
    * Each live component is deleted and the new one renamed into place
    * only after `write` returns, so a write that throws leaves every
    * live component readable and unchanged (and its partial output is
    * removed). The swap itself is delete-then-rename per component —
    * not atomic with respect to concurrent readers, so run compactions
    * in a maintenance window; a rename that fails raises and leaves
    * the scratch root in place for recovery. Returns what `write`
    * returned. */
  def replace[A](spark: SparkSession, path: String, names: String*)
                (write: String => A): A = {
    val tmp = new Path(s"$path/_compact_tmp")
    val fs = fsOf(spark, tmp)
    fs.delete(tmp, true)
    val out =
      try write(tmp.toString)
      catch { case e: Throwable => fs.delete(tmp, true); throw e }
    names.foreach { c =>
      val (src, dst) = (new Path(tmp, c), new Path(s"$path/$c"))
      fs.delete(dst, true)
      if (fs.exists(src) && !fs.rename(src, dst))
        throw new java.io.IOException(
          s"rename $src -> $dst failed; the new copy stays under $tmp")
    }
    fs.delete(tmp, true)
    out
  }

  /** (name, row count) of a live component — one manifest row. */
  def rows(spark: SparkSession, path: String, name: String): (String, Long) =
    name -> spark.read.parquet(s"$path/$name").count()

  /** The (component, rows) manifest every compaction returns. */
  def manifest(spark: SparkSession, rows: (String, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("component", "rows")
  }

  /** Per-partition FILE layout of a component — the small-file
    * accretion metric the maintenance checks read: every append lands
    * at least one file per touched partition directory until a
    * compaction coalesces them. One driver-side recursive listing
    * (scale of the partition count, never the rows). Output:
    * (partition, n_files, bytes) — `partition` is the directory path
    * relative to the component root ("" for unpartitioned files). */
  def fileStats(spark: SparkSession, path: String,
                name: String): DataFrame = {
    import spark.implicits._
    val dir = new Path(s"$path/$name")
    val fs = fsOf(spark, dir)
    // qualified root so relativize works against the (scheme-
    // qualified) listing paths
    val root = fs.makeQualified(dir)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (!st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")) {
          val rel = root.toUri.relativize(st.getPath.getParent.toUri)
            .getPath.stripSuffix("/")
          acc += ((rel, st.getLen))
        }
      }
    walk(root)
    acc.toSeq.toDF("partition", "bytes")
      .groupBy("partition")
      .agg(count(lit(1)).as("n_files"), sum("bytes").as("bytes"))
  }
}
