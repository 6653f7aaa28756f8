package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout operators: multi-dimensional clustering for
  * pruned scans. At 100 TB the dominant cost of a selective query is
  * the bytes the scan cannot skip; parquet skips row groups via
  * min/max stats, which only bite when the writer co-located similar
  * values. A single-column sort clusters ONE predicate column;
  * Z-ORDER interleaving clusters several at once, so range filters on
  * any subset of the z columns each skip most files.
  * (Same layout idea as Delta/Iceberg `ZORDER BY` — re-expressed here
  * as plain Spark: a derived column + repartitionByRange + local sort;
  * nothing engine-specific.)
  */
object Layout {

  /** Z-value (Morton code) of `cols`: the low `bits` bits of each
    * column bit-interleaved into one long — bit `b` of column `i`
    * lands at output bit `b * cols.size + i`, so the z-order curve
    * alternates between dimensions at every bit level. Pure codegen
    * bit arithmetic (no UDF); `bits * cols.size` must fit a long.
    * Intended for non-negative integer keys (ids, bucketed/ranked
    * values); values wider than `bits` bits wrap within their tile,
    * which preserves locality inside each `2^bits` span. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "zValue needs at least one column")
    require(bits > 0 && bits * cols.size <= 63,
      s"bits * cols must fit a signed long, got $bits * ${cols.size}")
    val k = cols.size
    cols.zipWithIndex.map { case (c, i) =>
      (0 until bits).map { b =>
        shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * k + i)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Write `df` as parquet clustered on the z-order curve of `cols`:
    * one range shuffle on the z-value (sampled split points → equal
    * output files, no hot file), a per-file local sort, and the
    * helper column dropped before the bytes hit disk. Every output
    * file then covers a small tile of the multi-dimensional key
    * space, so parquet row-group stats prune scans filtering on ANY
    * of the z columns — the layout is built once and every downstream
    * selective query pays fewer bytes. */
  def zorderWrite(df: DataFrame, cols: Seq[String], bits: Int,
                  numFiles: Int, path: String): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    df.withColumn("__graft_z", zValue(cols.map(col), bits))
      .repartitionByRange(numFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Assign items (files) to compaction bins by EXCLUSIVE cumulative
    * size over a deterministic order (size DESC, id ASC):
    * bin = cum_before div targetBytes. A bin can overshoot the target
    * by at most its last item — the same slicing rule Spark's
    * files.maxPartitionBytes applies to splits — in exchange for a
    * rule that is a pure window expression (SQL-replayable, the q88
    * oracle) instead of a sequential first-fit loop. The manifest is
    * one row per FILE (metadata-scale even for a 100 TB table), which
    * is what makes the single-partition window acceptable here and
    * nowhere else. Output: (id, size, bin). */
  def packBySize(manifest: DataFrame, idCol: String, sizeCol: String,
                 targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    manifest.select(col(idCol), col(sizeCol),
      expr(s"coalesce(sum($sizeCol) over (order by $sizeCol desc, $idCol asc " +
        s"rows between unbounded preceding and 1 preceding), 0L) div ${targetBytes}L")
        .as("bin"))
  }

  /** Small-file compaction: plan bins over the directory's file
    * manifest ([[packBySize]]), then rewrite each bin as ONE output
    * file (coalesce(1) append — no shuffle; each task streams its
    * bin's files). Returns the bin manifest (bin, n_files, bytes).
    * Bins are written sequentially here; at fleet scale run the bins
    * through [[graft.plans.DriverPool.awaitAll]], as
    * FfiecPipeline.processAll runs its writes — Spark schedules
    * concurrent jobs fine. */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
              outDir: String, targetBytes: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    val p = new Path(inDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString, s.getLen))
    require(files.nonEmpty, s"no parquet files under $inDir")
    import spark.implicits._
    val plan = packBySize(files.toDF("file", "bytes"), "file", "bytes", targetBytes)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    plan.groupBy(_._3).toSeq.sortBy(_._1).foreach { case (_, group) =>
      spark.read.parquet(group.map(_._1): _*)
        .coalesce(1)
        .write.mode("append").parquet(outDir)
    }
    plan.groupBy(_._3).toSeq.sortBy(_._1)
      .map { case (bin, g) => (bin, g.size.toLong, g.map(_._2).sum) }
      .toDF("bin", "n_files", "bytes")
  }
}
