package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted count-min shards — [[HllStore]]'s sibling for the
  * FREQUENCY question: counter cells are linear, so shard sketches
  * merge by cell-wise ADDITION (vs HLL's max), which is exactly the
  * sketch of the concatenated corpus. Shard writers append cell rows
  * with zero coordination; estimates merge at read time; compaction
  * bounds the backlog at d·width rows.
  *
  * 100 TB posture: identical to HllStore — a shard costs one
  * keys-only shuffle bounded by d·width regardless of corpus size,
  * and the corpus is never re-read after ingest. Point estimates
  * stay one-sided (never undercount) through any merge/compaction
  * sequence because addition preserves the per-cell upper-bound
  * property. Layout: `path/params` (d, width), `path/cells`
  * (row, col, c) across shard files — a [[graft.store.ShardedSketch]]
  * merged by sum.
  */
object CmsStore {

  private val sketch = graft.store.ShardedSketch("cells",
    Seq("row", "col"), "c", sum)

  private def readParams(spark: SparkSession, path: String): (Int, Int) = {
    val r = sketch.params(spark, path)
    (r.getAs[Int]("d"), r.getAs[Int]("width"))
  }

  /** Create the store from the first batch (overwrites `path`). */
  def write(df: DataFrame, textCol: String, path: String,
            d: Int = 4, width: Int = 1024): Unit = {
    import df.sparkSession.implicits._
    sketch.create(Seq((d, width)).toDF("d", "width"),
      TextAnalytics.countMinSketch(df, textCol, d, width), path)
  }

  /** Ingest another batch as a new shard (append-only cell rows). */
  def append(df: DataFrame, textCol: String, path: String): Unit = {
    val (d, width) = readParams(df.sparkSession, path)
    sketch.append(TextAnalytics.countMinSketch(df, textCol, d, width), path)
  }

  /** Merged cell table (cell-wise sum across all shards) — the sketch
    * of the concatenated batches. */
  def cells(spark: SparkSession, path: String): DataFrame =
    sketch.merged(spark, path)

  /** Frequency estimates for `terms` over the merged shards. */
  def estimate(spark: SparkSession, path: String,
               terms: Seq[String]): DataFrame = {
    val (d, width) = readParams(spark, path)
    TextAnalytics.cmsEstimate(cells(spark, path), terms, d, width)
  }

  /** Rewrite the shard backlog as one merged shard (estimates
    * unchanged — addition is associative). Returns (component, rows)
    * — the [[graft.store.ShardedSketch]] swap. */
  def compactStore(spark: SparkSession, path: String): DataFrame =
    sketch.compact(spark, path)
}
