package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** A mergeable-sketch store: one `path/params` row, append-only shard
  * rows under `path/<shards>`, merged on read by grouping on `keys`
  * and folding `value` with `merge`, and compacted by writing the
  * merged table back as one shard. Valid for any merge that is
  * associative and commutative (HLL register max, count-min and
  * histogram cell sums): every merge/compaction sequence reads the
  * same sketch as one pass over the concatenated batches. Shard
  * writers never coordinate — an append is a plain parquet append.
  */
final case class ShardedSketch(shards: String, keys: Seq[String],
                               value: String, merge: Column => Column) {

  /** Create the store (overwrites `path`): the params row, then the
    * first shard. */
  def create(params: DataFrame, shard: DataFrame, path: String): Unit = {
    params.write.mode("overwrite").parquet(s"$path/params")
    shard.write.mode("overwrite").parquet(s"$path/$shards")
  }

  def params(spark: SparkSession, path: String): Row =
    spark.read.parquet(s"$path/params").head()

  def append(shard: DataFrame, path: String): Unit =
    shard.write.mode("append").parquet(s"$path/$shards")

  /** The merged sketch across all shards. */
  def merged(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/$shards")
      .groupBy(keys.map(col): _*).agg(merge(col(value)).as(value))

  /** Rewrite the shard backlog as one merged shard (reads unchanged).
    * Returns the (component, rows) manifest. */
  def compact(spark: SparkSession, path: String): DataFrame = {
    Component.replace(spark, path, shards) { tmp =>
      merged(spark, path).write.parquet(s"$tmp/$shards")
    }
    Component.manifest(spark, Component.rows(spark, path, shards))
  }
}
