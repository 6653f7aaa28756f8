package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** A store's tombstone table `path/<name>`: one `id` column of deleted
  * ids, append-only between compactions. Deletes never rewrite the
  * store; readers drop tombstoned ids BEFORE ranking (a masked hit
  * must not eat a rank slot), and a compaction applies the table and
  * clears it. The table rides into every probe as a broadcast
  * anti-join, so it must stay broadcast-scale between compactions.
  */
final case class Tombstones(name: String) {

  def dir(path: String): String = s"$path/$name"

  /** Append the ids `id` evaluates to over `ids` (deduplicated per
    * batch; batches may still overlap). */
  def add(ids: DataFrame, id: Column, path: String): Unit =
    ids.select(id.as("id")).distinct()
      .write.mode("append").parquet(dir(path))

  /** The distinct tombstoned ids; None when the store has no table
    * (never deleted from, or cleared). Raises when the table exists
    * but cannot be read. */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    Component.readIfExists(spark, dir(path)).map(_.select("id").distinct())

  /** Distinct tombstone count (0 without a table). */
  def count(spark: SparkSession, path: String): Long =
    read(spark, path).map(_.count()).getOrElse(0L)

  /** Drop the table — the store reads as "nothing deleted". */
  def clear(spark: SparkSession, path: String): Unit =
    Component.delete(spark, dir(path))

  /** Overwrite the table with an empty one of bigint ids (the graph
    * store keeps an empty table rather than none). */
  def reset(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    Seq.empty[Long].toDF("id").write.mode("overwrite").parquet(dir(path))
  }
}

object Tombstones {
  /** `tombstones`: the IVF family, EmbeddingStore and MinhashStore. */
  val Default: Tombstones = Tombstones("tombstones")
  /** `deletes`: the persisted graph index. */
  val Graph: Tombstones = Tombstones("deletes")
}
