package graft.store

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The threshold-driven maintenance decision every tombstone store
  * shares: compact when the tombstone backlog exceeds
  * `maxTombstoneFrac` of the stored rows, or when the store's own
  * file budget is exceeded. Each store supplies its own stats (what
  * counts as a row, which component's files it budgets); the
  * arguments are by-name, so a check short-circuits once it has
  * decided. Returns Some(compaction result) when maintenance ran,
  * None when the store is within budget.
  */
object Maintenance {

  def run[A](maxTombstoneFrac: Double, rows: => Long, tombstones: => Long,
             overBudget: => Boolean)(compact: => A): Option[A] = {
    require(maxTombstoneFrac >= 0.0,
      s"need maxTombstoneFrac >= 0, got $maxTombstoneFrac")
    val n = rows
    if ((n > 0 && tombstones.toDouble / n > maxTombstoneFrac) || overBudget)
      Some(compact)
    else None
  }

  /** Partitions of component `name` holding more than `maxFiles`
    * files (none when `maxFiles` <= 0, the disabled budget). */
  def partitionsOver(spark: SparkSession, path: String, name: String,
                     maxFiles: Int): Seq[String] =
    if (maxFiles <= 0) Nil
    else Component.fileStats(spark, path, name)
      .where(col("n_files") > maxFiles)
      .select("partition").collect().map(_.getString(0)).toSeq
}
