package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Width

/** Wide↔long reshaping, re-expressing the reference's DuckDB UNPIVOT /
  * PIVOT pipeline (ref: /root/reference/R/ffiec_make_long_pqs.R:39
  * get_long, /root/reference/R/ffiec_pivot.R:61 ffiec_pivot) with
  * Spark's native operators:
  *
  *  - long(): `Dataset.unpivot` compiles to a single codegen'd Expand —
  *    one pass over the scan, no union-of-selects, value columns pruned
  *    to the requested data type *before* the Expand so the scan reads
  *    only matching columns.
  *  - wide(): `groupBy(...).pivot(col, values)` with an explicit value
  *    list. The reference requires an item list for stable output
  *    columns; we make it mandatory for the same reason (and so the plan
  *    is static). A long input under one MiB pivots as one task with no
  *    exchange ([[graft.plans.Width.narrowIfSmall]]); a larger one plans
  *    Spark's two-step PivotFirst aggregation with its shuffles.
  */
object LongPivot {

  /** Columns of `df` whose type equals `dtype`, minus the id columns. */
  def colsOfType(df: DataFrame, dtype: DataType, idCols: Seq[String]): Seq[String] =
    df.schema.fields
      .filter(f => f.dataType == dtype && !idCols.contains(f.name))
      .map(_.name).toSeq

  /** Unpivot all non-id columns of the given data type into
    * (idCols..., item, value), dropping NULL values and deduplicating —
    * exactly the reference's long-parquet semantics.
    *
    * Deduplicating plan shape: any duplicate long row shares its id
    * columns, so the input is hash-partitioned by idCols FIRST (narrow
    * rows, 1× data volume) and the long form is built with
    * explode-of-structs — Generate PRESERVES the child partitioning
    * (Expand does not: ExpandExec reports UnknownPartitioning), so the
    * dedup aggregate's ClusteredDistribution over
    * (idCols, item, value) is already satisfied and the plan carries
    * ONE exchange total. The naive unpivot().distinct() shuffles the
    * k×-expanded rows instead — k× the bytes, and at 100 TB the
    * difference between one narrow shuffle and one k×-wide one. */
  def long(df: DataFrame, idCols: Seq[String], dtype: DataType,
           distinct: Boolean = true): DataFrame = {
    val values = colsOfType(df, dtype, idCols)
    require(values.nonEmpty, s"no columns of type $dtype to unpivot")
    if (distinct && idCols.nonEmpty) {
      val iv = explode(array(values.map(c =>
        struct(lit(c).as("item"), col(c).as("value"))): _*)).as("iv")
      df.repartition(idCols.map(col): _*)
        .select(idCols.map(col) :+ iv: _*)
        .select(idCols.map(col) :+ col("iv.item").as("item")
          :+ col("iv.value").as("value"): _*)
        .where(col("value").isNotNull)
        .distinct()
    } else {
      df.unpivot(
        idCols.map(col).toArray, values.map(col).toArray, "item", "value")
        .where(col("value").isNotNull)
    }
  }

  /** Pivot a long table back to wide. `values_fn` ∈
    * {first, any_value, sum, max, min, count} mirrors the reference's
    * accepted DuckDB aggregates. `items` is the explicit pivot value
    * list (stable schema, no extra distinct-scan job). */
  def wide(long: DataFrame, idCols: Seq[String], namesFrom: String,
           valuesFrom: String, items: Seq[String],
           valuesFn: String = "first"): DataFrame = {
    val agg: Column = valuesFn match {
      case "first" | "any_value" => first(col(valuesFrom), ignoreNulls = true)
      case "sum"   => sum(col(valuesFrom))
      case "max"   => max(col(valuesFrom))
      case "min"   => min(col(valuesFrom))
      case "count" => count(col(valuesFrom))
      case other   => throw new IllegalArgumentException(s"unsupported values_fn: $other")
    }
    Width.narrowIfSmall(long)
      .where(col(namesFrom).isin(items: _*))
      .groupBy(idCols.map(col): _*)
      .pivot(namesFrom, items)
      .agg(agg)
  }

  /** item → sorted list of schedules that carry it (ref:
    * ffiec_make_long_pqs.R:119 make_schedule_pq). Input: one row per
    * (schedule, item); a sub-MiB input aggregates as one task. */
  def itemSchedules(scheduleItems: DataFrame): DataFrame =
    Width.narrowIfSmall(scheduleItems)
      .groupBy("item")
      .agg(sort_array(collect_set(col("schedule"))).as("schedules"))
}
