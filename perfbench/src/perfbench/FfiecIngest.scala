package perfbench

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{CombineParts, KeyChecks, LongPivot}
import graft.pipeline.FfiecPipeline
import graft.schema.FfiecSchema
import graft.sources.{Scan, ZipTsv}

/** The paper's path: two generated quarterly FFIEC bulk zips through
  * `FfiecPipeline.processAll` with default arguments, then the reads an
  * analyst runs on the result. */
object FfiecIngest extends Workload {
  private val Ids = Seq("IDRSSD", "date")
  /** read sets per round: one ingest, then several analysts' reads */
  private val ReadSets = 7
  private val Dtypes = Seq("float" -> DoubleType, "int" -> IntegerType,
    "str" -> StringType, "date" -> DateType, "bool" -> BooleanType)

  private var truth: Map[String, Any] = Map.empty
  private def raw(ctx: Ctx) = s"${ctx.inputs}/ffiec"
  private def items(t: Map[String, Any]): Seq[String] = t("pivot_items").asInstanceOf[Seq[String]]
  private var lastOut = ""
  private val DatedTable = """ffiec_(.+)_(\d{8})\.parquet""".r

  def prepare(ctx: Ctx): Unit = {
    truth = Main.readJson(s"${ctx.inputs}/ffiec_truth.json")
    // One small zip warms the pipeline's code paths, the schema
    // resolution included.
    val spark = ctx.spark
    val warmOut = ctx.path("ffiec_warm_out")
    val warmZip = FfiecPipeline.listZips(spark, s"${ctx.inputs}/ffiec_warm").head._1
    FfiecPipeline.processZip(spark, warmZip, warmOut, FfiecPipeline.resolveSchemaMap(spark, warmZip))
    reads(ctx, warmOut, items(Main.readJson(s"${ctx.inputs}/ffiec_warm_truth.json")))
    Files.delete(warmOut)
  }

  private def ingest(ctx: Ctx, in: String, out: String): Unit =
    ctx.timed("ingest_s")(FfiecPipeline.processAll(ctx.spark, in, out))

  /** The post-ingest reads an analyst runs on the written tables. */
  private def reads(ctx: Ctx, out: String, pivotItems: Seq[String]): Unit = {
    val spark = ctx.spark
    val q0 = System.nanoTime()
    ctx.timed("union_scan_s")(ctx.noop(Scan.unionByName(spark, s"$out/ffiec_rc_*.parquet")))
    ctx.timed("pivot_wide_s")(ctx.noop(LongPivot.wide(
      spark.read.parquet(s"$out/ffiec_float_*.parquet"), Ids, "item", "value", pivotItems)))
    val ok = ctx.timed("pk_check_s")(KeyChecks.checkPkAndNonNull(
      spark.read.parquet(s"$out/ffiec_float_*.parquet"), Ids :+ "item"))
    ctx.record("query_s", (System.nanoTime() - q0) / 1e9)
    ctx.facts("pk_ok") = ok && ctx.facts.getOrElse("pk_ok", true) == true
  }

  /** `processAll` memoizes the schema map per input directory, so each
    * round reads hard links of the generated zips from a directory of its
    * own and resolves the schema the way a one-shot run does. */
  def round(ctx: Ctx, i: Int): Unit = {
    val in = Files.linkAll(raw(ctx), ctx.path(s"ffiec_in_$i"))
    val out = ctx.path(s"ffiec_out_$i")
    ingest(ctx, in, out)
    (1 to ReadSets).foreach(_ => reads(ctx, out, items(truth)))
    Files.delete(in)
    if (lastOut.nonEmpty) Files.delete(lastOut)
    lastOut = out
  }

  def collect(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val out = lastOut
    val pivotItems = items(truth)
    ctx.facts("rows") = Files.list(out).map(_.getName).collect {
      case n @ DatedTable(kind, d) => s"${kind}_$d" -> spark.read.parquet(s"$out/$n").count()
    }.toMap
    ctx.facts("float_sums") = spark.read.parquet(s"$out/ffiec_float_*.parquet")
      .groupBy(date_format(col("date"), "yyyyMMdd").as("d"), col("item"))
      .agg(sum(col("value")).as("s")).collect()
      .map(r => s"${r.getString(0)}|${r.getString(1)}" -> r.getDouble(2)).toMap
    ctx.facts("manifest") = spark.read.parquet(s"$out/ffiec_process_data.parquet")
      .collect().map(r => Map("kind" -> r.getAs[String]("kind"), "type" -> r.getAs[String]("tpe"),
        "date" -> r.getAs[String]("dateRaw"), "ok" -> r.getAs[Boolean]("ok"),
        "repairs" -> r.getAs[Seq[String]]("repairs"))).toList
    val union = Scan.unionByName(spark, s"$out/ffiec_rc_*.parquet")
    val added = truth("added_item").toString
    ctx.facts("union_rows") = union.count()
    ctx.facts("union_added_null_rows") = union.where(col(added).isNull).count()
    val sums = pivotItems.map(c => sum(col(c)).as(c))
    val pivoted = LongPivot.wide(spark.read.parquet(s"$out/ffiec_float_*.parquet"),
      Ids, "item", "value", pivotItems).agg(sums.head, sums.tail: _*).collect().head
    ctx.facts("pivot_sums") = pivotItems.map(c => c -> pivoted.getAs[Double](c)).toMap
    val stored = Files.walk(out).filter(f => f.getName.endsWith(".parquet") && f.isFile)
    ctx.facts("files_written") = stored.size
    ctx.facts("bytes_written") = stored.map(_.length).sum
  }

  def decompose(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val zips = FfiecPipeline.listZips(spark, raw(ctx)).map(_._1)
    val schemaMap = FfiecPipeline.resolveSchemaMap(spark, zips.head)
    val members = zips.flatMap(z => tr.span("sources.list_members")(ZipTsv.listMembers(spark, z)))
    val sched = members.filter(_.schedule.isDefined)
    val specs = sched.map { m =>
      val h = tr.span("sources.header")(ZipTsv.memberHeader(spark, m.zip, m.file))
      m -> FfiecSchema.colSpec(h, schemaMap)
    }
    var repaired = 0L
    specs.foreach { case (m, spec) =>
      val obs = org.apache.spark.sql.Observation(s"rep_${m.file.hashCode}_${System.nanoTime}")
      val df = ZipTsv.readMember(spark, m.zip, m.file, spec)
        .observe(obs, sum(when(size(col("_repairs")) > 0, 1L).otherwise(0L)).as("n"))
      tr.span("sources.member_read")(ctx.noop(df))
      repaired += Option(obs.get.getOrElse("n", null)).map(_.asInstanceOf[Long]).getOrElse(0L)
    }
    zips.foreach { z =>
      tr.span("sources.inflate_floor") {
        val in = new java.util.zip.ZipInputStream(new java.io.FileInputStream(
          new org.apache.hadoop.fs.Path(z).toUri.getPath))
        val buf = new Array[Byte](1 << 16)
        try while (in.getNextEntry != null) while (in.read(buf) > 0) {} finally in.close()
      }
    }
    // multipart schedules: parts materialized first so the span holds the join alone
    sched.groupBy(m => (m.zip, m.schedule.get, m.dateRaw)).values
      .filter(_.size > 1).foreach { ms =>
        val parts = ms.sortBy(_.part.getOrElse(1)).map { m =>
          val spec = specs.find(_._1 == m).get._2
          ZipTsv.readMember(spark, m.zip, m.file, spec).drop("_repairs", "_problems")
            .localCheckpoint(true)
        }
        tr.span("operators.combine_parts")(ctx.noop(CombineParts.combine(parts)))
      }
    ctx.release()
    val out = lastOut
    val dates = truth("dates").asInstanceOf[Map[String, Any]].keys.toSeq.sorted
    val wides = Files.list(out).map(_.getName)
      .filter(n => n.startsWith("ffiec_") && !Dtypes.exists(d => n.startsWith(s"ffiec_${d._1}_")) &&
        !n.startsWith("ffiec_schedules_") && !n.startsWith("ffiec_process"))
    for (d <- dates; (dname, dtype) <- Dtypes) {
      val longs = wides.filter(_.endsWith(s"_$d.parquet")).flatMap { n =>
        val wide = spark.read.parquet(s"$out/$n")
        if (LongPivot.colsOfType(wide, dtype, Ids).isEmpty) None
        else Some(LongPivot.long(wide, Ids, dtype, distinct = false))
      }
      if (longs.nonEmpty)
        tr.span("operators.long_unpivot")(ctx.noop(longs.reduce(_.unionByName(_)).distinct()))
      val stored = new File(s"$out/ffiec_${dname}_$d.parquet")
      if (stored.exists)
        tr.span("operators.key_check")(KeyChecks.assertNoDups(
          spark.read.parquet(stored.getAbsolutePath), Ids :+ "item"))
    }
    zips.zipWithIndex.foreach { case (z, i) =>
      val o = ctx.path(s"ffiec_zip_$i")
      tr.span("pipeline.process_zip")(FfiecPipeline.processZip(spark, z, o, schemaMap))
      Files.delete(o)
    }
    val header = tr.total("sources.header")
    val read = tr.total("sources.member_read")
    val floor = tr.total("sources.inflate_floor")
    ctx.layers ++= Seq(
      "sources.list_members_s" -> tr.total("sources.list_members"),
      "sources.header_s" -> header,
      "sources.member_read_s" -> read,
      "sources.inflate_floor_s" -> floor,
      "sources.inflate_efficiency" -> floor / (header + read),
      "sources.rows_repaired" -> repaired,
      "operators.combine_parts_s" -> tr.total("operators.combine_parts"),
      "operators.long_unpivot_s" -> tr.total("operators.long_unpivot"),
      "operators.key_check_s" -> tr.total("operators.key_check"),
      "pipeline.process_zip_s" -> Stats.median(tr.seconds("pipeline.process_zip")))
  }
}

/** Small local-filesystem helpers (outputs live under the run's work dir). */
object Files {
  def list(dir: String): Seq[File] = Option(new File(dir).listFiles()).map(_.toSeq).getOrElse(Nil)
  def walk(dir: String): Seq[File] = list(dir).flatMap(f =>
    if (f.isDirectory) walk(f.getAbsolutePath) else Seq(f))
  /** Hard links of every file in `from` in a new directory `to`; returns `to`. */
  def linkAll(from: String, to: String): String = {
    new File(to).mkdirs()
    list(from).foreach(f => java.nio.file.Files.createLink(new File(to, f.getName).toPath, f.toPath))
    to
  }
  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) list(path).foreach(c => delete(c.getAbsolutePath))
    f.delete()
  }
}
