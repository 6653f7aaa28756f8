package graft.pipeline

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Ffiec
import graft.operators.{CombineParts, LongPivot}
import graft.plans.{DriverPool, Width}
import graft.schema.FfiecSchema
import graft.sources.ZipTsv

/** End-to-end re-expression of the reference's `ffiec_process`
  * (ref: /root/reference/R/ffiec_process.R:377 process_ffiec_zip):
  * one FFIEC bulk zip → per-schedule wide parquet → long parquet per
  * data type → item/schedule metadata → POR parquet → a manifest row
  * per written file.
  *
  * Scale shape: each (schedule, date) group reads its members in
  * parallel tasks (one task per member). Every zip of a call (one for
  * processZip, the whole directory for processAll, one micro-batch for
  * processStream) shares ONE pair of phases of independent writes, each
  * phase submitted together from a driver pool bounded by the session's
  * defaultParallelism: phase 1 writes every zip's wide schedule tables
  * and POR tables; phase 2 writes every (date, dtype) long table (a
  * per-schedule unpivot + union + one aggregate per (IDRSSD, date, item)
  * key that keeps the value and fails the plan on a broken key, in one
  * job: one task and no shuffle when the union is under one MiB, else
  * one shuffle on (IDRSSD, date)) and every date's schedules metadata.
  * The report date reaches every table as row data and the read
  * diagnostics as task-side counters, so a schedule whose columns do
  * not change between quarters plans the same generated code each
  * quarter and reuses the classes Spark's codegen cache holds.
  * The many small jobs of a fleet thus share the cores instead of
  * queueing behind each other's dispatch, with the driver's thread
  * count fixed whatever the zip count — the reference's
  * furrr::future_map_dfr.
  */
object FfiecPipeline {

  /** Quarterly CDR bulk-download PLAN for a date range — the twin of
    * the reference's fetch step (ref: data-raw/get_xbrl_zips.py:1-34),
    * which walks the downloader's period list for the single-period
    * call-report product and pulls one bulk zip per quarter end. This
    * environment has no network, so the plan IS the testable artifact:
    * every calendar quarter end in [fromDate, toDate] with the period
    * encodings and the EXACT zip file name the rest of the pipeline
    * ([[listZips]], [[processZip]]) expects to appear in the download
    * directory — a user points their fetcher at the manifest and the
    * pipeline picks the files up with no renaming.
    *
    * Pure date arithmetic on a generated range (one in-memory
    * sequence, no scan). Output, ordered by period_end: (period_end
    * DATE, period yyyymmdd, zip_name, kind). */
  def fetchPlan(spark: SparkSession, fromDate: String, toDate: String,
                kind: String = "xbrl"): DataFrame = {
    val stem = kind match {
      case "tsv"  => "FFIEC CDR Call Bulk All Schedules"
      case "xbrl" => "FFIEC CDR Call Bulk XBRL"
      case other  => throw new IllegalArgumentException(s"unknown type: $other")
    }
    spark.sql(
        s"SELECT explode(sequence(to_date('$fromDate'), to_date('$toDate'), " +
          "interval 1 month)) AS m")
      .select(last_day(col("m")).as("period_end"))
      .where(month(col("period_end")).isin(3, 6, 9, 12))
      .where(col("period_end") >= to_date(lit(fromDate)) &&
        col("period_end") <= to_date(lit(toDate)))
      .distinct()
      .select(col("period_end"),
        date_format(col("period_end"), "yyyyMMdd").as("period"),
        concat(lit(stem + " "), date_format(col("period_end"), "MMddyyyy"),
          lit(".zip")).as("zip_name"),
        lit(kind).as("kind"))
      .orderBy("period_end")
  }

  /** MMDDYYYY-named bulk zips in a directory → (path, yyyymmdd), the
    * reference's ffiec_list_zips (ref: ffiec_manifest.R:51). */
  def listZips(spark: SparkSession, dir: String,
               kind: String = "tsv"): Seq[(String, String)] = {
    val dateOf = zipDate(kind)
    val fs = new Path(dir).getFileSystem(
      new Configuration(spark.sparkContext.hadoopConfiguration))
    val listing = fs.listStatus(new Path(dir)).toSeq.map(_.getPath)
    listing.flatMap(p => dateOf(p.getName).map(p.toString -> _)).sortBy(_._2)
  }

  /** The bulk-zip name rule of [[listZips]], [[processStream]] and
    * [[processXbrls]]: a `FFIEC CDR Call Bulk All Schedules MMDDYYYY.zip`
    * (`tsv`) or `FFIEC CDR Call Bulk XBRL MMDDYYYY.zip` (`xbrl`) file
    * name → Some(yyyymmdd); None for any other name or for a month or
    * day out of range. */
  private def zipDate(kind: String): String => Option[String] = {
    val pattern = kind match {
      case "tsv"  => """^FFIEC CDR Call Bulk All Schedules (\d{8})\.zip$""".r
      case "xbrl" => """^FFIEC CDR Call Bulk XBRL (\d{8})\.zip$""".r
      case other  => throw new IllegalArgumentException(s"unknown type: $other")
    }
    {
      case pattern(mmddyyyy) =>
        val (mm, dd, yyyy) =
          (mmddyyyy.substring(0, 2), mmddyyyy.substring(2, 4), mmddyyyy.substring(4, 8))
        if (mm >= "01" && mm <= "12" && dd >= "01" && dd <= "31")
          Some(s"$yyyy$mm$dd")
        else None
      case _ => None
    }
  }

  case class Written(kind: String, tpe: String, dateRaw: String,
                     parquet: String, nParts: Int, ok: Boolean,
                     repairs: Seq[String], innerFiles: Seq[String])

  /** Schema-map auto-resolution when the caller supplies none (the
    * reference ships an equivalent map as package sysdata): taxonomy
    * concepts.xsd parsed from "_"-prefixed taxonomy zips beside the
    * bulk zip — the reference's own build source (data-raw/
    * ffiec_schema.R) — or from the bulk zip itself; failing that,
    * type inference over the sibling XBRL bulk zips' facts. Memoized
    * per directory (processAll calls this once per zip). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  def resolveSchemaMap(spark: SparkSession, zipPath: String): Map[String, String] = {
    val dir = new Path(zipPath).getParent.toString
    schemaCache.computeIfAbsent(dir, { _ =>
      val fs = new Path(dir).getFileSystem(
        new Configuration(spark.sparkContext.hadoopConfiguration))
      val zips = fs.listStatus(new Path(dir)).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".zip"))
      val taxonomy = zips.filter(_.getName.startsWith("_")).map(_.toString)
      val fromXsd = FfiecSchema.conceptsFromZips(spark, taxonomy :+ zipPath)
      if (fromXsd.nonEmpty) fromXsd
      else {
        val xbrlZips = listZips(spark, dir, "xbrl").map(_._1)
        if (xbrlZips.isEmpty) Map.empty
        else {
          val facts = xbrlZips.map(z => graft.sources.XbrlZip.facts(spark, z))
            .reduce(_.unionByName(_))
          FfiecSchema.inferFromFacts(facts).collect()
            .map(r => r.getString(0) -> r.getString(1)).toMap
        }
      }
    })
  }

  /** Process one bulk zip into `outDir`. Returns the manifest. With no
    * `schemaMap`, resolves one from taxonomy/XBRL siblings (see
    * resolveSchemaMap).
    *
    * Every multipart (schedule, date) group is validated before any job
    * starts, so a broken zip writes nothing. Then two phases, each a
    * set of independent writes submitted together from a driver pool
    * ([[graft.plans.DriverPool.awaitAll]]): phase 1 writes every wide
    * schedule table and every POR table; phase 2 writes every
    * (date, dtype) long table and every date's schedules metadata from
    * the phase-1 tables. A long table whose (IDRSSD, date, item) key is
    * not unique is removed and raises IllegalArgumentException once
    * every phase-2 sibling has settled. Manifest rows keep the order
    * schedules, long, meta, POR. Under `strict`, a pct_to_prop failure
    * is raised once every phase-1 sibling has settled. */
  def processZip(spark: SparkSession, zipPath: String, outDir: String,
                 schemaMap: Map[String, String] = FfiecSchema.defaultSchemaMap,
                 overrides: Map[String, String] = FfiecSchema.defaultColOverrides,
                 prefix: String = "ffiec_", strict: Boolean = false): DataFrame = {
    import spark.implicits._
    processZips(spark, Seq(zipPath -> ""), outDir, schemaMap, overrides, prefix,
      strict, tolerant = false).toDF()
  }

  /** Every zip of one call through ONE pair of phases: the plans of all
    * zips (member listing, multipart validation) settle first, then
    * phase 1 of all zips runs in one driver-pool call and phase 2 of all
    * zips in another, so small jobs of different zips share the cores
    * and the driver holds at most `defaultParallelism` pool threads
    * whatever the zip count. The zips write concurrently, so their
    * dates must be distinct.
    *
    * Not `tolerant`: the first failure in zip order is rethrown once
    * its phase has settled; a failed plan writes nothing. `tolerant`: a
    * zip whose plan or any write fails becomes one `error` row (ok =
    * false) and skips its later phases; the other zips go on. Rows keep
    * zip order. */
  private def processZips(spark: SparkSession, zips: Seq[(String, String)],
                          outDir: String, schemaMap: Map[String, String],
                          overrides: Map[String, String], prefix: String,
                          strict: Boolean, tolerant: Boolean): Seq[Written] = {
    requireDistinctDates(zips)
    /** Run the thunks of every zip still standing in one driver-pool
      * call; a zip fails with its first failed thunk. */
    def phase[A, B](in: Seq[Try[A]])(work: A => Seq[() => B]): Seq[Try[(A, Seq[B])]] = {
      val planned = in.map(_.map(a => a -> work(a)))
      val settled = DriverPool.awaitAll(spark,
        planned.flatMap(_.toOption.toSeq.flatMap(_._2)).map(w => () => Try(w())))
      val starts = planned.map(_.fold(_ => 0, _._2.size)).scanLeft(0)(_ + _)
      val out = planned.zip(starts).map { case (p, from) =>
        p.flatMap { case (a, ws) =>
          Try(a -> settled.slice(from, from + ws.size).map(_.get)) }
      }
      if (!tolerant) out.foreach(_.get)
      out
    }
    val plans = DriverPool.awaitAll(spark, zips.map { case (zip, _) => () =>
      Try(planZip(spark, zip, outDir, schemaMap, overrides, prefix, strict)) })
    if (!tolerant) plans.foreach(_.get)
    val phase1 = phase(plans)(_.phase1)
    val phase2 = phase(phase1) { case (plan, rows) => plan.phase2(rows.flatMap(_._2)) }
    zips.zip(phase2).flatMap {
      case (_, Success(((plan, rows1), rows2))) =>
        val (sched, por) = rows1.map(_._1).splitAt(plan.nSchedules)
        sched ++ rows2.flatten ++ por
      case ((zip, dateRaw), Failure(e)) =>
        Seq(Written("error", "zip", dateRaw, "", 0, ok = false,
          repairs = Seq(s"error: ${e.getMessage}"), innerFiles = Seq(zip)))
    }
  }

  private def requireDistinctDates(zips: Seq[(String, String)]): Unit = {
    val dates = zips.map(_._2)
    require(dates.distinct.size == dates.size,
      s"zips of one call must have distinct dates: ${dates.mkString(", ")}")
  }

  /** One zip's work: the phase-1 writes (the first `nSchedules` are the
    * wide schedule tables, the rest POR), and, from the wide tables
    * phase 1 wrote, the phase-2 writes. */
  private case class ZipPlan(phase1: Seq[() => (Written, Option[Wide])],
                             nSchedules: Int,
                             phase2: Seq[Wide] => Seq[() => Option[Written]])

  /** A phase-1 wide table: its date, path and the schema written. */
  private case class Wide(dateRaw: String, path: String, schema: StructType)

  /** List a zip's members and validate every multipart group; no write
    * runs until the plan's thunks are called. */
  private def planZip(spark: SparkSession, zipPath: String, outDir: String,
                      schemaMap: Map[String, String],
                      overrides: Map[String, String], prefix: String,
                      strict: Boolean): ZipPlan = {
    import spark.implicits._
    val resolved =
      if (schemaMap.nonEmpty) schemaMap else resolveSchemaMap(spark, zipPath)
    val members = ZipTsv.listMembers(spark, zipPath)

    val schedGroups = members.filter(_.schedule.isDefined)
      .groupBy(m => (m.schedule.get.toLowerCase, m.dateRaw.getOrElse("unknown")))
      .toSeq.sortBy(_._1)
      .map { case ((schedule, dateRaw), ms) =>
        val sorted = ms.sortBy(_.part.getOrElse(1))
        val nParts = CombineParts.resolveNParts(
          sorted.map(_.part), sorted.map(_.nParts), s"$schedule ($dateRaw)")
        (schedule, dateRaw, sorted, nParts)
      }
    val porMembers = members.filterNot(_.schedule.isDefined)

    // ---- phase 1: wide parquet per (schedule, date), and POR
    def writeWide(schedule: String, dateRaw: String, sorted: Seq[ZipTsv.Member],
                  nParts: Int): (Written, Option[Wide]) = {
      // Per-part diagnostics are counted by the reading tasks — no second
      // pass over the zip members and no stage split by observed metrics
      // (ref: ffiec_process.R:225 ok/repairs recorded per written file).
      val stamp = ZipTsv.Stamp(spark, reportDate(dateRaw))
      val joined = CombineParts.combine(ZipTsv.readScheduleStamped(spark, zipPath,
        sorted.map(_.file), resolved, overrides, stamp), key = "IDRSSD")
      // every part carries the date; it stays the last column
      val combined = joined.select(
        joined.columns.toSeq.filterNot(_ == "date").map(col) :+ col("date"): _*)
      // pct_to_prop strictness (ref: ffeic_read.R:535 pct_to_prop stop()):
      // in a pure column that is percent-encoded (any '%' present), a
      // numeric cell WITHOUT '%' is a data-quality error in the
      // reference. The two signals per column — has-% and bad-cell
      // count — ride the write job as observed metrics over the
      // pre-conversion strings; no second pass.
      val pureStr = combined.schema.fields
        .filter(f => f.dataType == StringType &&
          resolved.get(f.name).contains("xbrli:pureItemType"))
        .map(_.name).toSeq
      val pureObs =
        if (pureStr.isEmpty) None
        else Some(Observation(s"pure_${schedule}_$dateRaw"))
      val observed = pureObs.fold(combined) { o =>
        val aggs = pureStr.flatMap { c =>
          Seq(max(col(c).contains("%").cast("long")).as(s"haspct_$c"),
            sum((col(c).rlike("[0-9]") && !col(c).contains("%")).cast("long"))
              .as(s"bad_$c"))
        }
        combined.observe(o, aggs.head, aggs.tail: _*)
      }
      val fixed = fixPurePercentCols(observed, resolved)
      val out = s"$outDir/$prefix${schedule}_$dateRaw.parquet"
      fixed.write.mode("overwrite").parquet(out)
      val badPure: Seq[String] = pureObs.toSeq.flatMap { o =>
        pureStr.filter(c => metric(o, s"haspct_$c") > 0 && metric(o, s"bad_$c") > 0)
      }
      if (strict && badPure.nonEmpty)
        throw new IllegalStateException(
          s"pct_to_prop: numeric values not ending in '%' in pure columns " +
            s"${badPure.mkString(", ")} of $schedule ($dateRaw)")
      val repairs =
        (if (stamp.newlineJoins.sum > 0) Seq("newline-join") else Nil) ++
        (if (stamp.tabRepairs.sum > 0) Seq("tab-repair") else Nil) ++
        badPure.map(c => s"pure-pct-bad: $c")
      val ok = stamp.problems.sum == 0 && badPure.isEmpty
      (Written(schedule, "schedule", dateRaw, out, nParts,
          ok = ok, repairs = repairs, innerFiles = sorted.map(_.file)),
        Some(Wide(dateRaw, out, fixed.schema)))
    }

    // POR files (no schedule token in the member name). Repairs are
    // recorded; ok stays true as in the reference (ffiec_process.R:442).
    def writePor(m: ZipTsv.Member, dateRaw: String): (Written, Option[Wide]) = {
      val out = s"$outDir/por_$dateRaw.parquet"
      val stamp = ZipTsv.Stamp(spark, reportDate(dateRaw))
      ZipTsv.readPorStamped(spark, zipPath, m.file, stamp)
        .write.mode("overwrite").parquet(out)
      (Written("por", "por", dateRaw, out, 1, ok = true,
          repairs = if (stamp.tabRepairs.sum > 0) Seq("tab-repair") else Nil,
          innerFiles = Seq(m.file)), None)
    }

    val phase1 =
      schedGroups.map { case (s, d, ms, n) => () =>
        labelled(spark, s"ffiec $d $s wide")(writeWide(s, d, ms, n)) } ++
      porMembers.map { m => () =>
        val d = m.dateRaw.getOrElse("unknown")
        labelled(spark, s"ffiec $d por")(writePor(m, d)) }

    // ---- phase 2: long parquet per (date, arrow dtype) (ref:
    // make_long_pq) and item → schedules metadata per date (ref:
    // make_schedule_pq), all from the phase-1 tables. Each wide table
    // is read once with the schema phase 1 wrote, so no read pays a
    // schema-inference job.
    def phase2(wides: Seq[Wide]): Seq[() => Option[Written]] = {
      val dtypes: Seq[(String, DataType)] = Seq(
        "float" -> DoubleType, "int" -> IntegerType, "str" -> StringType,
        "date" -> DateType, "bool" -> BooleanType)
      val dateRaws = wides.map(_.dateRaw).distinct
      val wideDfs = wides.map(w => w ->
        spark.read.schema(StructType(w.schema.map(_.copy(nullable = true))))
          .parquet(w.path))

      // The key check (ref: assert_no_dups) rides the write, so the
      // table is computed once: one aggregate per (IDRSSD, date, item)
      // keeps the value when all its rows agree and fails the plan
      // (raise_error) when they do not. A single partition when the
      // union is under one MiB (no exchange), else an exchange on
      // (IDRSSD, date), which the aggregate's distribution accepts.
      // After a failed write, a table whose key is broken is removed and
      // the rows sharing a key are counted for the error.
      def writeLong(dateRaw: String, dname: String, dtype: DataType): Option[Written] = {
        val longs = wideDfs.filter(_._1.dateRaw == dateRaw).flatMap { case (_, wide) =>
          val cols = LongPivot.colsOfType(wide, dtype, Seq("IDRSSD", "date"))
          if (cols.isEmpty) None
          else Some(LongPivot.long(wide, Seq("IDRSSD", "date"), dtype, distinct = false))
        }
        if (longs.isEmpty) None
        else {
          val out = s"$outDir/$prefix${dname}_$dateRaw.parquet"
          val union = longs.reduce(_.unionByName(_))
          val key = Seq(col("IDRSSD"), col("date"), col("item"))
          val checked =
            (if (Width.isSmall(union)) union.coalesce(1)
             else union.repartition(col("IDRSSD"), col("date")))
              .groupBy(key: _*)
              .agg(min("value").as("lo"), max("value").as("hi"))
              .select(key :+ when(col("lo") === col("hi"), col("lo"))
                .otherwise(raise_error(lit("rows share a key"))).as("value"): _*)
              .sortWithinPartitions(key: _*)
          try checked.write.mode("overwrite").parquet(out)
          catch {
            case NonFatal(e) =>
              val n = union.distinct().groupBy(key: _*).count()
                .where(col("count") > 1)
                .select(coalesce(sum("count"), lit(0L))).head().getLong(0)
              if (n == 0) throw e
              val p = new Path(out)
              p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
              throw new IllegalArgumentException(
                s"Found $n rows sharing a key on {IDRSSD, date, item} in " +
                  s"$dname ($dateRaw); $out was removed")
          }
          Some(Written(dname, "long", dateRaw, out, 1, ok = true, Nil, Nil))
        }
      }

      def writeMeta(dateRaw: String): Option[Written] = {
        val pairs = wides.filter(_.dateRaw == dateRaw).flatMap { w =>
          val schedule = graft.sources.Scan.extractSchedule(
            w.path.split('/').last, prefix)
          w.schema.fieldNames
            .filterNot(c => c == "IDRSSD" || c == "date")
            .map(item => (schedule, item))
        }
        if (pairs.isEmpty) None
        else {
          // metadata-scale: item → sorted schedules, as
          // LongPivot.itemSchedules computes it, with the date as data
          val date = reportDate(dateRaw)
          val rows = pairs.groupBy(_._2).toSeq.sortBy(_._1).map { case (item, ps) =>
            (item, ps.map(_._1).distinct.sorted, date)
          }
          val out = s"$outDir/${prefix}schedules_$dateRaw.parquet"
          rows.toDF("item", "schedules", "date").coalesce(1)
            .write.mode("overwrite").parquet(out)
          Some(Written("schedules", "meta", dateRaw, out, 1, ok = true, Nil, Nil))
        }
      }

      (for (d <- dateRaws; (dname, dtype) <- dtypes) yield () =>
        labelled(spark, s"ffiec $d $dname long")(writeLong(d, dname, dtype))) ++
      dateRaws.map(d => () =>
        labelled(spark, s"ffiec $d schedules meta")(writeMeta(d)))
    }

    ZipPlan(phase1, schedGroups.size, phase2)
  }

  /** A member's yyyyMMdd report date; a date that does not parse fails
    * the write, as an ANSI `to_date` does. */
  private def reportDate(dateRaw: String): LocalDate =
    LocalDate.parse(dateRaw, DateTimeFormatter.BASIC_ISO_DATE)

  /** An observed Long metric; 0 when the aggregate saw no rows. */
  private def metric(o: Observation, k: String): Long =
    Option(o.get.getOrElse(k, null)).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** Run `body` with `label` as the calling thread's Spark job
    * description, restoring the previous one after — pool threads keep
    * their local properties from one thunk to the next. */
  private def labelled[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }

  /** pureItemType columns arrive as strings, possibly percent-encoded —
    * convert to numeric proportions (ref: ffeic_read.R:585
    * fix_pure_percent_cols). Cell-level: '%' cells go through
    * pct_to_prop, others cast to double. The reference's column-level
    * error for numeric-without-% cells in a %-bearing column is
    * surfaced by processZip via observed metrics (manifest ok=false /
    * repairs marker, or a throw under strict=true). */
  def fixPurePercentCols(df: DataFrame, schemaMap: Map[String, String]): DataFrame = {
    val pure = df.schema.fields
      .filter(f => f.dataType == StringType &&
        schemaMap.get(f.name).contains("xbrli:pureItemType"))
      .map(_.name)
    pure.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c).contains("%"), Ffiec.pctToProp(col(c)))
          .otherwise(col(c).cast("double")))
    }
  }

  /** Process every bulk zip in a directory (the reference's
    * ffiec_process); returns the concatenated manifest. Every zip goes
    * through one shared pair of phases (see processZip): phase 1 writes
    * the wide and POR tables of all zips together, phase 2 the long and
    * metadata tables of all zips — the Spark-native analogue of the
    * reference's furrr::future_map_dfr, with concurrent driver threads
    * submitting independent jobs that share the executor pool. When
    * `itemsPath`/`detailsPath` are supplied, the MDRM item metadata
    * tables are copied into the output tree too (the reference's
    * ffiec_create_item_pqs step — it ships them as package data; graft
    * takes them as parquet inputs) and appear as manifest rows.
    *
    * `tolerant = true`: a structurally broken zip, or one whose write
    * fails, becomes an ok=false manifest row instead of killing the
    * fleet run at zip #847 of 1000. The default matches the reference
    * (fail fast): a broken zip fails the call before any write starts. */
  def processAll(spark: SparkSession, rawDir: String, outDir: String,
                 schemaMap: Map[String, String] = FfiecSchema.defaultSchemaMap,
                 tolerant: Boolean = false,
                 strict: Boolean = false,
                 itemsPath: Option[String] = None,
                 detailsPath: Option[String] = None): DataFrame = {
    import spark.implicits._
    val itemRows: Seq[Written] = (itemsPath, detailsPath) match {
      case (Some(ip), Some(dp)) =>
        val Seq(oi, od) = graft.meta.Items.writeItemPqs(spark, ip, dp, outDir)
        Seq(Written("items", "meta", "", oi, 1, ok = true, Nil, Seq(ip)),
          Written("item_details", "meta", "", od, 1, ok = true, Nil, Seq(dp)))
      case (None, None) => Nil
      case _ => throw new IllegalArgumentException(
        "itemsPath and detailsPath must be supplied together")
    }
    val zips = listZips(spark, rawDir)
    require(zips.nonEmpty, s"No FFIEC bulk zip files found in $rawDir")
    val out = (processZips(spark, zips, outDir, schemaMap,
      FfiecSchema.defaultColOverrides, "ffiec_", strict, tolerant) ++ itemRows).toDF()
    out.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/ffiec_process_data.parquet")
    out
  }

  /** Continuous ingestion: watch `rawDir` for new FFIEC bulk zips and
    * process each exactly once (the file-source checkpoint tracks
    * processed files across restarts). Each micro-batch runs its zips
    * through one shared pair of phases, tolerantly, and appends their
    * manifest rows to `outDir`/ffiec_process_stream_log.parquet.
    *
    * The stream carries only file PATHS (binaryFile source with the
    * content column pruned away — zips are re-opened inside the
    * distributed member tasks), so the streaming layer moves metadata,
    * not the 100 TB. New quarters land as they are published; a broken
    * zip becomes an ok=false manifest row and the stream keeps going. */
  def processStream(spark: SparkSession, rawDir: String, outDir: String,
                    checkpoint: String,
                    schemaMap: Map[String, String] = FfiecSchema.defaultSchemaMap)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val dateOf = zipDate("tsv")
    spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.zip")
      .schema(StructType(Seq( // the fixed binaryFile schema (streaming
        StructField("path", StringType), //   sources require it stated)
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .load(rawDir)
      .select("path", "length")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val zips = batch.select("path").collect().map(_.getString(0)).toSeq
          .flatMap(p => dateOf(new Path(p).getName).map(p -> _)).sortBy(_._2)
        val rows = processZips(spark, zips, outDir, schemaMap,
          FfiecSchema.defaultColOverrides, "ffiec_", strict = false, tolerant = true)
        if (rows.nonEmpty)
          rows.toDF().coalesce(1).write.mode("append")
            .parquet(s"$outDir/ffiec_process_stream_log.parquet")
      }
      .start()
  }

  case class XbrlWritten(zipfile: String, dateRaw: String, parquet: String,
                         nFacts: Long, ok: Boolean)

  /** XBRL side of the pipeline (the reference's exported
    * ffiec_process_xbrls, ref: /root/reference/R/ffiec_process_xbrls.R:33
    * + process_xbrl_zip :119): walk every `FFIEC CDR Call Bulk XBRL
    * MMDDYYYY.zip` under `rawDir` (or the explicit `zipfiles` list),
    * extract every fact from every *.xbrl.xml member, and write one
    * `{prefix}xbrl_{yyyymmdd}.parquet` per zip plus a manifest row
    * (zipfile, dateRaw, parquet, nFacts, ok) persisted as
    * `ffiec_process_xbrls_data.parquet`.
    *
    * Scale shape: each zip is one Spark job whose unit of work is an
    * inner *.xbrl.xml member (XbrlZip.facts — one StAX parse per task),
    * so a bulk zip with 5k filings fans out across the cluster. The
    * zips' writes run together from one driver pool
    * ([[graft.plans.DriverPool.awaitAll]]), so their dates must be
    * distinct; without `tolerant`, the first failure in zip order is
    * rethrown once every zip has settled. The fact count rides the
    * write job as an Observation — no second pass. */
  def processXbrls(spark: SparkSession, rawDir: String, outDir: String,
                   zipfiles: Seq[String] = Nil, nsPrefix: String = "cc",
                   prefix: String = "ffiec_",
                   tolerant: Boolean = false): DataFrame = {
    import spark.implicits._
    val zips: Seq[(String, String)] =
      if (zipfiles.nonEmpty) zipfiles.map { z =>
        z -> zipDate("xbrl")(new Path(z).getName).getOrElse(
          throw new IllegalArgumentException(
            s"Could not parse MMDDYYYY date from zip filename: $z"))
      }
      else listZips(spark, rawDir, kind = "xbrl")
    require(zips.nonEmpty, s"No FFIEC XBRL zip files found in $rawDir")
    requireDistinctDates(zips)

    def one(zip: String, dateRaw: String): XbrlWritten =
      try {
        val out = s"$outDir/${prefix}xbrl_$dateRaw.parquet"
        val obs = Observation(s"xbrl_$dateRaw")
        graft.sources.XbrlZip.facts(spark, zip, nsPrefix)
          .observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(out)
        XbrlWritten(zip, dateRaw, out, metric(obs, "n"), ok = true)
      } catch {
        case e: Exception if tolerant =>
          XbrlWritten(zip, dateRaw, s"error: ${e.getMessage}", 0L, ok = false)
      }

    val manifest = DriverPool.awaitAll(spark,
      zips.map { case (zip, d) => () => one(zip, d) }).toDF()
    manifest.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/ffiec_process_xbrls_data.parquet")
    manifest
  }
}
