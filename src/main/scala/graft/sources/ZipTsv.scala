package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.zip.ZipInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import graft.functions.Ffiec
import graft.schema.{ColSpec, FfiecSchema}

/** Distributed reader for TSV members inside FFIEC bulk zip files
  * (ref: /root/reference/R/ffeic_read.R read_call_from_zip,
  * /root/reference/R/ffiec_manifest.R:130 get_cr_files).
  *
  * Zip is not a splittable format, but an FFIEC corpus is thousands of
  * zips × ~50 members, so the (zip, member) pair is the parallelism
  * unit: one task streams one member through java.util.zip without
  * extracting to disk, emitting typed rows in Catalyst's internal form,
  * so no per-schema row serializer is generated. Repair rules (embedded
  * newline join, extra-tab squash) are pure line-level functions applied
  * in-stream; a `_repairs` column records what was applied per row so
  * downstream can audit without a second pass. The pipeline's reads
  * ([[Stamp]]) count repairs and problems in task-side accumulators
  * instead, and carry the report date as a `date` column.
  */
object ZipTsv {

  /** Member manifest row, mirroring get_cr_files: schedule id, report
    * date, multipart markers parsed from the member name. */
  case class Member(zip: String, file: String, schedule: Option[String],
                    dateRaw: Option[String], part: Option[Int], nParts: Option[Int])

  /** What a pipeline read carries instead of the `_repairs` and
    * `_problems` columns: the report `date`, appended to every row as a
    * `date` column (row data, so the generated code of a schedule whose
    * columns do not change is the same every quarter), and counters the
    * reading tasks add to — cells that failed their type, rows joined
    * across an embedded newline, rows whose extra tabs were squashed.
    * Spark merges the counts of successful tasks only, and a re-run
    * task counts again, so only zero versus non-zero is exact. */
  private[graft] case class Stamp(date: LocalDate, problems: LongAccumulator,
                                  newlineJoins: LongAccumulator,
                                  tabRepairs: LongAccumulator)

  private[graft] object Stamp {
    def apply(spark: SparkSession, date: LocalDate): Stamp = {
      val sc = spark.sparkContext
      Stamp(date, sc.longAccumulator, sc.longAccumulator, sc.longAccumulator)
    }
  }

  private val scheduleRe = """(?<=Schedule )[^ ]+""".r
  private val dateRe = """\d{8}""".r
  private val partRe = """\((\d+) of (\d+)\)""".r

  /** Parse one member name into its manifest fields (driver-or-executor
    * safe; pure). MMDDYYYY in the name → YYYYMMDD date_raw. */
  def parseMemberName(zip: String, name: String): Member = {
    val base = name.split('/').last
    val mmddyyyy = dateRe.findFirstIn(base)
    val dateRaw = mmddyyyy.flatMap { d =>
      val (mm, dd, yyyy) = (d.substring(0, 2), d.substring(2, 4), d.substring(4, 8))
      if (mm >= "01" && mm <= "12" && dd >= "01" && dd <= "31") Some(s"$yyyy$mm$dd") else None
    }
    val part = partRe.findFirstMatchIn(base)
    Member(zip, name,
      scheduleRe.findFirstIn(base),
      dateRaw,
      part.map(_.group(1).toInt),
      part.map(_.group(2).toInt))
  }

  /** List members of every zip matched by `glob`, in parallel (one task
    * per zip), excluding Readme.txt like the reference. */
  def listMembers(spark: SparkSession, glob: String): Seq[Member] = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    val fs = new Path(glob).getFileSystem(conf)
    val statuses = fs.globStatus(new Path(glob))
    require(statuses != null && statuses.nonEmpty, s"no zips match $glob")
    val zips = statuses.map(_.getPath.toString).toSeq
    val confMap = confToMap(conf)
    spark.sparkContext.parallelize(zips, zips.size).flatMap { zp =>
      val in = openStream(zp, confMap)
      try {
        Iterator.continually(in.getNextEntry).takeWhile(_ != null)
          .filterNot(_.isDirectory)
          .map(e => parseMemberName(zp, e.getName))
          .filterNot(_.file.endsWith("Readme.txt"))
          .toList
      } finally in.close()
    }.collect().toSeq.sortBy(m => (m.zip, m.file))
  }

  private[sources] def confToMap(conf: Configuration): Map[String, String] = {
    val it = conf.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  private[sources] def openStream(zip: String, confMap: Map[String, String]): ZipInputStream = {
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    val p = new Path(zip)
    new ZipInputStream(p.getFileSystem(conf).open(p))
  }

  /** Read the raw header (line 1) of a member — driver-side, used to
    * build the typed schema before the distributed read. */
  def memberHeader(spark: SparkSession, zip: String, member: String): Seq[String] = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    withMember(zip, member, confToMap(conf)) { reader =>
      Option(reader.readLine()).getOrElse("").split("\t", -1).toSeq
        .map(Ffiec.cleanCol)
    }
  }

  private def withMember[T](zip: String, member: String,
                            confMap: Map[String, String])(f: BufferedReader => T): T = {
    val zin = openStream(zip, confMap)
    try {
      val found = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
        .exists(_.getName == member)
      require(found, s"member $member not found in $zip")
      f(new BufferedReader(new InputStreamReader(zin, StandardCharsets.UTF_8)))
    } finally zin.close()
  }

  /** Join lines whose raw form does not end at a row boundary. FFIEC
    * schedule rows end with a field-terminating tab; a newline *not*
    * preceded by a tab is an embedded newline inside a value and is
    * replaced by a space (ref: ffeic_read.R:92 `gsub("(?<!\t)\n", " ")`). */
  def joinEmbeddedNewlines(lines: Iterator[String]): Iterator[(String, Boolean)] =
    new Iterator[(String, Boolean)] {
      private val it = lines.buffered
      def hasNext: Boolean = it.hasNext
      def next(): (String, Boolean) = {
        var cur = it.next()
        var repaired = false
        while (!cur.endsWith("\t") && it.hasNext) {
          cur = cur + " " + it.next()
          repaired = true
        }
        (cur, repaired)
      }
    }

  /** Squash tabs beyond the expected column count into spaces
    * (ref: ffeic_read.R:130 fix_extra_tabs). */
  def fixExtraTabs(line: String, expectedCols: Int): (String, Boolean) = {
    val keepTabs = expectedCols - 1
    var count = 0
    var i = 0
    var cut = -1
    while (i < line.length && cut < 0) {
      if (line.charAt(i) == '\t') {
        count += 1
        if (count == keepTabs) cut = i
      }
      i += 1
    }
    if (cut < 0) (line, false)
    else {
      val rest = line.substring(cut + 1)
      if (!rest.contains('\t')) (line, false)
      else (line.substring(0, cut + 1) + rest.replace('\t', ' '), true)
    }
  }

  /** Read a POR (plain-of-record) member: snake_cased string columns,
    * IDRSSD int, optional description row auto-detected, Eastern→UTC
    * submission timestamp, id-zero→NULL normalization
    * (ref: ffeic_read.R:434 read_por_from_zip + ffiec_process.R:291). */
  def readPor(spark: SparkSession, zip: String, member: String): DataFrame =
    porRead(spark, zip, member, None)

  /** [[readPor]] for the pipeline: tab repairs counted in `stamp`, its
    * date as the last column. */
  private[graft] def readPorStamped(spark: SparkSession, zip: String, member: String,
                                    stamp: Stamp): DataFrame =
    porRead(spark, zip, member, Some(stamp))

  private def porRead(spark: SparkSession, zip: String, member: String,
                      stamp: Option[Stamp]): DataFrame = {
    import org.apache.spark.sql.functions._
    val confMap = confToMap(new Configuration(spark.sparkContext.hadoopConfiguration))
    val (rawHeader, secondLine) = withMember(zip, member, confMap) { r =>
      (Option(r.readLine()).getOrElse(""), Option(r.readLine()))
    }
    val header = rawHeader.split("\t", -1).toSeq.map(Ffiec.cleanPorCol)
      .reverse.dropWhile(_.isEmpty).reverse
    // description row present iff the IDRSSD cell of line 2 is not an int
    val idPos = header.indexOf("IDRSSD")
    val skip = if (idPos >= 0 && secondLine.exists { l =>
        val cells = l.split("\t", -1)
        idPos >= cells.length || cells(idPos).trim.toIntOption.isEmpty
      }) 2 else 1
    val codes = header.map(n => if (n == "IDRSSD") "i" else "c")
    val spec = ColSpec(header.toIndexedSeq, codes.toIndexedSeq,
      expectedCells = rawHeader.split("\t", -1).length)
    // POR rows do not terminate with a tab — the newline-join repair
    // only applies to schedule files (as in the reference).
    val df = readMemberRaw(spark, zip, member, spec, skipRows = skip,
      repairNewlines = false, stamp)
    val idCols = Seq("financial_institution_zip_code", "fdic_certificate_number",
      "occ_charter_number", "ots_docket_number", "primary_aba_routing_number")
      .filter(df.columns.contains)
    val withIds = idCols.foldLeft(df)((d, c) =>
      d.withColumn(c, Ffiec.idZeroNull(col(c))))
    val tsCol = "last_date_time_submission_updated_on"
    if (withIds.columns.contains(tsCol))
      withIds.withColumn(tsCol, Ffiec.easternToUtc(col(tsCol)))
    else withIds
  }

  /** Distributed typed read of one schedule's members (all parts of one
    * schedule/date). Schema is compiled driver-side from the member
    * header + the XBRL schema map; every task parses its member
    * independently. */
  def readSchedule(spark: SparkSession, zip: String, members: Seq[String],
                   schemaMap: Map[String, String] = FfiecSchema.defaultSchemaMap,
                   overrides: Map[String, String] = FfiecSchema.defaultColOverrides)
      : Seq[DataFrame] =
    scheduleReads(spark, zip, members, schemaMap, overrides, None)

  /** [[readSchedule]] for the pipeline: every member counts its repairs
    * and problems in `stamp` and carries its date as the last column. */
  private[graft] def readScheduleStamped(spark: SparkSession, zip: String,
                                         members: Seq[String],
                                         schemaMap: Map[String, String],
                                         overrides: Map[String, String],
                                         stamp: Stamp): Seq[DataFrame] =
    scheduleReads(spark, zip, members, schemaMap, overrides, Some(stamp))

  private def scheduleReads(spark: SparkSession, zip: String, members: Seq[String],
                            schemaMap: Map[String, String],
                            overrides: Map[String, String],
                            stamp: Option[Stamp]): Seq[DataFrame] =
    members.map { m =>
      val header = memberHeader(spark, zip, m)
      val spec = FfiecSchema.colSpec(header, schemaMap, overrides)
      readMemberRaw(spark, zip, m, spec, skipRows = 2, repairNewlines = true, stamp)
    }

  /** Read a single member with a pre-compiled ColSpec. One partition —
    * the member is the parallelism unit; callers union members. */
  def readMember(spark: SparkSession, zip: String, member: String,
                 spec: ColSpec): DataFrame =
    readMemberRaw(spark, zip, member, spec, skipRows = 2, repairNewlines = true, None)

  private val newlineJoin = UTF8String.fromString("newline-join")
  private val tabRepair = UTF8String.fromString("tab-repair")

  /** The one member reader: `spec`'s columns, then `_repairs` and
    * `_problems`, or with a `stamp` the date column alone. */
  private def readMemberRaw(spark: SparkSession, zip: String, member: String,
                            spec: ColSpec, skipRows: Int, repairNewlines: Boolean,
                            stamp: Option[Stamp]): DataFrame = {
    val confMap = confToMap(new Configuration(spark.sparkContext.hadoopConfiguration))
    val schema = stamp match {
      case Some(_) => spec.sparkSchema.add("date", DateType)
      case None => spec.sparkSchema
        .add("_repairs", ArrayType(StringType))
        .add("_problems", IntegerType)
    }
    val (n, width) = (spec.arity, schema.size)
    val days = stamp.fold(0)(_.date.toEpochDay.toInt)
    val rdd = spark.sparkContext.parallelize(Seq((zip, member)), 1).flatMap {
      case (z, m) =>
        val zin = openStream(z, confMap)
        // closed when the task ends — drained, failed or stopped early
        // by a limit — not when the rows run out
        TaskContext.get().addTaskCompletionListener[Unit](_ => zin.close())
        val found = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
          .exists(_.getName == m)
        if (!found) Iterator.empty
        else {
          val reader = new BufferedReader(
            new InputStreamReader(zin, StandardCharsets.UTF_8))
          val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
          val dataLines = lines.drop(skipRows)
          val repaired =
            if (repairNewlines) joinEmbeddedNewlines(dataLines)
            else dataLines.map((_, false))
          repaired.map { case (raw, joined) =>
            val (fixed, tabRepaired) = fixExtraTabs(raw, spec.expectedCells)
            val values = new Array[Any](width)
            val problems = spec.parseInto(fixed, values)
            stamp match {
              case Some(st) =>
                values(n) = days
                if (problems > 0) st.problems.add(problems)
                if (joined) st.newlineJoins.add(1)
                if (tabRepaired) st.tabRepairs.add(1)
              case None =>
                values(n) = new GenericArrayData(
                  Seq(joined -> newlineJoin, tabRepaired -> tabRepair)
                    .collect { case (true, r) => r })
                values(n + 1) = problems
            }
            new GenericInternalRow(values): InternalRow
          }
        }
    }
    GraftBridge.internalCreateDataFrame(spark, rdd, schema)
  }
}
