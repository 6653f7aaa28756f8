package graft.pipeline

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FfiecPipelineSpec extends SparkSpec {

  private def writeZip(dir: File, name: String, entries: (String, String)*): String = {
    val f = new File(dir, name)
    val zos = new ZipOutputStream(new FileOutputStream(f))
    entries.foreach { case (n, content) =>
      zos.putNextEntry(new ZipEntry(n))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    zos.close()
    f.getAbsolutePath
  }

  private val schemaMap = Map(
    "RCFD0010" -> "xbrli:monetaryItemType",
    "RCFD0020" -> "xbrli:monetaryItemType",
    "RCON3838" -> "xbrli:pureItemType",
    "RIAD4340" -> "xbrli:integerItemType")

  /** Three schedules (RC in two parts, RCB, RI) and a POR member: every
    * output kind — wide, all five long dtypes, metadata, POR. `rcRate`
    * is bank 39's RCON3838 cell; a bare number there is a pct_to_prop
    * error in a percent-bearing column. `d` is the MMDDYYYY date in the
    * zip and member names. */
  private def threeScheduleZip(dir: File, rcRate: String = "3%",
                               d: String = "03312024"): String =
    writeZip(dir, s"FFIEC CDR Call Bulk All Schedules $d.zip",
      s"FFIEC CDR Call Schedule RC $d(1 of 2).txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t100.5\t\n38\t200.0\t\n",
      s"FFIEC CDR Call Schedule RC $d(2 of 2).txt" ->
        ("IDRSSD\tRCFD0020\tRCON3838\t\nID\tOther\tRate\t\n" +
         s"37\t7.5\t28%\t\n39\t9.0\t$rcRate\t\n"),
      s"FFIEC CDR Call Schedule RCB $d.txt" ->
        ("IDRSSD\tRCFDB999\tRCON9999\tTEXTB\t\nID\tFlag\tAs of\tNote\t\n" +
         "37\ttrue\t20240331\tfirst\t\n39\tfalse\t0\tthird\t\n"),
      s"FFIEC CDR Call Schedule RI $d.txt" ->
        "IDRSSD\tRIAD4340\t\nID\tNet income\t\n37\t42\t\n38\tCONF\t\n",
      s"FFIEC CDR Call Bulk POR $d.txt" ->
        ("IDRSSD\tFinancial Institution Name\tFDIC Certificate Number\n" +
         "37\tFirst Bank\t0\n38\tSecond Bank\t1234\n"),
      "Readme.txt" -> "ignore")

  private val threeScheduleMap =
    schemaMap + ("RCFDB999" -> "xbrli:booleanItemType")

  private def render(r: org.apache.spark.sql.Row): String =
    r.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")

  /** A parquet table's schema, then every row rendered and sorted. */
  private def rowsOf(path: String): Seq[String] = {
    val t = spark.read.parquet(path)
    t.schema.simpleString +: t.collect().map(render).toSeq.sorted
  }

  /** A job `body` launched: its description ("" when unset), its
    * start and end times in listener-event milliseconds, and whether it
    * has a shuffle stage (one it runs that writes shuffle output, or a
    * parent map stage whose output it reads). */
  private case class JobSpan(desc: String, start: Long, end: Long,
                             shuffles: Boolean)

  /** The jobs `body` launches, in start order, collected by a
    * SparkListener on a job group the calling thread sets (driver-pool
    * threads inherit it). A fence job in a second group marks when
    * every earlier event was delivered. */
  private def jobSpansOf(body: => Unit): Seq[JobSpan] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart, SparkListenerStageCompleted}
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentSkipListMap[Int, JobSpan]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.put(e.jobId, JobSpan(
              props.flatMap(p => Option(p.getProperty("spark.job.description")))
                .getOrElse(""), e.time, -1L, shuffles = e.stageInfos.size > 1))
            e.stageInfos.foreach(si => stageJob.putIfAbsent(si.stageId, e.jobId))
          case Some(g) if g == s"$group-fence" => fence.countDown()
          case _ =>
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
          if (e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
            jobs.computeIfPresent(j, (_, s) => s.copy(shuffles = true))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, null) // no description: unlabelled jobs read ""
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.values.toArray(Array.empty[JobSpan]).toSeq
  }

  /** The descriptions of the jobs `body` launches ("" when unset). */
  private def jobsOf(body: => Unit): Seq[String] = jobSpansOf(body).map(_.desc)

  private def allFiles(f: File): Seq[File] =
    Option(f.listFiles()).toSeq.flatten.flatMap(c => c +: allFiles(c))

  test("fetchPlan: quarter ends in range; names round-trip through " +
    "listZips' pattern for both kinds") {
    val s = spark
    import s.implicits._
    val plan = FfiecPipeline.fetchPlan(s, "2001-02-15", "2002-12-31", "xbrl")
      .as[(java.sql.Date, String, String, String)].collect.toSeq
    // 2001-02-15 start: Q1 2001-03-31 is the first end; 8 quarters total
    assert(plan.map(_._2) == Seq("20010331", "20010630", "20010930",
      "20011231", "20020331", "20020630", "20020930", "20021231"))
    assert(plan.head._3 == "FFIEC CDR Call Bulk XBRL 03312001.zip")
    // every planned name must parse back through the listZips pattern
    // (drop a plan into the download dir -> the pipeline picks it up)
    for (kind <- Seq("tsv", "xbrl")) {
      val tmp = java.nio.file.Files.createTempDirectory("fplan").toFile
      val names = FfiecPipeline.fetchPlan(s, "2001-01-01", "2001-12-31", kind)
        .select("zip_name", "period").as[(String, String)].collect.toSeq
      names.foreach { case (n, _) =>
        writeZip(tmp, n, "dummy.txt" -> "x") }
      val listed = FfiecPipeline.listZips(s, tmp.getAbsolutePath, kind)
      assert(listed.map(_._2).sorted == names.map(_._2).sorted)
    }
  }

  test("processZip: multipart combine, typed long tables, metadata, POR") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq").toFile

    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
      "FFIEC CDR Call Schedule RC 03312024(1 of 2).txt" ->
        ("IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t100.5\t\n38\t200.0\t\n"),
      "FFIEC CDR Call Schedule RC 03312024(2 of 2).txt" ->
        ("IDRSSD\tRCFD0020\tRCON3838\t\nID\tOther\tRate\t\n37\t7.5\t28%\t\n39\t9.0\t3%\t\n"),
      "FFIEC CDR Call Schedule RI 03312024.txt" ->
        ("IDRSSD\tRIAD4340\t\nID\tNet income\t\n37\t42\t\n38\tCONF\t\n"),
      "FFIEC CDR Call Bulk POR 03312024.txt" ->
        ("IDRSSD\tFinancial Institution Name\tFDIC Certificate Number\tLast Date/Time Submission Updated On\n" +
         "37\tFirst Bank\t0\t2024-04-15T10:00:00\n" +
         "38\tSecond Bank\t1234\t2024-04-15T11:30:00\n"),
      "Readme.txt" -> "ignore")

    val manifest = FfiecPipeline.processZip(spark, s"$dir/FFIEC CDR Call Bulk All Schedules 03312024.zip",
      outDir.getAbsolutePath, schemaMap)
    val kinds = manifest.select("kind").collect().map(_.getString(0)).toSet
    assert(kinds.contains("rc") && kinds.contains("ri") &&
      kinds.contains("float") && kinds.contains("schedules") && kinds.contains("por"))

    // wide RC: parts full-joined on IDRSSD, pure % converted
    val rc = spark.read.parquet(s"$outDir/ffiec_rc_20240331.parquet")
      .orderBy("IDRSSD").collect()
    assert(rc.map(_.getInt(0)).toSeq == Seq(37, 38, 39))
    val r37 = rc(0)
    assert(r37.getAs[Double]("RCFD0010") == 100.5)
    assert(r37.getAs[Double]("RCFD0020") == 7.5)
    assert(r37.getAs[Double]("RCON3838") == 0.28) // "28%" → 0.28
    assert(rc(1).isNullAt(rc(1).fieldIndex("RCFD0020"))) // 38 only in part 1
    assert(rc(2).isNullAt(rc(2).fieldIndex("RCFD0010"))) // 39 only in part 2

    // long float table: one row per non-null (IDRSSD, date, item)
    val longF = spark.read.parquet(s"$outDir/ffiec_float_20240331.parquet")
    assert(longF.columns.toSet == Set("IDRSSD", "date", "item", "value"))
    assert(longF.where(col("item") === "RCFD0010").count() == 2)
    assert(longF.where(col("item") === "RCON3838").count() == 2)
    // int table separate; CONF dropped as NULL
    val longI = spark.read.parquet(s"$outDir/ffiec_int_20240331.parquet")
    assert(longI.count() == 1 && longI.collect()(0).getAs[Int]("value") == 42)

    // schedules metadata: RCFD0010 lives in rc only
    val meta = spark.read.parquet(s"$outDir/ffiec_schedules_20240331.parquet")
    val m = meta.collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(m("RCFD0010") == Seq("rc") && m("RIAD4340") == Seq("ri"))

    // POR: snake_case, id-zero→null, ET→UTC
    val por = spark.read.parquet(s"$outDir/por_20240331.parquet")
      .orderBy("IDRSSD").collect()
    assert(por(0).getAs[String]("financial_institution_name") == "First Bank")
    assert(por(0).isNullAt(por(0).fieldIndex("fdic_certificate_number"))) // "0" → null
    assert(por(1).getAs[String]("fdic_certificate_number") == "1234")
    // 2024-04-15 is EDT (UTC-4)
    assert(por(0).getAs[java.sql.Timestamp]("last_date_time_submission_updated_on")
      .toString == "2024-04-15 14:00:00.0")

    // listZips discovers the bulk zip with its date
    val zips = FfiecPipeline.listZips(spark, dir.getAbsolutePath)
    assert(zips.map(_._2) == Seq("20240331"))
  }

  test("processAll drives concurrent zips and writes the process log") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw3").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq3").toFile
    for (d <- Seq("03312024", "06302024")) {
      writeZip(dir, s"FFIEC CDR Call Bulk All Schedules $d.zip",
        s"FFIEC CDR Call Schedule RC $d.txt" ->
          s"IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.5\t\n")
    }
    // supply MDRM item metadata so the full reference output tree lands
    val s = spark
    import s.implicits._
    val itemsDir = java.nio.file.Files.createTempDirectory("ffiec_items").toFile
    Seq(("RCFD0010", "RCFD", "0010", "Cash", "float"))
      .toDF("item", "mnemonic", "item_code", "item_name", "data_type")
      .write.parquet(s"$itemsDir/items.parquet")
    Seq(("RCFD0010", "031", "2001-01-01", null.asInstanceOf[String], "N", "Cash held", "g", "monetary"))
      .toDF("item", "reporting_form", "start_date", "end_date",
        "confidentiality", "description", "seriesglossary", "itemtype")
      .write.parquet(s"$itemsDir/details.parquet")
    val manifest = FfiecPipeline.processAll(spark, dir.getAbsolutePath,
      outDir.getAbsolutePath, schemaMap,
      itemsPath = Some(s"$itemsDir/items.parquet"),
      detailsPath = Some(s"$itemsDir/details.parquet"))
    assert(manifest.where(col("kind") === "rc").count() == 2)
    val log = spark.read.parquet(s"$outDir/ffiec_process_data.parquet")
    assert(log.count() == manifest.count())
    // both report dates landed as separate wide parquets
    assert(new java.io.File(outDir, "ffiec_rc_20240331.parquet").exists())
    assert(new java.io.File(outDir, "ffiec_rc_20240630.parquet").exists())
    // item metadata tables in the tree + manifest (ffiec_create_item_pqs)
    assert(manifest.where(col("kind").isin("items", "item_details")).count() == 2)
    assert(spark.read.parquet(s"$outDir/ffiec_items.parquet").count() == 1)
    assert(spark.read.parquet(s"$outDir/ffiec_item_details.parquet").count() == 1)
  }

  test("processZip with NO schema map resolves types from a taxonomy concepts.xsd") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw4").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq4").toFile
    writeZip(dir, "_FFIEC Taxonomy 2024.zip",
      "call-2024/concepts.xsd" ->
        """<?xml version="1.0"?>
          |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"
          |           xmlns:xbrli="http://www.xbrl.org/2003/instance">
          |  <xs:element name="RCFD0010" type="xbrli:monetaryItemType" substitutionGroup="xbrli:item"/>
          |  <xs:element name="RCON3838" type="xbrli:pureItemType"/>
          |  <xs:element name="RIAD4340" type="xbrli:integerItemType"/>
          |  <xs:element name="RCON1111" type="xbrli:booleanItemType"/>
          |  <xs:element name="NoTypeHere"/>
          |</xs:schema>""".stripMargin)
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
      "FFIEC CDR Call Schedule RC 03312024.txt" ->
        ("IDRSSD\tRCFD0010\tRCON3838\tRCON1111\t\nID\tCash\tRate\tFlag\t\n" +
         "37\t100.5\t28%\ttrue\t\n38\t200.0\t3%\tfalse\t\n"))

    // no schemaMap argument — the pipeline must find the taxonomy itself
    FfiecPipeline.processZip(spark,
      s"$dir/FFIEC CDR Call Bulk All Schedules 03312024.zip", outDir.getAbsolutePath)
    val rc = spark.read.parquet(s"$outDir/ffiec_rc_20240331.parquet")
    assert(rc.schema("RCFD0010").dataType.typeName == "double")
    assert(rc.schema("RCON1111").dataType.typeName == "boolean")
    // pure % columns land as converted doubles, not strings
    assert(rc.schema("RCON3838").dataType.typeName == "double")
    val r37 = rc.orderBy("IDRSSD").collect()(0)
    assert(r37.getAs[Double]("RCON3838") == 0.28)
    assert(r37.getAs[Boolean]("RCON1111"))
  }

  test("inferFromFacts classifies XBRL facts like the reference bootstrap") {
    import spark.implicits._
    val facts = Seq(
      ("RCFD0010", Some("USD"), Some("0"), "123"),
      ("BOOL1", None, None, "true"),
      ("STR1", None, None, "hello"),
      ("PURE1", Some("PURE"), Some("4"), "0.28"),
      ("INT1", Some("NON-MONETARY"), Some("0"), "42")
    ).toDF("item", "unitRef", "decimals", "value")
    val m = graft.schema.FfiecSchema.inferFromFacts(facts)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map(
      "RCFD0010" -> "xbrli:monetaryItemType",
      "BOOL1" -> "xbrli:booleanItemType",
      "STR1" -> "xbrli:stringItemType",
      "PURE1" -> "xbrli:pureItemType",
      "INT1" -> "xbrli:integerItemType"))
  }

  test("manifest surfaces per-file repairs and a real ok flag") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw5").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq5").toFile
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 09302024.zip",
      // RC: one embedded-newline row (repair) + one unparseable double (problem)
      "FFIEC CDR Call Schedule RC 09302024.txt" ->
        ("IDRSSD\tRCFD0010\tTEXTX\t\nID\tCash\tNote\t\n" +
         "37\t1.5\tbroken\nline\t\n" +
         "38\tnotanumber\tok\t\n"),
      // RI: clean
      "FFIEC CDR Call Schedule RI 09302024.txt" ->
        "IDRSSD\tRIAD4340\t\nID\tNet income\t\n37\t42\t\n")
    val manifest = FfiecPipeline.processZip(spark,
      s"$dir/FFIEC CDR Call Bulk All Schedules 09302024.zip",
      outDir.getAbsolutePath, schemaMap)
    val rows = manifest.collect()
      .map(r => r.getAs[String]("kind") ->
        (r.getAs[Boolean]("ok"), r.getSeq[String](r.fieldIndex("repairs")))).toMap
    assert(rows("rc")._2.contains("newline-join"))
    assert(!rows("rc")._1) // "notanumber" failed its monetary parse
    assert(rows("ri")._1 && rows("ri")._2.isEmpty)
    // and the repaired row actually landed repaired
    val rc = spark.read.parquet(s"$outDir/ffiec_rc_20240930.parquet")
      .orderBy("IDRSSD").collect()
    assert(rc(0).getAs[String]("TEXTX") == "broken line")
    assert(rc(1).isNullAt(rc(1).fieldIndex("RCFD0010")))
  }

  test("tolerant processAll records a broken zip and keeps going") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw6").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq6").toFile
    // one good zip, one with broken multipart structure
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
      "FFIEC CDR Call Schedule RC 03312024.txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.5\t\n")
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 06302024.zip",
      "FFIEC CDR Call Schedule RC 06302024(1 of 3).txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.0\t\n")
    // fail-fast default still throws
    intercept[IllegalArgumentException] {
      FfiecPipeline.processAll(spark, dir.getAbsolutePath,
        outDir.getAbsolutePath, schemaMap)
    }
    val manifest = FfiecPipeline.processAll(spark, dir.getAbsolutePath,
      outDir.getAbsolutePath, schemaMap, tolerant = true)
    val err = manifest.where(col("kind") === "error").collect()
    assert(err.length == 1 && !err(0).getAs[Boolean]("ok"))
    assert(err(0).getSeq[String](err(0).fieldIndex("innerFiles"))
      .head.contains("06302024"))
    // the good zip still landed
    assert(manifest.where(col("kind") === "rc" && col("ok")).count() == 1)
    assert(new java.io.File(outDir, "ffiec_rc_20240331.parquet").exists())
  }

  test("fleet soak: 60 zips (3 broken) through tolerant concurrent processAll") {
    // the 100 TB ingestion posture in miniature: a quarter-century of
    // quarterly drops processed in one tolerant run — asserts manifest
    // COMPLETENESS (every zip accounted for, broken ones as error rows,
    // no output lost to a neighbor's failure) for processAll's shared
    // phases and for a loop of one processZip call per zip
    val dir = java.nio.file.Files.createTempDirectory("ffiec_fleet").toFile
    val quarters = for {
      y <- 2010 to 2024; q <- Seq("0331", "0630", "0930", "1231")
    } yield s"$q$y"
    val dates = quarters.take(60)
    val broken = Set(dates(7), dates(23), dates(41))
    dates.foreach { d =>
      if (broken(d)) {
        // declared multipart but a part is missing — structural break
        writeZip(dir, s"FFIEC CDR Call Bulk All Schedules $d.zip",
          s"FFIEC CDR Call Schedule RC $d(1 of 3).txt" ->
            "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.0\t\n")
      } else {
        writeZip(dir, s"FFIEC CDR Call Bulk All Schedules $d.zip",
          s"FFIEC CDR Call Schedule RC $d.txt" ->
            s"IDRSSD\tRCFD0010\tRCFD0020\t\nID\tCash\tDue\t\n37\t1.5\t2.5\t\n93\t3.5\t4.5\t\n")
      }
    }
    val s = spark
    import s.implicits._
    /** One processZip call per zip, a broken zip caught as an error row;
      * the concatenated manifest is written as processAll writes it. */
    def zipLoop(outDir: String): org.apache.spark.sql.DataFrame = {
      val m = FfiecPipeline.listZips(spark, dir.getAbsolutePath).map { case (zip, d) =>
        try FfiecPipeline.processZip(spark, zip, outDir, schemaMap)
        catch {
          case e: IllegalArgumentException =>
            Seq(FfiecPipeline.Written("error", "zip", d, "", 0, ok = false,
              Seq(s"error: ${e.getMessage}"), Seq(zip))).toDF()
        }
      }.reduce(_.unionByName(_))
      m.write.parquet(s"$outDir/ffiec_process_data.parquet")
      m
    }
    def run(name: String)(process: String => org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Double) = {
      val outDir = java.nio.file.Files.createTempDirectory(s"ffiec_fleet_$name").toFile
      val t0 = System.nanoTime()
      val m = process(outDir.getAbsolutePath).cache()
      m.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // completeness: 57 good rc tables + 3 error rows, every output on disk
      assert(m.where(col("kind") === "rc" && col("ok")).count() == 57)
      assert(m.where(col("kind") === "error" && !col("ok")).count() == 3)
      dates.filterNot(broken).foreach { d =>
        val ymd = d.takeRight(4) + d.take(4)
        assert(new File(outDir, s"ffiec_rc_$ymd.parquet").exists(), s"missing $ymd")
      }
      val log = spark.read.parquet(s"$outDir/ffiec_process_data.parquet")
      assert(log.count() == m.count())
      (m, sec)
    }
    val (_, loopSec) = run("loop")(zipLoop)
    val (all, allSec) = run("all")(out => FfiecPipeline.processAll(spark,
      dir.getAbsolutePath, out, schemaMap, tolerant = true))
    info(f"fleet soak: 60 zips processZip loop=$loopSec%.1fs processAll=$allSec%.1fs")
    // manifest rows keep zip order
    val manifestDates = all.select("dateRaw").as[String].collect().toSeq.distinct
    assert(manifestDates == manifestDates.sorted)
    // sharing phases must not be slower than one zip at a time by more
    // than noise — wall-time scaling is recorded in SURVEY, not
    // hard-asserted (CI boxes vary); the guard catches accidental
    // serialization regressions
    assert(allSec < loopSec * 1.5,
      f"processAll pathologically slow: $allSec%.1fs vs $loopSec%.1fs")
  }

  test("pct_to_prop strictness: bare numeric in a percent-bearing pure column") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw7").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq7").toFile
    // RCON3838 is pureItemType and carries '%' values — a bare "28" is
    // the reference's pct_to_prop() error case
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 12312024.zip",
      "FFIEC CDR Call Schedule RC 12312024.txt" ->
        ("IDRSSD\tRCFD0010\tRCON3838\t\nID\tCash\tRate\t\n" +
         "37\t1.5\t28%\t\n38\t2.0\t28\t\n"))
    val zip = s"$dir/FFIEC CDR Call Bulk All Schedules 12312024.zip"
    val manifest = FfiecPipeline.processZip(spark, zip, outDir.getAbsolutePath, schemaMap)
    val rc = manifest.where(col("kind") === "rc").collect()(0)
    assert(!rc.getAs[Boolean]("ok"))
    assert(rc.getSeq[String](rc.fieldIndex("repairs"))
      .exists(_.startsWith("pure-pct-bad: RCON3838")))
    // strict mode throws, like the reference's stop()
    val e = intercept[IllegalStateException] {
      FfiecPipeline.processZip(spark, zip, outDir.getAbsolutePath, schemaMap,
        strict = true)
    }
    assert(e.getMessage.contains("RCON3838"))

    // reference parity: a pure column with NO '%' anywhere is silently
    // cast to double — bare numerics are fine there
    val dir2 = java.nio.file.Files.createTempDirectory("ffiec_raw8").toFile
    writeZip(dir2, "FFIEC CDR Call Bulk All Schedules 12312024.zip",
      "FFIEC CDR Call Schedule RC 12312024.txt" ->
        ("IDRSSD\tRCFD0010\tRCON3838\t\nID\tCash\tRate\t\n" +
         "37\t1.5\t0.28\t\n38\t2.0\t0.03\t\n"))
    val m2 = FfiecPipeline.processZip(spark,
      s"$dir2/FFIEC CDR Call Bulk All Schedules 12312024.zip",
      outDir.getAbsolutePath, schemaMap, strict = true)
    assert(m2.where(col("kind") === "rc").collect()(0).getAs[Boolean]("ok"))
  }

  private def xbrlDoc(idrssd: Int, date: String, value: Long): String =
    s"""<?xml version="1.0"?>
       |<xbrl xmlns:cc="http://www.ffiec.gov/xbrl" xmlns:xbrli="http://www.xbrl.org/2003/instance">
       |  <xbrli:context id="c1"/>
       |  <cc:RCFD2170 contextRef="rc_${idrssd}_$date" unitRef="USD" decimals="0">$value</cc:RCFD2170>
       |  <cc:RCON9999 contextRef="rc_${idrssd}_$date">20240331</cc:RCON9999>
       |</xbrl>""".stripMargin

  test("processXbrls writes per-date facts parquet and a manifest") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_xbrl_raw").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_xbrl_pq").toFile
    writeZip(dir, "FFIEC CDR Call Bulk XBRL 03312024.zip",
      "FFIEC CDR Call Bulk 480228.xbrl.xml" -> xbrlDoc(480228, "2024-03-31", 123456),
      "FFIEC CDR Call Bulk 480229.xbrl.xml" -> xbrlDoc(480229, "2024-03-31", 654321),
      "Readme.txt" -> "ignore")
    writeZip(dir, "FFIEC CDR Call Bulk XBRL 06302024.zip",
      "FFIEC CDR Call Bulk 480228.xbrl.xml" -> xbrlDoc(480228, "2024-06-30", 111111))
    // a TSV bulk zip beside them must be ignored by the xbrl walk
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
      "FFIEC CDR Call Schedule RC 03312024.txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.5\t\n")

    val manifest = FfiecPipeline.processXbrls(spark, dir.getAbsolutePath,
      outDir.getAbsolutePath)
    val rows = manifest.orderBy("dateRaw").collect()
    assert(rows.map(_.getAs[String]("dateRaw")).toSeq == Seq("20240331", "20240630"))
    assert(rows.forall(_.getAs[Boolean]("ok")))
    assert(rows(0).getAs[Long]("nFacts") == 4L) // 2 filings x 2 facts
    assert(rows(1).getAs[Long]("nFacts") == 2L)

    // per-date facts parquet with the reference's fact columns
    val q1 = spark.read.parquet(s"$outDir/ffiec_xbrl_20240331.parquet")
    assert(q1.columns.toSet == Set("IDRSSD", "date", "schedule", "item",
      "unitRef", "decimals", "value", "n_attrs"))
    val v = q1.where(col("IDRSSD") === 480228 && col("item") === "RCFD2170")
      .collect()
    assert(v.length == 1 && v(0).getAs[String]("value") == "123456")
    // manifest persisted beside the data
    val log = spark.read.parquet(s"$outDir/ffiec_process_xbrls_data.parquet")
    assert(log.count() == 2)

    // tolerant mode records a bad zip and keeps going
    writeZip(dir, "FFIEC CDR Call Bulk XBRL 09302024.zip",
      "broken.xbrl.xml" -> "<not-xml")
    val m2 = FfiecPipeline.processXbrls(spark, dir.getAbsolutePath,
      outDir.getAbsolutePath, tolerant = true)
    val bad = m2.where(!col("ok")).collect()
    assert(bad.length == 1 && bad(0).getAs[String]("dateRaw") == "20240930")
    assert(m2.where(col("ok")).count() == 2)
  }

  test("processStream ingests newly landed zips exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_stream_raw").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_stream_pq").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("ffiec_stream_ck").toFile
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
      "FFIEC CDR Call Schedule RC 03312024.txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.5\t\n")
    // month 13, day 45: not a bulk-zip date, so listZips skips it
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 13452020.zip",
      "FFIEC CDR Call Schedule RC 13452020.txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n39\t3.5\t\n")
    val q = FfiecPipeline.processStream(spark, dir.getAbsolutePath,
      outDir.getAbsolutePath, ckpt.getAbsolutePath, schemaMap)
    try {
      q.processAllAvailable()
      assert(new java.io.File(outDir, "ffiec_rc_20240331.parquet").exists())
      // a second quarter lands while the stream runs
      writeZip(dir, "FFIEC CDR Call Bulk All Schedules 06302024.zip",
        "FFIEC CDR Call Schedule RC 06302024.txt" ->
          "IDRSSD\tRCFD0010\t\nID\tCash\t\n38\t2.5\t\n")
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      assert(new java.io.File(outDir, "ffiec_rc_20240630.parquet").exists())
      val log = spark.read.parquet(s"$outDir/ffiec_process_stream_log.parquet")
      // exactly once: one rc manifest row per zip, no reprocessing
      assert(log.where(col("kind") === "rc").count() == 2)
      assert(log.where(!col("ok")).count() == 0)
      // the bad-date zip is skipped, as processAll skips it
      assert(log.where(col("dateRaw") === "20201345").count() == 0)
      assert(!new java.io.File(outDir, "ffiec_rc_20201345.parquet").exists())
    } finally q.stop()
  }

  test("processZip rejects broken multipart structure") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw2").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq2").toFile
    // a valid schedule that sorts before the broken one, and a POR
    // member: validation runs before any write, so none of them lands
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 06302024.zip",
      "FFIEC CDR Call Schedule ENT 06302024.txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.0\t\n",
      "FFIEC CDR Call Schedule RC 06302024(1 of 3).txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.0\t\n",
      "FFIEC CDR Call Schedule RC 06302024(2 of 3).txt" ->
        "IDRSSD\tRCFD0020\t\nID\tOther\t\n37\t2.0\t\n",
      "FFIEC CDR Call Bulk POR 06302024.txt" ->
        "IDRSSD\tFinancial Institution Name\n37\tFirst Bank\n")
    intercept[IllegalArgumentException] {
      FfiecPipeline.processZip(spark,
        s"$dir/FFIEC CDR Call Bulk All Schedules 06302024.zip",
        outDir.getAbsolutePath, schemaMap)
    }
    assert(outDir.list().isEmpty, outDir.list().mkString(", "))
  }

  test("processZip: three schedules + POR — every table and the manifest " +
    "equal across runs and as expected") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw9").toFile
    val zip = threeScheduleZip(dir)
    val tables = Seq("ffiec_rc", "ffiec_rcb", "ffiec_ri", "ffiec_float",
      "ffiec_int", "ffiec_str", "ffiec_date", "ffiec_bool",
      "ffiec_schedules", "por").map(t => s"${t}_20240331.parquet")
    def run(): (Seq[String], Seq[Seq[String]], Seq[String]) = {
      val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq9").toFile
      val manifest = FfiecPipeline.processZip(spark, zip,
        outDir.getAbsolutePath, threeScheduleMap)
        .drop("parquet").collect().map(render).toSeq
      val written = outDir.list().toSeq.sorted
      (manifest, tables.map(t => rowsOf(s"$outDir/$t")), written)
    }
    val first = run()
    assert(run() == first)
    val (manifest, rows, written) = first
    // manifest order: schedules, long (dtype order), meta, POR
    val rc = "FFIEC CDR Call Schedule RC 03312024"
    assert(manifest == Seq(
      s"rc|schedule|20240331|2|true|[]|[$rc(1 of 2).txt,$rc(2 of 2).txt]",
      "rcb|schedule|20240331|1|true|[]|[FFIEC CDR Call Schedule RCB 03312024.txt]",
      "ri|schedule|20240331|1|true|[]|[FFIEC CDR Call Schedule RI 03312024.txt]",
      "float|long|20240331|1|true|[]|[]",
      "int|long|20240331|1|true|[]|[]",
      "str|long|20240331|1|true|[]|[]",
      "date|long|20240331|1|true|[]|[]",
      "bool|long|20240331|1|true|[]|[]",
      "schedules|meta|20240331|1|true|[]|[]",
      "por|por|20240331|1|true|[]|[FFIEC CDR Call Bulk POR 03312024.txt]"))
    assert(written == tables.sorted)
    val d = "2024-03-31"
    def long(t: String) = s"struct<IDRSSD:int,date:date,item:string,value:$t>"
    assert(rows == Seq(
      Seq("struct<IDRSSD:int,RCFD0010:double,RCFD0020:double,RCON3838:double,date:date>",
        s"37|100.5|7.5|0.28|$d", s"38|200.0|null|null|$d",
        s"39|null|9.0|0.03|$d"),
      Seq("struct<IDRSSD:int,RCFDB999:boolean,RCON9999:date,TEXTB:string,date:date>",
        s"37|true|$d|first|$d", s"39|false|null|third|$d"),
      Seq("struct<IDRSSD:int,RIAD4340:int,date:date>", s"37|42|$d", s"38|null|$d"),
      Seq(long("double"), s"37|$d|RCFD0010|100.5", s"37|$d|RCFD0020|7.5",
        s"37|$d|RCON3838|0.28", s"38|$d|RCFD0010|200.0",
        s"39|$d|RCFD0020|9.0", s"39|$d|RCON3838|0.03"),
      Seq(long("int"), s"37|$d|RIAD4340|42"),
      Seq(long("string"), s"37|$d|TEXTB|first", s"39|$d|TEXTB|third"),
      Seq(long("date"), s"37|$d|RCON9999|$d"),
      Seq(long("boolean"), s"37|$d|RCFDB999|true", s"39|$d|RCFDB999|false"),
      Seq("struct<item:string,schedules:array<string>,date:date>",
        s"RCFD0010|[rc]|$d", s"RCFD0020|[rc]|$d", s"RCFDB999|[rcb]|$d",
        s"RCON3838|[rc]|$d", s"RCON9999|[rcb]|$d", s"RIAD4340|[ri]|$d",
        s"TEXTB|[rcb]|$d"),
      Seq("struct<IDRSSD:int,financial_institution_name:string," +
          "fdic_certificate_number:string,date:date>",
        s"37|First Bank|null|$d", s"38|Second Bank|1234|$d")))
  }

  test("strict pct failure settles every sibling write before it throws") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw10").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq10").toFile
    val zip = threeScheduleZip(dir, rcRate = "3")
    val e = intercept[IllegalStateException] {
      FfiecPipeline.processZip(spark, zip, outDir.getAbsolutePath,
        threeScheduleMap, strict = true)
    }
    assert(e.getMessage.contains("RCON3838"))
    // no write is still in flight: no task attempt directory remains,
    // and every table the failed phase started has committed
    val files = allFiles(outDir)
    assert(!files.exists(_.getName == "_temporary"), files.mkString("\n"))
    val tables = outDir.listFiles().toSeq
    assert(tables.map(_.getName).sorted == Seq("ffiec_rc_20240331.parquet",
      "ffiec_rcb_20240331.parquet", "ffiec_ri_20240331.parquet",
      "por_20240331.parquet"))
    assert(tables.forall(t => new File(t, "_SUCCESS").exists()))
  }

  test("processZip job budget: no per-dtype schema reads of the wide tables; " +
    "every phase job labelled") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw11").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq11").toFile
    val zip = threeScheduleZip(dir)
    val spans = jobSpansOf(FfiecPipeline.processZip(spark, zip,
      outDir.getAbsolutePath, threeScheduleMap))
    val jobs = spans.map(_.desc)
    info(s"processZip launched ${jobs.size} jobs")
    // 13 jobs for 3 schedules + POR: the key check rides each long
    // table's one-task write, and no wide table is re-read for its schema
    assert(jobs.size <= 13, s"${jobs.size} jobs > budget 13")
    // only the member listing runs outside the phases
    val label = "ffiec 20240331 ([a-z]+ (wide|long|meta)|por)".r
    assert(jobs.count(_.isEmpty) == 1, jobs.mkString("\n"))
    assert(jobs.filter(_.nonEmpty).forall(label.matches), jobs.mkString("\n"))
    assert(jobs.toSet.contains("ffiec 20240331 rcb wide") &&
      jobs.toSet.contains("ffiec 20240331 float long") &&
      jobs.toSet.contains("ffiec 20240331 schedules meta"))
    // the caller's thread keeps no description
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
    // the sub-MiB long tables are written by one task each: no shuffle,
    // one file per table, rows in key order
    val longWrites = spans.filter(_.desc.endsWith(" long"))
    assert(longWrites.size == 5 && !longWrites.exists(_.shuffles), spans.mkString("\n"))
    for (t <- Seq("float", "int", "str", "date", "bool")) {
      val table = new File(outDir, s"ffiec_${t}_20240331.parquet")
      assert(table.list().count(_.endsWith(".parquet")) == 1, table.list().mkString(", "))
      val keys = spark.read.parquet(table.getPath).collect()
        .map(r => (r.getInt(0), r.getDate(1).toString, r.getString(2))).toSeq
      assert(keys == keys.sorted, s"$t: $keys")
    }
  }

  test("a long table that breaks its key is removed and the zip fails") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw12").toFile
    // RC and RCB both carry RCFD0010 for bank 37, with different values:
    // the float long table holds two rows for one (IDRSSD, date, item)
    val dupZip = writeZip(dir, "FFIEC CDR Call Bulk All Schedules 03312024.zip",
      "FFIEC CDR Call Schedule RC 03312024.txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.5\t\n38\t2.5\t\n",
      "FFIEC CDR Call Schedule RCB 03312024.txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t9.5\t\n")
    val longTable = "ffiec_(float|int|str|date|bool)_\\d{8}\\.parquet".r
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq12").toFile
    val e = intercept[IllegalArgumentException] {
      FfiecPipeline.processZip(spark, dupZip, outDir.getAbsolutePath, schemaMap)
    }
    assert(e.getMessage.contains("Found 2 rows sharing a key on {IDRSSD, date, item}"),
      e.getMessage)
    assert(!outDir.list().exists(longTable.matches), outDir.list().mkString(", "))
    // tolerant processAll: the zip becomes one error row, a good zip lands
    writeZip(dir, "FFIEC CDR Call Bulk All Schedules 06302024.zip",
      "FFIEC CDR Call Schedule RC 06302024.txt" ->
        "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.5\t\n")
    val outAll = java.nio.file.Files.createTempDirectory("ffiec_pq12b").toFile
    val manifest = FfiecPipeline.processAll(spark, dir.getAbsolutePath,
      outAll.getAbsolutePath, schemaMap, tolerant = true)
    val kinds = manifest.select("kind", "dateRaw", "ok").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(kinds == Seq(("error", "20240331", false), ("rc", "20240630", true),
      ("float", "20240630", true), ("schedules", "20240630", true)), kinds)
    assert(outAll.list().filter(longTable.matches).toSeq == Seq("ffiec_float_20240630.parquet"))
  }

  test("processAll overlaps the jobs of different zips") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw13").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq13").toFile
    for (d <- Seq("03312024", "06302024")) {
      writeZip(dir, s"FFIEC CDR Call Bulk All Schedules $d.zip",
        s"FFIEC CDR Call Schedule RC $d.txt" ->
          "IDRSSD\tRCFD0010\t\nID\tCash\t\n37\t1.5\t\n38\t2.5\t\n",
        s"FFIEC CDR Call Schedule RI $d.txt" ->
          "IDRSSD\tRIAD4340\t\nID\tNet income\t\n37\t42\t\n")
    }
    val jobs = jobSpansOf(FfiecPipeline.processAll(spark, dir.getAbsolutePath,
      outDir.getAbsolutePath, schemaMap))
    val first = jobs.filter(_.desc.startsWith("ffiec 20240331 "))
    val second = jobs.filter(_.desc.startsWith("ffiec 20240630 "))
    assert(first.nonEmpty && second.nonEmpty, jobs.mkString("\n"))
    // a job of the second zip starts before the first zip's last job ends
    assert(second.map(_.start).min < first.map(_.end).max, jobs.mkString("\n"))
  }

  test("read-set job budget: a two-date union scan, a pivot and a key check " +
    "on processZip output launch one job each") {
    val dir = java.nio.file.Files.createTempDirectory("ffiec_raw14").toFile
    val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq14").toFile
    // RC gains an item between the dates: the union merges two schemas
    for ((d, extra) <- Seq("03312024" -> "", "06302024" -> "RCFD0020\t")) {
      val zip = writeZip(dir, s"FFIEC CDR Call Bulk All Schedules $d.zip",
        s"FFIEC CDR Call Schedule RC $d.txt" ->
          (s"IDRSSD\tRCFD0010\t$extra\nID\tCash\t$extra\n" +
            s"37\t1.5\t${if (extra.isEmpty) "" else "7.5\t"}\n38\t2.5\t\n"))
      FfiecPipeline.processZip(spark, zip, outDir.getAbsolutePath, schemaMap)
    }
    val out = outDir.getAbsolutePath
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    var union: org.apache.spark.sql.DataFrame = null
    val unionJobs = jobsOf { union = graft.sources.Scan.unionByName(
      spark, s"$out/ffiec_rc_*.parquet"); noop(union) }
    assert(unionJobs.size == 1, unionJobs.mkString("\n"))
    assert(union.columns.toSeq == Seq("IDRSSD", "RCFD0010", "date", "RCFD0020"))
    assert(union.count() == 4)
    val t = graft.LongTable.scan(spark, out)
    val pivotJobs = jobsOf(noop(t.pivot(Seq("RCFD0010", "RCFD0020"))))
    assert(pivotJobs.size == 1, pivotJobs.mkString("\n"))
    var ok = false
    val checkJobs = jobsOf { ok = t.checkKeys() }
    assert(ok && checkJobs.size == 1, checkJobs.mkString("\n"))
    assert(t.pivot(Seq("RCFD0010", "RCFD0020")).orderBy("date", "IDRSSD")
      .collect().map(render).toSeq == Seq(
        "37|2024-03-31|1.5|null", "38|2024-03-31|2.5|null",
        "37|2024-06-30|1.5|7.5", "38|2024-06-30|2.5|null"))
  }

  test("codegen footprint: observed metrics only for the pure check, no " +
    "window in a long write, and the same generated code in every quarter") {
    import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    /** The write plans of `processZip` over the three-schedule zip for
      * one quarter, by table name without the date. */
    def writePlans(d: String): Map[String, SparkPlan] = {
      val dir = java.nio.file.Files.createTempDirectory("ffiec_raw15").toFile
      val outDir = java.nio.file.Files.createTempDirectory("ffiec_pq15").toFile
      val zip = threeScheduleZip(dir, d = d)
      val plans = new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]()
      val fence = new java.util.concurrent.CountDownLatch(1)
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
          val plan = qe.executedPlan
          Plans.collectFirst(plan) { case w: DataWritingCommandExec => w.cmd } match {
            case Some(c: InsertIntoHadoopFsRelationCommand) =>
              plans.put(c.outputPath.getName.replaceAll("_\\d{8}\\.parquet$", ""), plan)
            case _ if qe.analyzed.output.map(_.name) == Seq("codegen_fence") =>
              fence.countDown()
            case _ =>
          }
        }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        FfiecPipeline.processZip(spark, zip, outDir.getAbsolutePath, threeScheduleMap)
        spark.range(1).toDF("codegen_fence").collect()
        assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      plans.asScala.toMap
    }
    val q1 = writePlans("03312024")
    val q2 = writePlans("06302024")
    val tables = Seq("ffiec_rc", "ffiec_rcb", "ffiec_ri", "por") ++
      Seq("float", "int", "str", "date", "bool").map(t => s"ffiec_$t")
    assert(tables.forall(t => q1.contains(t) && q2.contains(t)), q1.keys.mkString(", "))
    for ((t, plan) <- q1) {
      val observed = Plans.collect(plan) { case c: CollectMetricsExec => c.name }
      assert(observed.forall(_.startsWith("pure_")), s"$t: $observed")
    }
    assert(Plans.collect(q1("ffiec_rc")) { case c: CollectMetricsExec => c }.size == 1)
    for (t <- tables.drop(4)) // the long tables
      assert(Plans.collect(q1(t)) { case w: WindowExec => w }.isEmpty, t)
    for (t <- tables) {
      val (c1, c2) = (codegenStringSeq(q1(t)).map(_._2), codegenStringSeq(q2(t)).map(_._2))
      assert(c1.nonEmpty, s"$t: no whole-stage code")
      assert(c1 == c2, s"$t: the quarters' generated code differs")
    }
  }
}
