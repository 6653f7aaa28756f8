package graft.sources

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec
import graft.schema.FfiecSchema
import org.apache.spark.sql.functions.{col, lit, struct}

class ZipTsvSpec extends SparkSpec {

  private def makeZip(entries: (String, String)*): String = {
    val f = File.createTempFile("FFIEC CDR Call Bulk All Schedules 03312024", ".zip")
    f.deleteOnExit()
    val zos = new ZipOutputStream(new FileOutputStream(f))
    entries.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    zos.close()
    f.getAbsolutePath
  }

  private val schedTsv =
    "IDRSSD\tRCFD0010\tRCON8678\tRCON9999\t\n" +       // header
    "ID\tCash\tText\tDate\t\n" +                        // description row
    "37\t123.5\thello\t20240331\t\n" +                  // clean row
    "38\t\tCONF\t0\t\n" +                               // NA tokens
    "39\t7.25\tbroken\nline\t20240331\t\n" +            // embedded newline
    "40\t1.0\tgood\t20240331\tstray\ttail\n"            // extra tabs at end

  test("member name manifest parsing mirrors get_cr_files") {
    val m = ZipTsv.parseMemberName("z.zip",
      "FFIEC CDR Call Schedule RCB 03312024(1 of 2).txt")
    assert(m.schedule.contains("RCB"))
    assert(m.dateRaw.contains("20240331"))
    assert(m.part.contains(1) && m.nParts.contains(2))
  }

  test("zip member read: typed columns, NA tokens, repair ladder") {
    val zip = makeZip(
      "FFIEC CDR Call Schedule RC 03312024.txt" -> schedTsv,
      "Readme.txt" -> "ignore me")
    val members = ZipTsv.listMembers(spark, zip)
    assert(members.map(_.file) ==
      Seq("FFIEC CDR Call Schedule RC 03312024.txt"))

    val header = ZipTsv.memberHeader(spark, zip, members.head.file)
    val spec = FfiecSchema.colSpec(header,
      schemaMap = Map("RCFD0010" -> "xbrli:monetaryItemType"))
    val df = ZipTsv.readMember(spark, zip, members.head.file, spec)
    val rows = df.orderBy("IDRSSD").collect()
    assert(rows.length == 4)
    assert(df.schema("IDRSSD").dataType.typeName == "integer")
    assert(df.schema("RCFD0010").dataType.typeName == "double")
    assert(df.schema("RCON9999").dataType.typeName == "date")

    val r37 = rows(0)
    assert(r37.getInt(0) == 37 && r37.getDouble(1) == 123.5 &&
      r37.getString(2) == "hello" && r37.getDate(3).toString == "2024-03-31")
    val r38 = rows(1) // NA tokens → nulls; date "0" → null
    assert(r38.isNullAt(1) && r38.isNullAt(2) && r38.isNullAt(3))
    val repairsIdx = df.schema.fieldIndex("_repairs")
    val r39 = rows(2) // embedded newline joined with a space
    assert(r39.getString(2) == "broken line")
    assert(r39.getSeq[String](repairsIdx).contains("newline-join"))
    val r40 = rows(3) // tabs past the expected arity squashed to spaces
    assert(r40.getString(2) == "good" && r40.getDate(3).toString == "2024-03-31")
    assert(r40.getSeq[String](repairsIdx).contains("tab-repair"))
    // the audit columns, exactly: one repair list and problem count per
    // row; a boolean-typed RCFD0010 makes every number a problem
    assert(df.schema.simpleString == "struct<IDRSSD:int,RCFD0010:double," +
      "RCON8678:string,RCON9999:date,_repairs:array<string>,_problems:int>")
    def audit(d: org.apache.spark.sql.DataFrame) = d.orderBy("IDRSSD")
      .select("_repairs", "_problems").collect()
      .map(r => (r.getSeq[String](0), r.getInt(1))).toSeq
    assert(audit(df) == Seq((Nil, 0), (Nil, 0), (Seq("newline-join"), 0),
      (Seq("tab-repair"), 0)))
    val asBool = ZipTsv.readMember(spark, zip, members.head.file,
      FfiecSchema.colSpec(header, schemaMap = Map("RCFD0010" -> "xbrli:booleanItemType")))
    assert(audit(asBool) == Seq((Nil, 1), (Nil, 0), (Seq("newline-join"), 1),
      (Seq("tab-repair"), 1)))
  }

  test("member reads close their zip stream when the task ends") {
    val fds = new File("/proc/self/fd")
    assume(fds.isDirectory, "no /proc/self/fd on this platform")
    val zip = makeZip(
      "FFIEC CDR Call Schedule RC 03312024.txt" -> schedTsv,
      "FFIEC CDR Call Schedule RI 03312024.txt" ->
        "IDRSSD\tRIAD4340\t\nID\tNet income\t\n37\t42\t\n",
      "FFIEC CDR Call Bulk POR 03312024.txt" ->
        "IDRSSD\tFinancial Institution Name\n37\tFirst Bank\n")
    val members = ZipTsv.listMembers(spark, zip)
    val (sched, por) = members.partition(_.schedule.isDefined)
    assert(sched.size == 2 && por.size == 1)
    val read = ZipTsv.readSchedule(spark, zip, sched.map(_.file)) ++
      por.map(m => ZipTsv.readPor(spark, zip, m.file))
    assert(read.map(_.collect().length) == Seq(4, 1, 1))
    // one member read stopped early by a limit closes its stream too
    assert(ZipTsv.readSchedule(spark, zip, sched.take(1).map(_.file)).head
      .limit(1).collect().length == 1)
    val target = new File(zip).getCanonicalPath
    val open = Option(fds.listFiles()).toSeq.flatten.filter { fd =>
      scala.util.Try(java.nio.file.Files.readSymbolicLink(fd.toPath).toString)
        .toOption.contains(target)
    }
    assert(open.isEmpty, s"${open.size} descriptors still open on $target")
  }

  test("cell unquoting strips one quote at each end, as the regex did") {
    for (cell <- Seq("\"a\"", "\"a", "a\"", "\"", "\"\"", "a\"b\"", "\"\"a\"\"", "a", ""))
      assert(FfiecSchema.unquote(cell) == cell.replaceAll("^\"|\"$", ""), cell)
  }
}

class XbrlZipSpec extends SparkSpec {
  private val sample =
    """<?xml version="1.0"?>
      |<xbrl xmlns:cc="http://www.ffiec.gov/xbrl" xmlns:xbrli="http://www.xbrl.org/2003/instance">
      |  <xbrli:context id="c1"/>
      |  <cc:RCFD2170 contextRef="rc_480228_2024-03-31" unitRef="USD" decimals="0">123456</cc:RCFD2170>
      |  <cc:RCON9999 contextRef="rc_480228_2024-03-31">20240331</cc:RCON9999>
      |</xbrl>""".stripMargin

  test("parseXbrl extracts namespaced facts with context split") {
    val facts = XbrlZip.parseXbrl(sample)
    assert(facts.length == 2)
    val f = facts.head
    assert(f.item == "RCFD2170")
    assert(f.IDRSSD.contains(480228))
    assert(f.date.contains("2024-03-31"))
    assert(f.schedule.contains("rc"))
    assert(f.unitRef.contains("USD"))
    assert(f.decimals.contains("0"))
    assert(f.value == "123456")
    assert(f.n_attrs == 3)
    assert(facts(1).n_attrs == 1)
  }
}

class ScanSpec extends SparkSpec {
  test("unionByName glob scan merges evolving schemas") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scan").toFile
    dir.deleteOnExit()
    Seq((1, 10.0)).toDF("IDRSSD", "RCFD0010")
      .write.parquet(s"$dir/rc_20240331.parquet")
    Seq((2, 20.0, "x")).toDF("IDRSSD", "RCFD0020", "RCON8678")
      .write.parquet(s"$dir/rc_20240630.parquet")
    val df = Scan.unionByName(spark, s"$dir/rc_*.parquet")
    assert(df.columns.toSet == Set("IDRSSD", "RCFD0010", "RCFD0020", "RCON8678"))
    assert(df.count() == 2)
    assert(Scan.extractSchedule("ffiec_rc_20240331.parquet", "ffiec_") == "rc")
  }

  private def mergeSchemaRead(glob: String) =
    spark.read.option("mergeSchema", "true").parquet(glob)

  test("unionByName merges a small glob's footers on the driver exactly as " +
    "mergeSchema does") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scan_merge").toFile
    dir.deleteOnExit()
    // non-nullable and nullable columns, a reordered and a dropped one,
    // a nested struct, and a table written as two files
    Seq((1, 10.0, "a")).toDF("IDRSSD", "RCFD0010", "TEXT")
      .write.parquet(s"$dir/rc_20240331.parquet")
    Seq(("x", 2, Option(20.0))).toDF("RCON8678", "IDRSSD", "RCFD0020")
      .withColumn("nested", struct(col("IDRSSD").as("id"), lit("n").as("tag")))
      .write.parquet(s"$dir/rc_20240630.parquet")
    Seq((3, 30.0, "z"), (4, 40.0, "w")).toDF("IDRSSD", "RCFD0010", "RCON8678")
      .repartition(2).write.parquet(s"$dir/rc_20240930.parquet")
    val glob = s"$dir/rc_*.parquet"
    val merged = Scan.footerSchema(spark, glob)
    assert(merged.isDefined, "a small glob must take the driver-side merge")
    assert(merged.get._2.map(new org.apache.hadoop.fs.Path(_).getName).sorted ==
      Seq("rc_20240331.parquet", "rc_20240630.parquet", "rc_20240930.parquet"))
    val want = mergeSchemaRead(glob)
    val df = Scan.unionByName(spark, glob)
    assert(df.schema == want.schema, s"${df.schema.treeString}\n${want.schema.treeString}")
    assert(df.schema.fieldNames.toSeq == Seq("IDRSSD", "RCFD0010", "TEXT",
      "RCON8678", "RCFD0020", "nested"))
    assert(df.orderBy("IDRSSD").collect().toSeq ==
      want.orderBy("IDRSSD").collect().toSeq)
  }

  test("unionByName reads a small glob's resolved paths: Spark logs no " +
    "metadata-log lookup of the literal glob; an empty glob still fails") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scan_paths").toFile
    dir.deleteOnExit()
    for (d <- Seq("20240331", "20240630"))
      Seq((1, 10.0)).toDF("IDRSSD", "RCFD0010").write.parquet(s"$dir/rc_$d.parquet")
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("scan-paths", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit = logged.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, null, null)
    ctx.updateLoggers()
    val missing = try {
      assert(Scan.unionByName(spark, s"$dir/rc_*.parquet").count() == 2)
      intercept[Exception](Scan.unionByName(spark, s"$dir/none_*.parquet"))
    } finally {
      root.removeAppender("scan-paths")
      ctx.updateLoggers()
      appender.stop()
    }
    assert(missing.getMessage.contains("does not exist"), missing.getMessage)
    val lookups = logged.toArray.toSeq.map(_.toString)
      .filter(m => m.contains("metadata directory") && m.contains("rc_*"))
    assert(lookups.isEmpty, lookups.mkString("\n"))
  }

  test("unionByName raises mergeSchema's error on a column type conflict") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scan_conflict").toFile
    dir.deleteOnExit()
    Seq((1, 10.0)).toDF("IDRSSD", "RCFD0010").write.parquet(s"$dir/rc_20240331.parquet")
    Seq((2, "x")).toDF("IDRSSD", "RCFD0010").write.parquet(s"$dir/rc_20240630.parquet")
    val glob = s"$dir/rc_*.parquet"
    assert(Scan.footerSchema(spark, glob).isEmpty)
    val want = intercept[Exception](mergeSchemaRead(glob))
    val got = intercept[Exception](Scan.unionByName(spark, glob))
    assert(got.getClass == want.getClass && got.getMessage == want.getMessage,
      s"${got.getMessage}\nvs\n${want.getMessage}")
  }

  test("unionByName reads parquet without Spark's row schema through mergeSchema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("scan_plain").toFile
    dir.deleteOnExit()
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int32 IDRSSD; optional binary name (UTF8); }")
    for (d <- Seq("20240331", "20240630")) {
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(
          s"$dir/rc_$d.parquet/part-0.parquet"))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("IDRSSD", d.takeRight(2).toInt).append("name", s"bank $d"))
      finally w.close()
    }
    val glob = s"$dir/rc_*.parquet"
    assert(Scan.footerSchema(spark, glob).isEmpty)
    val df = Scan.unionByName(spark, glob)
    assert(df.schema == mergeSchemaRead(glob).schema)
    assert(df.orderBy("IDRSSD").collect().map(_.toString).toSeq ==
      Seq("[30,bank 20240630]", "[31,bank 20240331]"))
  }

  test("listPqs parses (schedule, date) from written parquet names") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("listpqs").toFile
    dir.deleteOnExit()
    Seq((1, 10.0)).toDF("IDRSSD", "RCFD0010")
      .write.parquet(s"$dir/ffiec_rc_20240331.parquet")
    Seq((1, 11.0)).toDF("IDRSSD", "RCFD0010")
      .write.parquet(s"$dir/ffiec_rc_20240630.parquet")
    Seq((1, "x", 1.0)).toDF("IDRSSD", "item", "value")
      .write.parquet(s"$dir/ffiec_float_20240331.parquet")
    Seq((1, 1.0)).toDF("IDRSSD", "v")
      .write.parquet(s"$dir/notes.parquet") // undated: excluded by default
    val pqs = Scan.listPqs(spark, dir.getAbsolutePath, prefix = "ffiec_")
    assert(pqs.map(f => (f.schedule, f.dateRaw.get)) == Seq(
      ("float", "20240331"), ("rc", "20240331"), ("rc", "20240630")))
    val all = Scan.listPqs(spark, dir.getAbsolutePath, prefix = "ffiec_",
      allFiles = true)
    assert(all.map(_.baseName).contains("notes.parquet"))
    assert(Scan.listPqs(spark, s"$dir/missing").isEmpty)
  }
}

class JsonlSpec extends SparkSpec {

  private def sample = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "plain text", "en", 10L),
      (2L, "escaping \"quotes\" and\ttabs and \\ slashes", "en", 40L),
      (3L, null.asInstanceOf[String], "de", 0L)
    ).toDF("doc_id", "text", "lang", "n_chars")
  }

  test("JSONL round trip preserves values including escapes and nulls") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl_rt").toString
    Jsonl.write(sample, dir)
    val back = Jsonl.readClean(spark, dir, sample.schema)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2)))
      .toSet
    val orig = sample
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2)))
      .toSet
    assert(back == orig)
  }

  test("readStream picks up landed shards exactly once, tolerating garbage") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl_stream").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/shard1.json"),
      "{\"doc_id\": 1, \"text\": \"a\", \"lang\": \"en\", \"n_chars\": 1}\n{broken\n")
    val schema = sample.schema
    val q = Jsonl.readStream(spark, dir, schema)
      .where(org.apache.spark.sql.functions.col("_corrupt_record").isNull)
      .drop("_corrupt_record")
      .writeStream.format("memory").queryName("jsonl_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("jsonl_stream").count() == 1)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/shard2.json"),
        "{\"doc_id\": 2, \"text\": \"b\", \"lang\": \"de\", \"n_chars\": 1}\n")
      q.processAllAvailable()
      val ids = spark.table("jsonl_stream")
        .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
      assert(ids == Seq(1L, 2L)) // shard1 not reprocessed
    } finally q.stop()
  }

  test("malformed lines are tolerated, dropped by readClean, surfaced by corruptLines") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl_bad").toString
    Jsonl.write(sample, dir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/zz-bad.json"),
      "{broken\nnot json\n{\"doc_id\": 9, \"lang\": \"fr\"}\n")
    // the parseable-but-partial line is a valid row (missing fields null)
    val clean = Jsonl.readClean(spark, dir, sample.schema)
    assert(clean.count() == 4)
    assert(clean.where(org.apache.spark.sql.functions.col("doc_id") === 9).count() == 1)
    val bad = Jsonl.corruptLines(spark, dir, sample.schema).collect()
    assert(bad.length == 2)
    assert(bad.forall(_.getString(0).contains("zz-bad.json")))
    assert(bad.map(_.getString(1)).toSet == Set("{broken", "not json"))
  }
}

class WarcSpec extends SparkSpec {

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "hello warc world", "en"),
      (2L, "payload with WARC/1.0 inside and\r\nCRLFs too", "en"),
      (3L, "tres pequeño documento", "es"), // non-ASCII: byte len != char len
      (4L, "", "und")                       // empty payload
    ).toDF("doc_id", "text", "lang")
  }

  private def writeDir(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("warc").toString
    Warc.write(
      df.select(
        concat(lit("http://t.example/"), col("doc_id")).as("uri"),
        col("text").cast("binary").as("payload"),
        map(lit("X-Lang"), col("lang"),
            lit("X-Doc-Id"), col("doc_id").cast("string")).as("hdrs")),
      dir, "uri", "payload", Some("hdrs"))
    dir
  }

  test("WARC round trip is byte-exact, framed by Content-Length") {
    import org.apache.spark.sql.functions._
    val dir = writeDir(docs)
    val back = Warc.read(spark, dir)
      .toDF()
      .select(col("headers")("X-Doc-Id").cast("long").as("doc_id"),
        col("payload").cast("string").as("text"),
        col("headers")("X-Lang").as("lang"),
        col("record_type"), col("target_uri"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3), r.getString(4)))).toMap
    val want = docs.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(back.keySet == want.keySet)
    want.foreach { case (id, (text, lang)) =>
      val (t, l, rt, uri) = back(id)
      assert(t == text, s"doc $id payload mangled: '$t'")
      assert(l == lang && rt == "response" && uri == s"http://t.example/$id")
    }
  }

  test("a malformed file yields its clean prefix and is then skipped") {
    import org.apache.spark.sql.functions._
    val dir = writeDir(docs)
    // whole-file garbage: zero records from it
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/zz-bad.warc"), "not a warc\r\n\r\n")
    // clean record followed by a truncated one: the prefix survives
    val good = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".warc")).minBy(_.getName).toPath.toString))
    val truncated = good ++ "WARC/1.0\r\nContent-Length: 9999\r\n\r\nshort".getBytes("UTF-8")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/zz-trunc.warc"), truncated)
    val byFile = Warc.read(spark, dir).toDF()
      .groupBy("file").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(!byFile.keys.exists(_.contains("zz-bad.warc")))
    val truncCount = byFile.collectFirst {
      case (f, n) if f.contains("zz-trunc.warc") => n }
    assert(truncCount.exists(_ >= 1L), s"prefix records lost: $byFile")
    // and the planted garbage never corrupted the good files' totals
    val total = Warc.read(spark, dir).toDF()
      .where(!col("file").contains("zz-"))
      .count()
    assert(total == 4L, s"total=$total")
  }

  test("readStream parses landed WARC shards exactly once") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("warc_stream").toString
    // land shard 1 = docs 1-2 as one .warc file
    Warc.write(
      docs.where(col("doc_id") <= 2).select(
        concat(lit("http://t.example/"), col("doc_id")).as("uri"),
        col("text").cast("binary").as("payload"),
        map(lit("X-Doc-Id"), col("doc_id").cast("string")).as("hdrs"))
        .coalesce(1),
      s"$dir/batch1", "uri", "payload", Some("hdrs"))
    new java.io.File(s"$dir/batch1").listFiles()
      .filter(_.getName.endsWith(".warc"))
      .foreach(f => java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$dir/${f.getName.replace("part", "a")}")))
    val q = Warc.readStream(spark, s"$dir/*.warc").toDF()
      .select(col("headers")("X-Doc-Id").cast("long").as("doc_id"))
      .writeStream.format("memory").queryName("warc_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("warc_stream").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
      Warc.write(
        docs.where(col("doc_id") === 3L).select(
          concat(lit("http://t.example/"), col("doc_id")).as("uri"),
          col("text").cast("binary").as("payload"),
          map(lit("X-Doc-Id"), col("doc_id").cast("string")).as("hdrs"))
          .coalesce(1),
        s"$dir/batch2", "uri", "payload", Some("hdrs"))
      new java.io.File(s"$dir/batch2").listFiles()
        .filter(_.getName.endsWith(".warc"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/${f.getName.replace("part", "b")}")))
      q.processAllAvailable()
      // shard 1 not reprocessed, shard 2 picked up
      assert(spark.table("warc_stream").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("gzipped WARC files inflate, including concatenated members") {
    import org.apache.spark.sql.functions._
    val dir = writeDir(docs)
    // every plain part becomes ONE gzip member of a single .warc.gz —
    // the Common Crawl layout (concatenated members, one per record
    // group), plus one extra hand-built record as a final member
    def gz(b: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.close(); bo.toByteArray
    }
    val members = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc")).sortBy(_.getName)
      .map(f => gz(java.nio.file.Files.readAllBytes(f.toPath)))
    val extra = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:md5:ff>\r\nWARC-Date: d\r\n" +
      "WARC-Target-URI: http://t.example/99\r\n" +
      "X-Doc-Id: 99\r\nContent-Length: 5\r\n\r\nhello\r\n\r\n")
      .getBytes("UTF-8")
    val gzDir = java.nio.file.Files.createTempDirectory("warc_gz").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$gzDir/all.warc.gz"),
      members.foldLeft(Array.emptyByteArray)(_ ++ _) ++ gz(extra))
    val got = Warc.read(spark, gzDir).toDF()
      .select(col("headers")("X-Doc-Id").cast("long").as("doc_id"),
        col("payload").cast("string").as("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 99L), got.keySet.toString)
    assert(got(99L) == "hello")
    assert(got(2L).contains("WARC/1.0 inside")) // payloads still byte-exact
    // a corrupt gz shard vanishes rather than failing the job
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$gzDir/bad.warc.gz"),
      Array[Byte](0x1f, 0x0b, 1, 2, 3))
    assert(Warc.read(spark, gzDir).toDF().count() == 5L)
  }
}
