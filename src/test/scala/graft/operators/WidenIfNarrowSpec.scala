package graft.operators

import graft.SparkSpec
import graft.plans.Width
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The byte-sized stage widths of [[graft.plans.Width]].
  *
  * widenIfNarrow, and the write-side file sizing it forced in
  * MinhashStore.writeBatch: the heavy narrow stages (shingling, k-hash
  * signatures) must widen when a compact scan is narrower than the
  * byte-floored width, must NOT touch sub-MiB frames (dispatch floor)
  * or already-wide scans (production posture), and the store writes
  * must stay at bounded file counts regardless of the compute width.
  *
  * narrowIfSmall, through the aggregations that call it: below one MiB
  * of estimated input they plan no exchange, above it they keep the
  * exchanges of the plain Spark plan, and both sides compute the values
  * of that plain plan. */
class WidenIfNarrowSpec extends SparkSpec {

  private def hexRow(i: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 4).map { j =>
      md.digest(s"$i:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }.mkString(" ")
  }

  /** One-file parquet of n entropy-rich text rows, read back as a scan. */
  private def scanOfBytes(n: Int) = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_widen").toString
    (1 to n).map(i => (i.toLong, hexRow(i))).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("widenIfNarrow leaves sub-MiB frames untouched (dispatch floor)") {
    val df = scanOfBytes(500) // ~66 KB on disk
    val out = Width.widenIfNarrow(df)
    assert(out.rdd.getNumPartitions === df.rdd.getNumPartitions)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("widenIfNarrow widens a narrow multi-MiB scan to bytes/MiB, values unchanged") {
    val df = scanOfBytes(25000) // ~3.3 MB on disk, one split
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(bytes > (2L << 20), s"test corpus too small: $bytes bytes")
    val expected = (bytes / (1L << 20))
      .min(BigInt(spark.sparkContext.defaultParallelism)).toInt
    assert(df.rdd.getNumPartitions < expected, "scan must start narrow")
    val out = Width.widenIfNarrow(df)
    assert(out.rdd.getNumPartitions === expected)
    // value identity: same (doc_id, text) multiset
    assert(out.orderBy("doc_id").collect().toSeq ===
      df.orderBy("doc_id").collect().toSeq)
  }

  test("widenIfNarrow passes an already-wide frame through (production posture)") {
    val df = scanOfBytes(25000)
      .repartition(spark.sparkContext.defaultParallelism)
    assert(Width.widenIfNarrow(df) eq df)
  }

  test("writeBatch file counts stay bounded under a widened compute stage") {
    val df = scanOfBytes(25000) // wide enough that widenIfNarrow fires
    val tmp = java.nio.file.Files.createTempDirectory("graft_widen_store").toString
    MinhashStore.write(df, "doc_id", "text", tmp,
      shingleN = 3, bands = 4, rowsPerBand = 2, portableHash = true)
    def dataFiles(p: java.io.File): Seq[java.io.File] =
      Option(p.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(f => if (f.isDirectory) dataFiles(f) else Seq(f))
        .filter(_.getName.endsWith(".parquet"))
    // bands: repartition(band) → exactly one file per band per batch
    val bandDirs = new java.io.File(s"$tmp/bands").listFiles()
      .filter(_.getName.startsWith("band="))
    assert(bandDirs.length === 4)
    bandDirs.foreach(d => assert(dataFiles(d).size === 1,
      s"${d.getName}: expected 1 data file, got ${dataFiles(d).size}"))
    // sigs: AQE-rebalanced → coalesced to one file for a tiny batch
    assert(dataFiles(new java.io.File(s"$tmp/sigs")).size === 1)
    // and the widened signature path produced the same signatures as
    // the direct (unwidened) computation
    val stored = spark.read.parquet(s"$tmp/sigs")
    val direct = Dedup.minhashSigned(
      df.repartition(spark.sparkContext.defaultParallelism),
      "doc_id", "text", 3, 8, portableHash = true)
    assert(stored.orderBy("id").collect().toSeq ===
      direct.orderBy("id").collect().toSeq)
    direct.unpersist(false)
  }

  /** Exchange operators in `df`'s physical plan, before execution. */
  private def exchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size

  /** Under the floor `op` plans no exchange; above it, the exchanges of
    * `plain` (the same aggregation without narrowing, at least one).
    * Both sides return `plain`'s rows. */
  private def narrowsOnlyBelowFloor(op: DataFrame => DataFrame,
                                    plain: DataFrame => DataFrame): Unit =
    for ((rows, small) <- Seq(500 -> true, 25000 -> false)) {
      val df = scanOfBytes(rows)
      assert(Width.isSmall(df) == small, s"$rows rows")
      val (got, want) = (op(df), plain(df))
      if (small) assert(exchanges(got) == 0, got.queryExecution.executedPlan)
      else assert(exchanges(got) == exchanges(want) && exchanges(want) > 0,
        got.queryExecution.executedPlan)
      assert(got.collect().map(_.toString).sorted.toSeq ===
        want.collect().map(_.toString).sorted.toSeq, s"$rows rows")
    }

  private val hexDigits = "0123456789abcdef".map(_.toString)

  /** (k, item, value) long rows: 97 keys, 16 items, repeated pairs. */
  private def longOf(df: DataFrame): DataFrame =
    df.select((col("doc_id") % 97).as("k"), substring(col("text"), 1, 1).as("item"),
      col("doc_id").as("value"))

  test("narrowIfSmall: LongPivot.wide plans no exchange below one MiB") {
    narrowsOnlyBelowFloor(
      df => LongPivot.wide(longOf(df), Seq("k"), "item", "value", hexDigits, "sum"),
      df => longOf(df).groupBy("k").pivot("item", hexDigits).agg(sum("value")))
  }

  test("narrowIfSmall: LongPivot.itemSchedules plans no exchange below one MiB") {
    def pairs(df: DataFrame) = df.select(substring(col("text"), 3, 1).as("schedule"),
      substring(col("text"), 1, 2).as("item"))
    narrowsOnlyBelowFloor(
      df => LongPivot.itemSchedules(pairs(df)),
      df => pairs(df).groupBy("item")
        .agg(sort_array(collect_set(col("schedule"))).as("schedules")))
  }

  test("narrowIfSmall: KeyChecks.pkViolations and checkPkAndNonNull plan no " +
    "exchange below one MiB") {
    narrowsOnlyBelowFloor(
      df => KeyChecks.pkViolations(longOf(df), Seq("k", "item")),
      df => longOf(df).groupBy("k", "item").agg(count(lit(1)).as("n"))
        .where(col("n") > 1))
    for (rows <- Seq(500, 25000)) {
      val df = scanOfBytes(rows)
      var checks = (false, false)
      val shuffleJobs = shuffleReadingJobs {
        checks = (KeyChecks.checkPkAndNonNull(df, Seq("doc_id")),
          KeyChecks.checkPkAndNonNull(longOf(df), Seq("k", "item")))
      }
      assert(checks == (true, false), s"$rows rows")
      if (rows == 500) assert(shuffleJobs == 0)
      else assert(shuffleJobs > 0)
    }
  }

  /** Jobs `body` launches that read a shuffle: such a job lists the map
    * stage it depends on beside its own. A fence job marks when every
    * earlier event was delivered. */
  private def shuffleReadingJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"width-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => if (e.stageInfos.size > 1) jobs.incrementAndGet()
          case Some(g) if g == s"$group-fence" => fence.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
