package graft.operators

import java.sql.{Date, Timestamp}

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec {

  test("asOf picks the latest right row at or before the left time") {
    val s = spark
    import s.implicits._
    val trades = Seq(
      (1L, "AAPL", Timestamp.valueOf("2024-01-01 10:00:05")),
      (2L, "AAPL", Timestamp.valueOf("2024-01-01 10:00:00")),
      (3L, "MSFT", Timestamp.valueOf("2024-01-01 09:00:00"))
    ).toDF("trade_id", "sym", "t")
    val quotes = Seq(
      ("AAPL", Timestamp.valueOf("2024-01-01 09:59:59"), 1L, 100.0),
      ("AAPL", Timestamp.valueOf("2024-01-01 10:00:03"), 2L, 101.0),
      ("AAPL", Timestamp.valueOf("2024-01-01 10:00:07"), 3L, 102.0),
      ("MSFT", Timestamp.valueOf("2024-01-01 10:00:00"), 4L, 50.0)
    ).toDF("qsym", "qt", "qid", "px")
    val out = AsOfJoin.asOf(trades, "sym", "t", "trade_id",
      quotes, "qsym", "qt", "qid")
      .orderBy("trade_id").collect()
    assert(out(0).getAs[Double]("px") == 101.0) // 10:00:05 → quote@10:00:03
    assert(out(1).getAs[Double]("px") == 100.0) // 10:00:00 → quote@09:59:59
    assert(out(2).isNullAt(out(2).fieldIndex("px"))) // MSFT: no prior quote
  }

  test("asOf binds the dedup window to the RIGHT side when both sides share 'ts'") {
    // regression for the advisor finding: an unqualified col(rightTime)
    // in the window spec was ambiguous (or bound left) when both sides
    // carry the same column name — the common as-of case
    val s = spark
    import s.implicits._
    val events = Seq(
      (1L, 100L, Timestamp.valueOf("2024-01-01 10:00:10"))
    ).toDF("event_id", "key", "ts")
    val snapshots = Seq(
      (100L, Timestamp.valueOf("2024-01-01 10:00:01"), 10L, "older"),
      (100L, Timestamp.valueOf("2024-01-01 10:00:05"), 11L, "newest"),
      (100L, Timestamp.valueOf("2024-01-01 10:00:55"), 12L, "future")
    ).toDF("skey", "ts", "sid", "tag")
    val out = AsOfJoin.asOf(events, "key", "ts", "event_id",
      snapshots, "skey", "ts", "sid").collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("tag") == "newest")
  }

  test("asOf is linear: deep per-key history builds no join, one exchange") {
    // the scale gate: 10k right rows on ONE key must not fan out into a
    // per-key product — the merge plan contains no Join node at all and
    // exactly one exchange (the window partitioning)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val s = spark
    import s.implicits._
    val right = s.range(10000).select(
      lit(1L).as("k"), col("id").as("rt"), col("id").as("rid"),
      (col("id") * 2).as("payload"))
    val left = Seq(
      (100L, 1L, 5000L),   // deep history: latest rt <= 5000 is 5000
      (101L, 1L, 99999L),  // past the end: latest is 9999
      (102L, 1L, -5L),     // before history: no match
      (103L, 2L, 5000L)    // key with no history: no match
    ).toDF("event_id", "k", "t")
    val out = AsOfJoin.asOf(left, "k", "t", "event_id",
      right, "k", "rt", "rid")
    val plan = out.queryExecution.executedPlan
    assert(!plan.toString.contains("Join"), s"asOf must not join:\n$plan")
    val exchanges = plan.collect { case e: Exchange => e }.size +
      plan.collect { case a: AdaptiveSparkPlanExec => a }.flatMap(
        _.inputPlan.collect { case e: Exchange => e }).size
    assert(exchanges <= 1, s"asOf merge should shuffle once, saw $exchanges")
    val rows = out.orderBy("event_id").collect()
    assert(rows.length == 4)
    assert(rows(0).getAs[Long]("payload") == 10000L)
    assert(rows(1).getAs[Long]("payload") == 19998L)
    assert(rows(2).isNullAt(rows(2).fieldIndex("payload")))
    assert(rows(3).isNullAt(rows(3).fieldIndex("payload")))
  }

  test("asOf tiebreak: equal right times resolve to the smallest tiebreak") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, "A", 10L)).toDF("event_id", "k", "t")
    val right = Seq(
      ("A", 10L, 7L, "seven"),
      ("A", 10L, 3L, "three"),
      ("A", 10L, 5L, "five")
    ).toDF("rk", "rt", "rid", "tag")
    val out = AsOfJoin.asOf(left, "k", "t", "event_id",
      right, "rk", "rt", "rid").collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("tag") == "three")
  }

  test("asOf drops null-key and null-time right rows instead of matching them") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, Some(9L), Some(10L)),
      (2L, None: Option[Long], Some(10L)),  // null left key: no match
      (3L, Some(9L), None: Option[Long])    // null left time: no match
    ).toDF("event_id", "k", "t")
    val right = Seq(
      (Some(9L), Some(5L), 1L, "real"),
      (None: Option[Long], Some(1L), 2L, "nullkey"),
      (Some(9L), None: Option[Long], 3L, "nulltime")
    ).toDF("rk", "rt", "rid", "tag")
    val out = AsOfJoin.asOf(left, "k", "t", "event_id",
      right, "rk", "rt", "rid").orderBy("event_id").collect()
    assert(out(0).getAs[String]("tag") == "real")
    assert(out(1).isNullAt(out(1).fieldIndex("tag")))
    assert(out(2).isNullAt(out(2).fieldIndex("tag")))
  }

  test("asOfBucketed matches asOf on hot-key data and splits the key across epochs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(61)
    // 90% of rows on ONE hot key, cross-epoch matches guaranteed (many
    // left times fall in epochs whose right history is in a prior
    // bucket), plus ties and a null left time
    def key(i: Int): Long = if (rnd.nextDouble() < 0.9) 7L else (i % 3).toLong
    val left = (1 to 4000).map { i =>
      (i.toLong, key(i),
        if (i == 17) null
        else new Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L))
    }.toDF("event_id", "key", "ts")
    val right = (1 to 800).map { i =>
      (key(i), new Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L),
        i.toLong, s"payload_$i")
    }.toDF("rkey", "rts", "rid", "tag")
    val base = AsOfJoin.asOf(left, "key", "ts", "event_id",
      right, "rkey", "rts", "rid")
      .orderBy("event_id").collect().map(_.toSeq)
    val bucketed = AsOfJoin.asOfBucketed(left, "key", "ts", "event_id",
      right, "rkey", "rts", "rid", epochs = 8)
      .orderBy("event_id").collect().map(_.toSeq)
    assert(base.length == bucketed.length)
    assert(base.toSeq == bucketed.toSeq,
      "bucketed merge diverged from the linear merge")
    // the phase-1 window partitions by (key, epoch) — the hot key runs
    // on `epochs` tasks instead of one
    val plan = AsOfJoin.asOfBucketed(left, "key", "ts", "event_id",
      right, "rkey", "rts", "rid", epochs = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__graft_asof_e"),
      s"epoch column missing from the plan:\n$plan")
    assert(plan.contains("hashpartitioning(__graft_asof_k"),
      s"expected (key, epoch) window partitioning:\n$plan")
  }

  test("rangeJoin matches effective-dated metadata, open-ended NULL end") {
    val s = spark
    import s.implicits._
    val facts = Seq(
      (1L, "RCFD0010", Date.valueOf("2020-06-30")),
      (2L, "RCFD0010", Date.valueOf("2024-03-31")),
      (3L, "RCFD9999", Date.valueOf("2024-03-31"))
    ).toDF("fact_id", "item", "date")
    val defs = Seq(
      ("RCFD0010", Date.valueOf("2001-01-01"), Some(Date.valueOf("2021-01-01")), "old defn"),
      ("RCFD0010", Date.valueOf("2021-01-01"), None, "new defn")
    ).toDF("ditem", "start_date", "end_date", "description")
    val out = AsOfJoin.rangeJoin(facts, "item", "date",
      defs, "ditem", "start_date", "end_date")
      .orderBy("fact_id").collect()
    assert(out(0).getAs[String]("description") == "old defn")
    assert(out(1).getAs[String]("description") == "new defn")
    assert(out(2).isNullAt(out(2).fieldIndex("description")))
  }

  test("scd2 collapses unchanged runs, keeps A→B→A distinct, closes with lead") {
    val s = spark
    import s.implicits._
    val snaps = Seq(
      // key 1: A A B A — four observations, three versions
      (1L, Date.valueOf("2024-01-01"), Some("A")),
      (1L, Date.valueOf("2024-02-01"), Some("A")),
      (1L, Date.valueOf("2024-03-01"), Some("B")),
      (1L, Date.valueOf("2024-04-01"), Some("A")),
      // key 2: null attr runs merge null-safely (null, null, C)
      (2L, Date.valueOf("2024-01-01"), None),
      (2L, Date.valueOf("2024-02-01"), None),
      (2L, Date.valueOf("2024-03-01"), Some("C"))
    ).toDF("k", "d", "attr")
    val out = AsOfJoin.scd2(snaps, Seq("k"), "d", Seq("attr"))
      .orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getAs[String]("attr"),
        r.getAs[Date]("valid_from").toString,
        Option(r.getAs[Date]("valid_to")).map(_.toString).orNull))
    assert(out.toSeq == Seq(
      (1L, "A", "2024-01-01", "2024-03-01"),
      (1L, "B", "2024-03-01", "2024-04-01"),
      (1L, "A", "2024-04-01", null),
      (2L, null, "2024-01-01", "2024-03-01"),
      (2L, "C", "2024-03-01", null)), out.mkString("\n"))
    // round-trip: the built history feeds rangeJoin back to the
    // original observation → every snapshot resolves to its own version
    val hist = AsOfJoin.scd2(snaps, Seq("k"), "d", Seq("attr"))
      .withColumnRenamed("attr", "vattr").withColumnRenamed("k", "vk")
    val resolved = AsOfJoin.rangeJoin(snaps, "k", "d",
      hist, "vk", "valid_from", "valid_to")
      .select(col("k"), col("d"), col("attr"), col("vattr")).collect()
    assert(resolved.length == snaps.count())
    resolved.foreach(r => assert(r.getAs[String]("attr") == r.getAs[String]("vattr"),
      s"range-join round-trip mismatch: $r"))
  }
}

class ExtensionsSpec extends SparkSpec {
  test("SQL functions registered on a live session run the native kernels") {
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |       word_shingles('a b c d', 3) AS sh,
        |       minhash_sig(word_shingles('a b c d', 3), 8) AS sig,
        |       simhash64(array('a', 'b')) AS sh64,
        |       md5_minhash_sig(word_shingles('a b c d', 3), 4) AS msig,
        |       md5_simhash(array('a', 'b')) AS msh,
        |       nfc_normalize('café') AS nfc,
        |       strip_html('<p>a &amp; b</p>') AS sh_txt,
        |       fix_mojibake('itâ€™s') AS fm,
        |       mojibake_count('itâ€™s naÃ¯ve') AS mc
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
    assert(r.getSeq[Long](2).size == 8)
    assert(r.getSeq[Long](4).size == 4 && r.getSeq[Long](4).forall(_ >= 0L))
    assert(r.getString(5).length == 16)
    assert(r.getString(6) == "café") // combining acute composed
    assert(r.getString(7) == "a & b")
    assert(r.getString(8) == "it’s")
    assert(r.getLong(9) == 2L)
    // round-8 kernels on the SQL surface
    val r2 = spark.sql(
      """SELECT sorted_intersect_count(array('a','b','c'), array('b','c','d')) AS ic,
        |       levenshtein_within('kitten', 'sitting', 3) AS lv,
        |       levenshtein_within('kitten', 'karton', 1) AS lv2
        |""".stripMargin).collect()(0)
    assert(r2.getLong(0) == 2L)
    assert(r2.getInt(1) == 3)
    assert(r2.getInt(2) == -1) // over threshold → -1, banded early-exit
    val r3 = spark.sql(
      """SELECT k, sort_array(capped_collect_list(v, 2)) AS xs
        |FROM VALUES ('a', 1), ('a', 2), ('b', 1), ('b', 2), ('b', 3) t(k, v)
        |GROUP BY k ORDER BY k""".stripMargin).collect()
    assert(r3(0).getSeq[Int](1) == Seq(1, 2))
    assert(r3(1).isNullAt(1)) // over cap → NULL
  }

  test("SQL composition functions equal their Column-API forms (drift guard)") {
    val s = spark
    import s.implicits._
    val tricky = Seq(
      "<p>Tom &amp; Jerry &amp;lt; say \"hi\"</p><script>a<b && c>d</script>",
      "itâ€™s â€” a naÃ¯ve cafÃ© Â« test Â»",
      "plain text, no markup")
    val df = tricky.toDF("t")
    df.createOrReplaceTempView("drift_t")
    val viaSql = spark.sql(
      """SELECT strip_html(t) AS a, fix_mojibake(t) AS b, mojibake_count(t) AS c
        |FROM drift_t""".stripMargin).collect()
    val viaCol = df.select(
      TextAnalytics.stripHtml(col("t")).as("a"),
      TextAnalytics.fixMojibake(col("t")).as("b"),
      TextAnalytics.mojibakeCount(col("t")).as("c")).collect()
    assert(viaSql.map(_.toString).toList == viaCol.map(_.toString).toList)
  }
}
