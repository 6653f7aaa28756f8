package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The optimizer-rule layer: LevenshteinThresholdRule must rewrite
  * unbounded edit-distance filters to the banded threshold kernel
  * with a length pre-filter, without changing a single row. */
class RulesSpec extends SparkSpec {

  private def levRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("<= filter rewrites to the threshold kernel + length guard") {
    // non-foldable source — a literal row would constant-fold the
    // whole filter away before the plan can be inspected
    val df = spark.range(4)
      .selectExpr("CAST(id AS STRING) AS a", "repeat('x', 2) AS b")
      .where(expr("levenshtein(a, b) <= 2"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("levenshtein_within("), opt)
    assert(!opt.toLowerCase.contains("levenshtein(a"), opt) // no full DP
    assert(opt.contains("abs((length"), opt)
  }

  test("rewrite preserves every row on random strings, <= and <") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val words = Vector("cat", "cart", "card", "art", "a", "", "scatter",
      "catter", "kitten", "sitting", "mitten")
    val rows = (1 to 300).map { _ =>
      (words(rnd.nextInt(words.size)), words(rnd.nextInt(words.size)))
    }
    val df = rows.toDF("a", "b")
    for ((pred, check) <- Seq(
      "levenshtein(a, b) <= 2" ->
        ((a: String, b: String) => levRef(a, b) <= 2),
      "levenshtein(a, b) < 2" ->
        ((a: String, b: String) => levRef(a, b) < 2),
      "2 >= levenshtein(a, b)" ->
        ((a: String, b: String) => levRef(a, b) <= 2))) {
      val got = df.where(expr(pred)).as[(String, String)].collect.toSeq
      val want = rows.filter(t => check(t._1, t._2))
      assert(got == want, pred)
    }
  }

  test("NULL inputs filter identically under the rewrite") {
    val s = spark
    import s.implicits._
    val df = Seq(("x", Option("x")), ("y", None))
      .toDF("a", "b")
      .where(expr("levenshtein(a, b) <= 1"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("x"))
  }

  test("SortedIntersectRule: size(array_intersect(sort,sort)) rewrites " +
    "to the merge kernel with identical results, duplicates included") {
    val s = spark
    import s.implicits._
    // non-foldable on BOTH sides: extraOptimizations run after
    // ConstantFolding, so a literal side would already be a folded
    // array and (correctly) not match the sort_array guard
    val df = spark.range(4).selectExpr(
        "array('b', 'a', 'c', 'a', CAST(id AS STRING)) AS a", // dups
        "array('c', 'a', 'x', CAST(id % 2 AS STRING)) AS b")
      .select(expr("size(array_intersect(sort_array(a), sort_array(b))) AS k"),
        expr("size(array_intersect(a, b)) AS ref"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("sorted_intersect_count"), opt)
    // the unsorted form must NOT rewrite
    assert(opt.contains("array_intersect"), opt)
    df.collect().foreach(r => assert(r.getInt(0) == r.getInt(1), r))
    // null ELEMENTS: a shared null run counts once, like
    // array_intersect (sort_array asc puts nulls first)
    val withNulls = spark.range(2).selectExpr(
        "array(CAST(NULL AS STRING), 'a', CAST(NULL AS STRING), CAST(id AS STRING)) AS a",
        "array(CAST(NULL AS STRING), 'z', CAST(id AS STRING)) AS b")
      .select(expr("size(array_intersect(sort_array(a), sort_array(b))) AS k"),
        expr("size(array_intersect(a, b)) AS ref"))
    assert(withNulls.queryExecution.optimizedPlan.toString
      .contains("sorted_intersect_count"))
    withNulls.collect().foreach(r => assert(r.getInt(0) == r.getInt(1), r))
    // nulls-LAST ordering (what array_sort produces — the ppjoin
    // verify feeds the kernel this shape directly): the merge must
    // skip mid/trailing null slots, not NPE on them (round-8 fix)
    val nullsLast = spark.range(2).selectExpr(
        "array_sort(array(CAST(NULL AS STRING), 'a', 'b', CAST(id AS STRING))) AS a",
        "array_sort(array('b', CAST(NULL AS STRING), CAST(id AS STRING))) AS b")
      .select(
        graft.plans.native.sortedIntersectCount(col("a"), col("b")).as("k"),
        expr("size(array_intersect(a, b)) AS ref"))
    nullsLast.collect().foreach(r => assert(r.getLong(0) == r.getInt(1), r))
  }

  test("LevenshteinKernel: trim+band equals the builtin on random " +
    "strings including multibyte") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(17)
    val alphabet = "abγ日本€x" // 1-, 2-, 3-byte code points
    def word(): String =
      (0 until rnd.nextInt(12)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    for (_ <- 1 to 3000; k <- Seq(0, 1, 2, 5)) {
      val (a, b) = (word(), word())
      // shared affixes exercise the trim paths
      val (pa, pb) = if (rnd.nextBoolean()) ("共通pre" + a, "共通pre" + b)
        else (a + "suf尾", b + "suf尾")
      val ua = UTF8String.fromString(pa); val ub = UTF8String.fromString(pb)
      val got = LevenshteinKernel.dist(ua, ub, k)
      val want = ua.levenshteinDistance(ub, k)
      assert(got == want, s"a='$pa' b='$pb' k=$k got=$got want=$want")
    }
    // identical strings, empty strings, full containment
    val cases = Seq(("", ""), ("abc", "abc"), ("", "abc"), ("日本語", "日本"),
      ("日本語", "日本語です"))
    for ((x, y) <- cases; k <- 0 to 4) {
      val ux = UTF8String.fromString(x); val uy = UTF8String.fromString(y)
      assert(LevenshteinKernel.dist(ux, uy, k) ==
        ux.levenshteinDistance(uy, k), s"'$x' '$y' k=$k")
    }
  }

  test("SortedIntersectRule: descending sort and non-string arrays " +
    "keep the original form") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq("a", "b"), Seq("b"), Seq(1, 2), Seq(2)))
      .toDF("a", "b", "x", "y")
      .select(
        expr("size(array_intersect(sort_array(a, false), sort_array(b, false)))"),
        expr("size(array_intersect(sort_array(x), sort_array(y)))"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("sorted_intersect_count"), opt)
  }

  test("capped_collect_list: exact at or under cap, NULL over cap, " +
    "truncation survives partial merges") {
    val s = spark
    import s.implicits._
    // key "hot" has 40 members spread over 8 partitions (every partial
    // buffer small, only the MERGED size exceeds the cap); "warm" has
    // exactly cap members; "cold" fewer
    val rows = (1 to 40).map(i => ("hot", i)) ++
      (1 to 10).map(i => ("warm", i)) ++ Seq(("cold", 1), ("cold", 2))
    val df = rows.toDF("k", "v").repartition(8)
    val got = df.groupBy("k")
      .agg(sort_array(graft.plans.native.cappedCollectList(col("v"), 10))
        .as("xs"))
      .collect().map(r => r.getString(0) ->
        Option(r.get(1)).map(_.asInstanceOf[scala.collection.Seq[Int]].toSeq))
      .toMap
    assert(got("hot").isEmpty, s"hot must overflow to NULL: $got")
    assert(got("warm").contains((1 to 10).toSeq))
    assert(got("cold").contains(Seq(1, 2)))
    // nulls in the input are skipped (collect_list semantics)
    val withNulls = Seq(("a", Some(1)), ("a", None), ("a", Some(2)))
      .toDF("k", "v")
      .groupBy("k")
      .agg(sort_array(graft.plans.native.cappedCollectList(col("v"), 5))
        .as("xs")).collect()
    assert(withNulls.head.get(1)
      .asInstanceOf[scala.collection.Seq[Int]].toSeq == Seq(1, 2))
  }

  test("column-valued bounds keep the unbounded form (no rewrite)") {
    val s = spark
    import s.implicits._
    val df = Seq(("cat", "cart", 1)).toDF("a", "b", "k")
      .where(expr("levenshtein(a, b) <= k"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("levenshtein(a, b, "), opt)
    assert(df.count() == 1)
  }

  test("jaro_winkler >= tau grows a length prefilter; low thresholds " +
    "and the guarded marker stay untouched") {
    val df = spark.range(4)
      .selectExpr("CAST(id AS STRING) AS a", "repeat('x', 2) AS b")
      .where(expr("jaro_winkler(a, b) >= 0.95"))
    val opt = df.queryExecution.optimizedPlan.toString
    // the prefilter: least(len) >= 0.75 * greatest(len)
    assert(opt.contains("least(length"), opt)
    assert(opt.contains("greatest(length"), opt)
    assert(opt.contains("0.75"), opt)
    // exactly ONE jw node survives and it is the guarded one —
    // the fixed-point batch must not stack prefilters
    assert("jaro_winkler".r.findAllIn(opt).size == 1, opt)
    // τ ≤ 0.8 is vacuous — no rewrite
    val low = spark.range(4)
      .selectExpr("CAST(id AS STRING) AS a", "repeat('x', 2) AS b")
      .where(expr("jaro_winkler(a, b) >= 0.5"))
    val lowOpt = low.queryExecution.optimizedPlan.toString
    assert(!lowOpt.contains("least(length"), lowOpt)
  }

  test("jaro_winkler: code-point unit — kernel and length guard agree " +
    "on supplementary-plane text (round-10 fix)") {
    val s = spark
    import s.implicits._
    val clef = "𝄞" // 𝄞 U+1D11E, 2 UTF-16 units, 1 code point
    // The round-9 advice counterexample: under a UTF-16 kernel this
    // pair scores 0.914 ≥ 0.9 while the code-point guard tests
    // 2 ≥ 2.5 and silently drops it. Under the code-point kernel it
    // scores 0.84 — guard and kernel now agree it is below τ.
    val jw = Seq((clef * 2, clef * 2 + "xxx")).toDF("a", "b")
      .select(round(graft.plans.native.jaroWinkler($"a", $"b"), 6))
      .head().getDouble(0)
    assert(jw == 0.84, s"code-point jw = $jw")
    // full agreement sweep: filtered rows == projection-then-filter
    // reference on an astral-heavy corpus, at guarded thresholds
    val words = Vector(clef * 2, clef * 2 + "xxx", clef * 5,
      clef * 4 + "x", clef + "abc", "abc" + clef, clef * 3,
      "MARTHA", "MARHTA" + clef)
    val rows = for (a <- words; b <- words) yield (a, b)
    val df = rows.toDF("a", "b")
    for (tau <- Seq(0.85, 0.9, 0.95)) {
      val got = df.where(expr(s"jaro_winkler(a, b) >= $tau")).count()
      val ref = df.selectExpr("jaro_winkler(a, b) AS jw")
        .collect().count(_.getDouble(0) >= tau)
      assert(got == ref, s"tau=$tau: $got vs $ref")
    }
  }

  test("jaro_winkler prefilter preserves every row across thresholds " +
    "and operand orders") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val words = Vector("MARTHA", "MARHTA", "DIXON", "DICKSONX",
      "JELLYFISH", "SMELLYFISH", "DWAYNE", "DUANE", "a", "",
      "Customer#000000001", "Customer#000000010", "Customer#000001001")
    val rows = (1 to 300).map { _ =>
      (words(rnd.nextInt(words.size)), words(rnd.nextInt(words.size)))
    }
    val df = rows.toDF("a", "b")
    for (pred <- Seq("jaro_winkler(a, b) >= 0.9",
      "jaro_winkler(a, b) > 0.93", "0.9 <= jaro_winkler(a, b)",
      "jaro_winkler(a, b) >= 0.95")) {
      val got = df.where(expr(pred)).count()
      // reference: same predicate evaluated WITHOUT the filter
      // rewrite path (projection, then a driver-side filter)
      val ref = df.selectExpr("a", "b", "jaro_winkler(a, b) AS jw")
        .collect().count { r =>
          val jw = r.getDouble(2)
          if (pred.contains(">=") && pred.startsWith("0.9")) jw >= 0.9
          else if (pred.contains("> 0.93")) jw > 0.93
          else if (pred.contains("0.95")) jw >= 0.95
          else jw >= 0.9
        }
      assert(got == ref, s"$pred: $got vs $ref")
    }
  }
}
