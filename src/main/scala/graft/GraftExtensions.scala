package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.plans.{CosineSim, JaroWinklerSim, Md5MinHashSig, Md5SimHash, MinHashSig, NfcNormalize, SimHash64, WordShingles}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions, so `spark.sql` users get the same
  * codegen kernels as the DataFrame API:
  *
  *   SELECT cosine_sim(a.embedding, b.embedding) FROM ...
  *   SELECT minhash_sig(word_shingles(text, 3), 64) FROM docs
  *
  * Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or via
  * [[GraftSession]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinThresholdRule)
    ext.injectOptimizerRule(_ => graft.plans.SortedIntersectRule)
    ext.injectOptimizerRule(_ => graft.plans.JaroWinklerThresholdRule)
  }
}

object GraftExtensions {
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _)  => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a long literal, got $other")
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "cosine_sim(a, b)")
        CosineSim(args(0), args(1))
      }),
    (FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerSim].getName, "jaro_winkler"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "jaro_winkler(a, b)")
        JaroWinklerSim(args(0), args(1))
      }),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "word_shingles(text, n)")
        WordShingles(args(0), intArg(args(1), "n"))
      }),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.size == 2 || args.size == 3, "minhash_sig(shingles, k[, seed])")
        val seed = if (args.size == 3) longArg(args(2), "seed") else 42L
        MinHashSig(args(0), intArg(args(1), "k"), seed)
      }),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "simhash64(tokens)")
        SimHash64(args(0))
      }),
    (FunctionIdentifier("md5_minhash_sig"),
      new ExpressionInfo(classOf[Md5MinHashSig].getName, "md5_minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "md5_minhash_sig(shingles, k)")
        Md5MinHashSig(args(0), intArg(args(1), "k"))
      }),
    (FunctionIdentifier("md5_simhash"),
      new ExpressionInfo(classOf[Md5SimHash].getName, "md5_simhash"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "md5_simhash(tokens)")
        Md5SimHash(args(0))
      }),
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "nfc_normalize(text)")
        NfcNormalize(args(0))
      }),
    (FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(
        classOf[graft.plans.SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "sorted_intersect_count(a, b)")
        graft.plans.SortedIntersectCount(args(0), args(1))
      }),
    (FunctionIdentifier("levenshtein_within"),
      new ExpressionInfo(
        classOf[graft.plans.LevenshteinWithin].getName,
        "levenshtein_within"),
      (args: Seq[Expression]) => {
        require(args.size == 3, "levenshtein_within(a, b, k)")
        graft.plans.LevenshteinWithin(args(0), args(1),
          intArg(args(2), "k"))
      }),
    (FunctionIdentifier("capped_collect_list"),
      new ExpressionInfo(
        classOf[graft.plans.CappedCollectList].getName,
        "capped_collect_list"),
      (args: Seq[Expression]) => {
        require(args.size == 2, "capped_collect_list(e, cap)")
        graft.plans.CappedCollectList(args(0), intArg(args(1), "cap"))
          .toAggregateExpression()
      }),
    // Composition functions built from CATALYST nodes (a Column-built
    // tree carries unresolved ColumnNode wrappers the analyzer won't
    // touch inside a registry builder). They share the TextAnalytics
    // tables, and an ExtensionsSpec equality test guards drift against
    // the Column forms.
    (FunctionIdentifier("strip_html"),
      new ExpressionInfo(graft.operators.TextAnalytics.getClass.getName, "strip_html"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "strip_html(text)")
        import org.apache.spark.sql.catalyst.expressions.{RegExpReplace, StringReplace, StringTrim}
        val ta = graft.operators.TextAnalytics
        val noBlocks = RegExpReplace(args(0), Literal(ta.htmlBlockPattern), Literal(" "))
        val noTags = RegExpReplace(noBlocks, Literal(ta.htmlTagPattern), Literal(" "))
        val unescaped = ta.htmlEntities.foldLeft[Expression](noTags) {
          case (acc, (e, v)) => StringReplace(acc, Literal(e), Literal(v))
        }
        StringTrim(RegExpReplace(unescaped, Literal("\\s+"), Literal(" ")))
      }),
    (FunctionIdentifier("fix_mojibake"),
      new ExpressionInfo(graft.operators.TextAnalytics.getClass.getName, "fix_mojibake"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "fix_mojibake(text)")
        import org.apache.spark.sql.catalyst.expressions.StringReplace
        graft.operators.TextAnalytics.mojibakeTable.foldLeft(args(0)) {
          case (acc, (bad, good)) => StringReplace(acc, Literal(bad), Literal(good))
        }
      }),
    (FunctionIdentifier("mojibake_count"),
      new ExpressionInfo(graft.operators.TextAnalytics.getClass.getName, "mojibake_count"),
      (args: Seq[Expression]) => {
        require(args.size == 1, "mojibake_count(text)")
        import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Divide, Length, StringReplace, Subtract}
        import org.apache.spark.sql.types.LongType
        graft.operators.TextAnalytics.mojibakeTable.map { case (bad, _) =>
          Cast(Divide(
            Subtract(Length(args(0)),
              Length(StringReplace(args(0), Literal(bad), Literal("")))),
            Literal(bad.length)), LongType): Expression
        }.reduce(Add(_, _))
      }))

  /** Register the functions on an already-built session (extensions
    * only run at construction time). */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (id, info, b) =>
      org.apache.spark.sql.classic.GraftBridge.registerFunction(spark, id, info, b)
    }
    // live-session twin of injectOptimizerRule (extensions can only
    // be configured at session build)
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.LevenshteinThresholdRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.LevenshteinThresholdRule
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.SortedIntersectRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.SortedIntersectRule
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.JaroWinklerThresholdRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.JaroWinklerThresholdRule
  }
}

/** One-stop session builder with graft's extensions and the shuffle
  * sizing used throughout (callers override per environment — on a
  * real cluster, shuffle partitions should track total cores). */
object GraftSession {
  def builder(master: String = "local[*]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // explicit, though default-on: runtime re-plan splits skewed
      // join partitions (the complement of saltedAgg, which handles
      // skewed aggregation)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")

  /** In-memory groups an object-hash aggregate holds before it falls
    * back to sorting. Spark's default (128) is ultra-conservative for
    * graft's collect-based aggregates (posting lists, signatures,
    * baskets), whose buffers are cap-bounded (capped_collect_list /
    * maxDf / maxBlock): a few thousand groups per task are small and
    * skip the per-partition sort (~15% on the set-similarity queries).
    * An A/B on an idle host found 4096 faster or tied on every query
    * of the set-similarity family (q98/q99/q115/q116/q75, best-of-3:
    * 12.46 vs 13.28 s total). */
  val FallbackThreshold = 4096

  /** The local-mode session of graft's mains (Bench, Verify, Profile,
    * PlanDump, Recall): `local[cpus]`, one shuffle partition per core,
    * UTC, no UI, [[FallbackThreshold]], WARN logging. */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        FallbackThreshold.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
