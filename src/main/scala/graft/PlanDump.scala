package graft
import org.apache.spark.sql.execution.FormattedMode

/** Optimization-round instrumentation (guide §1.1/§7.2): write the
  * `explain("formatted")` physical plan of named gate queries to
  * `plans/<tag-dir>/<query>_<tag>.txt` so plan-shape claims
  * (Exchange count, join strategy, PushedFilters, partition pruning)
  * are committed evidence, not prose. Not part of the driver
  * contract; Bench/Verify unchanged.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.PlanDump sfDir before q329 q334"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val tag = if (args.length > 1) args(1) else "before"
    val prefixes = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    GraftExtensions.register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val outDir = java.nio.file.Paths.get("plans",
      sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "r16"))
    java.nio.file.Files.createDirectories(outDir)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    names.foreach { name =>
      try {
        // building the frame runs any store-build prep a lifecycle
        // gate does; the dumped plan is the returned (timed) query
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        java.nio.file.Files.writeString(
          outDir.resolve(s"${name}_$tag.txt"), txt)
        println(s"[plandump] wrote ${name}_$tag.txt")
      } catch {
        case e: Throwable => println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      graft.plans.Blocks.releaseAll(spark)
    }
    spark.stop()
  }
}
