package perfbench

import graft.SparkEntry

/** A fixed, section-stratified set of driver-contract gate queries
  * (perfbench/gates.tsv) in a seeded order over generated tables. Each
  * execution is timed from the gate function call through a full
  * materialization to the `noop` sink. */
object GateMix extends Workload {
  private var gates: Seq[String] = Nil
  private def tables(ctx: Ctx) = s"${ctx.inputs}/tables"

  def prepare(ctx: Ctx): Unit = {
    val src = scala.io.Source.fromFile(s"${ctx.inputs}/gates.txt")
    gates = try src.getLines().map(_.trim).filter(_.nonEmpty).toList finally src.close()
    val unknown = gates.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(", ")}")
    // touch every table once so first-read costs do not land on whichever gate reads it first
    Files.list(tables(ctx)).filter(_.getName.endsWith(".parquet")).foreach { f =>
      ctx.noop(ctx.spark.read.parquet(f.getAbsolutePath))
    }
    // Warm-up runs each gate once, writing the output the correctness
    // check replays against the DuckDB oracle.
    gates.foreach { g =>
      SparkEntry.queries(g)(ctx.spark, tables(ctx)).write.mode("overwrite")
        .parquet(ctx.path(s"gate_out/$g"))
      ctx.release()
    }
  }

  private def run(ctx: Ctx, gate: String): Unit = {
    val spark = ctx.spark
    val q0 = System.nanoTime()
    ctx.timed("query_s") {
      val df = ctx.tracer.span("entry.build")(SparkEntry.queries(gate)(spark, tables(ctx)))
      val b = System.nanoTime()
      ctx.record("build_s", (b - q0) / 1e9)
      ctx.tracer.span("entry.exec")(ctx.noop(df))
      ctx.record("exec_s", (System.nanoTime() - b) / 1e9)
    }
    ctx.release()
  }

  def round(ctx: Ctx, i: Int): Unit = gates.foreach(g => run(ctx, g))

  def collect(ctx: Ctx): Unit = Main.writeJson(ctx.path("gate_out/oracle_sql.json"),
    gates.map(g => g -> SparkEntry.oracleSql(g)).toMap)

  def decompose(ctx: Ctx): Unit = {
    // Catalyst planning on a fresh build, as Bench measures it.
    val planning = gates.map { g =>
      val qe = SparkEntry.queries(g)(ctx.spark, tables(ctx)).queryExecution
      qe.executedPlan
      val s = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
      ctx.release()
      g -> s
    }.toMap
    val perGate = ctx.samples("query_s")
    val totalPlanning = gates.map(planning).sum * (perGate.size.toDouble / gates.size)
    ctx.layers ++= Seq(
      "entry.build_s" -> Stats.median(ctx.samples("build_s").toSeq),
      "entry.exec_s" -> Stats.median(ctx.samples("exec_s").toSeq),
      "plans.planning_s" -> Stats.median(planning.values.toSeq),
      "plans.planning_share" -> totalPlanning / perGate.sum)
    // The store churn runs once here, so the store layers are measured too.
    StoreChurn.prepare(ctx)
    StoreChurn.run(ctx)
    StoreChurn.decompose(ctx)
  }
}
