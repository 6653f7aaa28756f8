package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** State one benchmark run shares with its workload: the session, the
  * generated inputs, raw timings, facts for the correctness checks and
  * (traced runs) per-layer values. */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
                val seed: Long, var tracer: Tracer) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Any]
  /** (start ms, end ms) of each timed query-like operation, for per-query engine counts. */
  val opWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  var attempted = 0

  /** Run `body`, append its seconds to sample `key` and count it as one
    * attempted operation. A throw propagates and fails the run. */
  def timed[T](key: String)(body: => T): T = {
    attempted += 1
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = tracer.span(key)(body)
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    opWindows += ((w0, System.currentTimeMillis()))
    out
  }

  def record(key: String, seconds: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += seconds

  /** Full materialization without a result: every column computed and
    * discarded by the `noop` sink, so Catalyst cannot prune work the way
    * `count()` lets it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def release(): Unit = graft.plans.Blocks.releaseAll(spark)

  def path(name: String): String = new File(work, name).getAbsolutePath
}

/** One workload: `prepare` (part of set-up) reads inputs and warms the
  * JIT and Spark's code paths; `round` is the fixed work one measured
  * round repeats; `collect` gathers the facts the checks compare against
  * the generator's truth, outside the timed region; `decompose` (traced
  * runs only) times each layer's public functions separately. */
trait Workload {
  def prepare(ctx: Ctx): Unit
  def round(ctx: Ctx, i: Int): Unit
  def collect(ctx: Ctx): Unit
  def decompose(ctx: Ctx): Unit
}

object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, value: Any): Unit = mapper.writeValue(new File(path), value)

  def readJson(path: String): Map[String, Any] =
    toScala(mapper.readValue(new File(path), classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toList
    case x => x
  }

  def cpuMhz(): Seq[Double] = try {
    val src = scala.io.Source.fromFile("/proc/cpuinfo")
    try src.getLines().filter(_.startsWith("cpu MHz")).map(_.split(":")(1).trim.toDouble).toList
    finally src.close()
  } catch { case _: Exception => Nil }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val mhzStart = cpuMhz()
    val load0 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val listener = if (traced) Some(new EngineListener) else None
    val ctx = new Ctx(spark, opts("inputs"), work, opts("seed").toLong, new Tracer(false))
    val w: Workload = workload match {
      case "ffiec_ingest" => FfiecIngest
      case "gate_mix" => GateMix
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap.empty[String, Any]
    var error: Option[String] = None
    try {
      val p0 = System.nanoTime()
      w.prepare(ctx)
      val warmS = (System.nanoTime() - p0) / 1e9
      out("setup_session_s") = sessionS
      out("setup_warm_s") = warmS
      ctx.attempted = 0
      ctx.samples.clear()
      ctx.opWindows.clear()

      // A traced run first measures untraced rounds for half the window,
      // after one more discarded round so the last of the warm-up does not
      // land in them; the tracing overhead is the traced rounds' median
      // minus theirs.
      var seq = 0
      def nextRound(): Int = { seq += 1; seq }
      if (traced) {
        w.round(ctx, nextRound())
        ctx.release()
        val deadline = System.nanoTime() + (seconds * 5e8).toLong
        do {
          val u0 = System.nanoTime()
          w.round(ctx, nextRound())
          ctx.record("untraced_round_s", (System.nanoTime() - u0) / 1e9)
          ctx.release()
        } while (System.nanoTime() < deadline)
        out("untraced_round_s") = ctx.samples("untraced_round_s").toList
        ctx.samples.clear()
        ctx.opWindows.clear()
        ctx.attempted = 0
        listener.foreach(spark.sparkContext.addSparkListener)
      }
      val tracer = new Tracer(traced)
      ctx.tracer = tracer
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heap.foreach(_.resetPeakUsage())
      val wallMs0 = System.currentTimeMillis()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var rounds = 0
      do {
        val r0 = System.nanoTime()
        tracer.span("round")(w.round(ctx, nextRound()))
        ctx.record("round_s", (System.nanoTime() - r0) / 1e9)
        ctx.release()
        rounds += 1
      } while (System.nanoTime() < deadline)
      val wallMs1 = System.currentTimeMillis()
      listener.foreach { l =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
        out("engine") = engine(l, ctx, wallMs0, wallMs1, cpus)
        out("driver_heap_peak_mb") = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      }
      out("rounds") = rounds
      out("attempted") = ctx.attempted
      System.err.println(f"[perfbench] session ${sessionS}%.2fs warm-up ${warmS}%.2fs rounds $rounds")
      val c0 = System.nanoTime()
      w.collect(ctx)
      System.err.println(f"[perfbench] collect ${(System.nanoTime() - c0) / 1e9}%.2fs")
      if (traced) {
        w.decompose(ctx)
        writeJson(opts("spans"), tracer.toRows)
      }
      out("samples") = ctx.samples.map { case (k, v) => k -> v.toList }
      out("facts") = ctx.facts
      out("layers") = ctx.layers
    } catch {
      case e: Throwable =>
        error = Some(s"${e.getClass.getName}: ${e.getMessage}".take(2000))
        e.printStackTrace()
    }
    out("error") = error.orNull
    out("provenance") = Map(
      "nproc" -> cpus, "spark_master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "load_avg_start" -> load0,
      "load_avg_end" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "cpu_mhz_start" -> mhzStart, "cpu_mhz_end" -> cpuMhz())
    spark.stop()
    writeJson(s"$work/jvm_result.json", out)
    if (error.isDefined) sys.exit(1)
  }

  /** Engine totals over the traced rounds, plus jobs per timed operation. */
  private def engine(l: EngineListener, ctx: Ctx, fromMs: Long, toMs: Long,
                     cpus: Int): Map[String, Any] = {
    val jobs = l.snapshot
    val wallS = (toMs - fromMs) / 1e3
    val busyS = jobs.map(_.busyMs).sum / 1e3
    val perOp = ctx.opWindows.toList.map { case (a, b) =>
      jobs.count(j => j.startMs >= a && j.startMs <= b).toDouble }
    Map(
      "jobs" -> jobs.size, "stages" -> jobs.map(_.stages).sum,
      "tasks" -> jobs.map(_.tasks).sum, "failed_tasks" -> jobs.map(_.failedTasks).sum,
      "task_busy_s" -> busyS, "core_utilization" -> busyS / (wallS * cpus),
      "driver_gap_s" -> EngineListener.idleMs(jobs, fromMs, toMs) / 1e3,
      "input_bytes" -> jobs.map(_.inputBytes).sum,
      "shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum,
      "shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum,
      "spill_bytes" -> jobs.map(_.spill).sum,
      "output_bytes" -> jobs.map(_.outputBytes).sum,
      "peak_task_memory_mb" -> (if (jobs.isEmpty) 0L else jobs.map(_.peakTaskMem).max) / 1048576.0,
      "jobs_per_op" -> perOp)
  }
}
