package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable

/** Optimization-round instrumentation (guide §1): run the named gate
  * queries once, with a listener that attributes wall time to Spark
  * jobs — job count, per-job duration, stage/task counts — so the
  * local-mode dispatch floor vs real work split is measurable instead
  * of guessed. Not part of the driver contract; Bench/Verify unchanged.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.Profile sfDir q329 q334"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val prefixes = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    GraftExtensions.register(spark)
    // same warmup as Bench
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .foreach { f =>
        try {
          val df = spark.read.parquet(f.getAbsolutePath)
          df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())
        } catch { case _: Throwable => }
      }

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    names.foreach { name =>
      val listener = new Profile.JobListener
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case e: Throwable => println(s"[$name] FAILED: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      graft.plans.Blocks.releaseAll(spark)
      val done = listener.jobs.filter(_.end > 0)
      val jobSec = done.map(j => (j.end - j.start) / 1e3).sum
      println(f"== $name wall=$wall%.3f s, jobs=${done.size}, " +
        f"job-time=$jobSec%.3f s, gap=${wall - jobSec}%.3f s")
      done.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
        println(f"   job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3f s  " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc.take(80)}")
      }
    }
    spark.stop()
  }

  final case class Job(id: Int, desc: String, start: Long, var end: Long = -1,
                       var stages: Int = 0, var tasks: Int = 0)

  /** Per-job wall, stage and task counts. Stages map to jobs exactly
    * through `SparkListenerJobStart.stageInfos` (the first job that
    * lists a stage owns it), so jobs that overlap in time — submitted
    * from a driver pool or from two threads — keep their own stages. */
  final class JobListener extends SparkListener {
    private val byId = mutable.LinkedHashMap.empty[Int, Job]
    private val stageOwner = mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      byId(e.jobId) = Job(e.jobId, desc, e.time)
      e.stageInfos.foreach(s => stageOwner.getOrElseUpdate(s.stageId, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byId.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageOwner.get(e.stageInfo.stageId).flatMap(byId.get).foreach { j =>
        j.stages += 1; j.tasks += e.stageInfo.numTasks
      }
    }

    /** The jobs seen so far, in start order. */
    def jobs: Seq[Job] = synchronized(byId.values.toList)
  }
}
