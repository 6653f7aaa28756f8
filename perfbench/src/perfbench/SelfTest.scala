package perfbench

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.SparkSession

/** Checks of the benchmark's own engine accounting, run by
  * perfbench/test_bench.py. Exits non-zero on the first failure. */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"selftest FAIL: $what"); sys.exit(1) }
    else println(s"selftest ok: $what")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val l = new EngineListener
    sc.addSparkListener(l)

    // Two threads submit jobs at the same time, as Knn.awaitAll does.
    // A one-stage job and a two-stage job each; thread "a" uses 3
    // partitions, thread "b" 5, so each job's task count names its owner.
    val gate = new CountDownLatch(2)
    def worker(tag: String, parts: Int) = new Thread(() => {
      sc.setJobGroup(tag, tag)
      gate.countDown(); gate.await()
      sc.parallelize(1 to parts * 8, parts).map { x => Thread.sleep(25); x }.count()
      sc.parallelize(1 to 200, parts).map(x => (x % 7, x)).reduceByKey(_ + _, parts).count()
    })
    val threads = Seq(worker("a", 3), worker("b", 5))
    threads.foreach(_.start()); threads.foreach(_.join())
    org.apache.spark.PerfbenchBus.drain(sc)
    val jobs = l.snapshot
    val byTag = jobs.groupBy(_.group)
    check(jobs.size == 4 && byTag.keySet == Set("a", "b"), s"four jobs from two threads: ${jobs.map(_.group)}")
    val (a, b) = (byTag("a").sortBy(_.id), byTag("b").sortBy(_.id))
    check(a.head.startMs < b.head.endMs && b.head.startMs < a.head.endMs, "first jobs overlap in time")
    check(a.map(_.tasks) == Seq(3, 6) && b.map(_.tasks) == Seq(5, 10),
      s"tasks attributed to their own job: a=${a.map(_.tasks)} b=${b.map(_.tasks)}")
    check(a.map(_.stages) == Seq(1, 2) && b.map(_.stages) == Seq(1, 2),
      s"stages attributed to their own job: a=${a.map(_.stages)} b=${b.map(_.stages)}")
    check(jobs.forall(j => j.busyMs > 0 && j.endMs >= j.startMs), "busy time and end time recorded")

    val fake = Seq(new l.Job(1, 100, ""), new l.Job(2, 150, ""), new l.Job(3, 400, ""))
    fake(0).endMs = 200; fake(1).endMs = 250; fake(2).endMs = 450
    check(EngineListener.idleMs(fake, 0, 500) == 500 - 150 - 50, "idle time between overlapping jobs")

    val t = new Tracer(true)
    t.span("outer") { t.span("inner")(Thread.sleep(30)); Thread.sleep(10) }
    val outer = t.all.find(_.name == "outer").get
    val inner = t.all.find(_.name == "inner").get
    check(inner.parent == outer.id && outer.parent == -1, "span parents")
    check(t.selfSeconds(outer) < outer.seconds - 0.025, "self time excludes child spans")
    check(new Tracer(false).span("x")(41 + 1) == 42 && new Tracer(false).all.isEmpty,
      "disabled tracer records nothing")
    spark.stop()
  }
}
