package graft

class ProfileSpec extends SparkSpec {

  test("JobListener gives each stage to its own job when two threads' jobs overlap") {
    val sc = spark.sparkContext
    val listener = new Profile.JobListener
    def seen(desc: String) = listener.jobs.filter(_.desc == desc)
    def await(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
      assert(cond)
    }
    def inThread(desc: String)(job: => Unit): Thread = {
      val t = new Thread(() => { sc.setJobDescription(desc); job })
      t.start()
      t
    }
    sc.addSparkListener(listener)
    try {
      // a: one stage of 3 slow tasks; b starts while a runs and finishes
      // first: a map stage of 2 tasks and a result stage of 2 tasks
      val a = inThread("profile-a") {
        sc.parallelize(1 to 3, 3).map { x => Thread.sleep(1500); x }.count()
      }
      await(seen("profile-a").nonEmpty)
      val b = inThread("profile-b") {
        sc.parallelize(1 to 2, 2).map(x => (x, x)).reduceByKey(_ + _, 2).count()
      }
      a.join(); b.join()
      await(Seq("profile-a", "profile-b").forall(d => seen(d).exists(_.end > 0)))
    } finally sc.removeSparkListener(listener)
    val Seq(ja) = seen("profile-a")
    val Seq(jb) = seen("profile-b")
    assert(jb.start < ja.end, s"jobs did not overlap: $ja $jb")
    assert((ja.stages, ja.tasks) == (1, 3), ja)
    assert((jb.stages, jb.tasks) == (2, 4), jb)
  }
}
