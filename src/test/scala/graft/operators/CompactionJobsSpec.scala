package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Job budgets of the two store compactions. Both write their new
  * tables under the swap's scratch root, so nothing they read is
  * overwritten while they read it and no frame is checkpointed only to
  * cut its lineage off the store. */
class CompactionJobsSpec extends SparkSpec {

  test("compactIvfStore runs a fixed job count on a two-cell store") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(0.999f, 0.045f, 0f, 0f)),
      (3L, Array(0f, 0f, 1.0f, 0f)),
      (4L, Array(0f, 0f, 0.98f, 0.2f))
    ).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivf_jobs").toString
    Knn.writeIvfIndex(corpus, "vec_id", "embedding", path, c = 2,
      portableHash = true)
    // empties one cell and rewrites the other
    Knn.deleteFromIvfIndex(Seq(1L, 3L, 4L).toDF("vec_id"), "vec_id", path)
    // the kept cells are counted by listing the written copy, not by a
    // collect over the survivors
    val jobs = jobCount(Knn.compactIvfStore(spark, path))
    assert(jobs == 13, s"compactIvfStore ran $jobs jobs")
  }

  test("compactGraphStore runs a fixed job count on a layers = 1 store") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(83)
    val df = (0L until 120L).map { i =>
      val v = Array.fill(16)(0.5f * rnd.nextGaussian().toFloat)
      v((i % 3).toInt) += 5.0f
      (i, v)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_cmp_jobs").toString
    Knn.writeGraphIndex(df, "vec_id", "embedding", dir,
      k = 6, c = 8, nprobe = 2, buckets = 8, layers = 1)
    Knn.deleteFromGraphIndex(df.where(col("vec_id") % 7 === 0)
      .select("vec_id"), "vec_id", dir)
    // only the node survivors are materialized: four steps read them
    val jobs = jobCount(Knn.compactGraphStore(spark, dir))
    assert(jobs == 24, s"compactGraphStore ran $jobs jobs")
  }
}
