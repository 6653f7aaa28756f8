package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Job budget of the stored graph walk: the beam lives on the driver,
  * so each hop collects once to expand and once to score. */
class GraphWalkJobsSpec extends SparkSpec {

  test("stored graph walk: searchGraphIndex and searchGraphIndexAdc run " +
    "a fixed job count, two collects per hop per layer") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(83)
    val df = (0L until 120L).map { i =>
      val v = Array.fill(16)(0.5f * rnd.nextGaussian().toFloat)
      v((i % 3).toInt) += 5.0f
      (i, v)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graph_jobs").toString
    Knn.writeGraphIndex(df, "vec_id", "embedding", dir,
      k = 6, c = 8, nprobe = 2, buckets = 8, layers = 1)
    assert(spark.read.parquet(s"$dir/meta").head().getAs[Int]("layers") == 1)
    val books = graft.entry.EntryHelpers.pqBooks(m = 4, k = 16,
      subDim = 4, seed = 13L)
    Knn.writeGraphCodes(spark, dir, books)
    val queries = df.where(col("vec_id") % 40 === 1)

    def exact(hops: Int): Int = jobCount(Knn.searchGraphIndex(spark, dir,
      queries, "vec_id", "embedding", beam = 6, hops = hops, k = 4))
    def adc(hops: Int): Int = jobCount(Knn.searchGraphIndexAdc(spark, dir,
      books, queries, "vec_id", "embedding", beam = 6, hops = hops, k = 4))

    val (exact2, exact3, adc2, adc3) = (exact(2), exact(3), adc(2), adc(3))
    // one more hop on each of the two layers costs five jobs a layer:
    // the expansion collect and the scoring collect, plus the broadcasts
    // of the three driver-built frames they join (beam, candidates,
    // queries), which Spark runs as jobs of their own
    assert(exact3 - exact2 == 10, s"exact walk: $exact2 → $exact3 jobs")
    assert(adc3 - adc2 == 10, s"ADC walk: $adc2 → $adc3 jobs")
    // the rest: store reads, the tombstone probe, the seed scoring and,
    // for ADC, the staleness guard
    assert((exact2, adc2) == (29, 32),
      s"job counts changed: exact $exact2, ADC $adc2")
  }
}
