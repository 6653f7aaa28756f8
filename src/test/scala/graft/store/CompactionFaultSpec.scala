package graft.store

import graft.SparkSpec
import graft.operators.Knn
import org.apache.spark.sql.functions._

/** A compaction that fails part-way through its write phase leaves the
  * live store as it was: searches answer exactly as before the call,
  * and the tombstones it did not apply are still there. The failure is
  * a `create` that throws under the compaction's scratch copy of one
  * table, after the tables written before it have landed there. */
class CompactionFaultSpec extends SparkSpec {

  private def corpus(n: Long, dim: Int, seed: Int) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    (0L until n).map { i =>
      val v = Array.fill(dim)(0.5f * rnd.nextGaussian().toFloat)
      v((i % 3).toInt) += 5.0f
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  test("graph store: a throw while writing the compacted edges leaves " +
    "search results and tombstones unchanged") {
    FaultFs.register(spark)
    val df = corpus(90L, 8, 41)
    val dir = FaultFs.tempDir("graph_fault")
    Knn.writeGraphIndex(df, "vec_id", "embedding", dir,
      k = 4, c = 4, nprobe = 2, buckets = 4, layers = 1)
    Knn.deleteFromGraphIndex(df.where(col("vec_id") % 5 === 0)
      .select("vec_id"), "vec_id", dir)
    val queries = df.where(col("vec_id") % 15 === 1)
    def search() = Knn.searchGraphIndex(spark, dir, queries,
      "vec_id", "embedding", beam = 6, hops = 2, k = 3)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
    val before = search()
    val nDel = Tombstones.Graph.count(spark, dir)
    assert(nDel == 18L)
    val failed = FaultFs.failingCreate("_compact_tmp/edges") {
      scala.util.Try(Knn.compactGraphStore(spark, dir)).isFailure
    }
    assert(search() == before)
    assert(Tombstones.Graph.count(spark, dir) == nDel)
    assert(failed, "the injected fault did not reach the compaction")
  }

  test("IVF store: a throw while writing the compacted cells leaves " +
    "search results and tombstones unchanged") {
    FaultFs.register(spark)
    val df = corpus(60L, 8, 43)
    val dir = FaultFs.tempDir("ivf_fault")
    Knn.writeIvfIndex(df, "vec_id", "embedding", dir, c = 3,
      portableHash = true)
    Knn.deleteFromIvfIndex(df.where(col("vec_id") % 4 === 0)
      .select("vec_id"), "vec_id", dir)
    val queries = df.where(col("vec_id") % 10 === 1)
    def search() = Knn.searchIvf(spark, dir, queries, "vec_id",
      "embedding", k = 3, nprobe = 3)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
    val before = search()
    val nTomb = Tombstones.Default.count(spark, dir)
    assert(nTomb == 15L)
    val failed = FaultFs.failingCreate("_compact_tmp/cells") {
      scala.util.Try(Knn.compactIvfStore(spark, dir)).isFailure
    }
    assert(search() == before)
    assert(Tombstones.Default.count(spark, dir) == nTomb)
    assert(failed, "the injected fault did not reach the compaction")
  }
}
