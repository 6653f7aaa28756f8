package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EmbeddingStoreSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("ingest drops semantic dups vs history and within batch, extends the store") {
    val s = spark
    import s.implicits._
    val store = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(0f, 1.0f, 0f, 0f)),
      (3L, Array(0f, 0f, 1.0f, 0f))
    ).toDF("vec_id", "embedding")
    val batch = Seq(
      (11L, Array(0.999f, 0.02f, 0f, 0f)),  // semantic dup of store 1
      (12L, Array(0f, 0f, 0f, 1.0f)),       // novel
      (13L, Array(0f, 0f, 0.02f, 0.999f)),  // dup of 12 WITHIN the batch
      (14L, Array(0.7f, 0.7f, 0f, 0f))      // novel (cos 0.7 to both 1,2)
    ).toDF("vec_id", "embedding")
    val path = tmpDir("emb_store")
    // c=2 cells, nprobe=2 → every cell probed: full recall in-spec
    EmbeddingStore.write(store, "vec_id", "embedding", path, c = 2)
    val survivors = EmbeddingStore.ingest(batch, "vec_id", "embedding",
      path, tau = 0.95, nprobe = 2)
    val ids = survivors.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(12L, 14L), s"survivors=$ids")
    survivors.unpersist(false)
    // survivors' vectors are history now: a copy of 12 gets flagged
    val again = EmbeddingStore.probe(spark, path,
      Seq((21L, Array(0.01f, 0f, 0f, 0.999f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", tau = 0.95, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == Set((21L, 12L)), s"hits=$again")
  }

  test("delete hides tombstoned docs from probes without masking live dups") {
    val s = spark
    import s.implicits._
    val path = tmpDir("emb_del")
    // 1 and 2 are BOTH near the probe vector, 1 nearer; deleting 1 must
    // surface 2 — a post-ranking mask would return nothing (1 ate the
    // k=1 slot) and silently let a real dup through.
    EmbeddingStore.write(Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(0.999f, 0.045f, 0f, 0f)),
      (3L, Array(0f, 0f, 1.0f, 0f))
    ).toDF("vec_id", "embedding"), "vec_id", "embedding", path, c = 1)
    val batch = Seq((11L, Array(0.9999f, 0.01f, 0f, 0f))).toDF("vec_id", "embedding")
    def hits() = EmbeddingStore.probe(spark, path, batch,
      "vec_id", "embedding", tau = 0.95, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits() == Set((11L, 1L)))
    EmbeddingStore.delete(Seq(1L).toDF("vec_id"), "vec_id", path)
    assert(hits() == Set((11L, 2L)), "deleting the top neighbor must surface the live runner-up")
    // ingest path honors tombstones too: the batch doc still dups live 2
    val surv = EmbeddingStore.ingest(batch, "vec_id", "embedding", path,
      tau = 0.95, nprobe = 1)
    assert(surv.collect().isEmpty, "doc dup of a live store doc must not survive")
    surv.unpersist(false)
  }

  test("compactStore rewrites cells minus tombstones, keeps pruning layout") {
    val s = spark
    import s.implicits._
    val path = tmpDir("emb_cmp")
    EmbeddingStore.write(Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(0f, 1.0f, 0f, 0f)),
      (3L, Array(0f, 0f, 1.0f, 0f)),
      (4L, Array(0f, 0f, 0f, 1.0f))
    ).toDF("vec_id", "embedding"), "vec_id", "embedding", path, c = 2)
    EmbeddingStore.delete(Seq(2L, 4L).toDF("vec_id"), "vec_id", path)
    val manifest = EmbeddingStore.compactStore(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(manifest("cells") == 2L && manifest("tombstones_applied") == 2L, manifest.toString)
    val left = spark.read.parquet(s"$path/cells")
    assert(left.columns.contains("cell"), "cell partitioning must survive the rewrite")
    assert(left.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(!new java.io.File(s"$path/tombstones").exists(), "tombstones reset")
    // probes behave as if the deleted docs never existed
    val hits = EmbeddingStore.probe(spark, path,
      Seq((21L, Array(0f, 0.999f, 0.02f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", tau = 0.9, nprobe = 2)
    assert(hits.collect().isEmpty, "compacted-away doc must not match")
  }

  test("drift rises when appends shift the distribution off the frozen centroids") {
    val s = spark
    import s.implicits._
    val path = tmpDir("emb_drift")
    // initial corpus: two tight clusters on axes 0 and 1
    val base = (0 until 20).map { i =>
      if (i % 2 == 0) (i.toLong, Array(1.0f, 0.01f * i, 0f, 0f))
      else (i.toLong, Array(0.01f * i, 1.0f, 0f, 0f))
    }
    EmbeddingStore.write(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, c = 2, refineIters = 2)
    def mdrift() = EmbeddingStore.drift(spark, path)
      .collect()(0).getLong(1)
    val before = mdrift()
    // appended batch lives on axis 2 — far from both frozen centroids
    EmbeddingStore.append(
      (100 until 120).map(i => (i.toLong, Array(0f, 0.01f * (i - 100), 1.0f, 0f)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", path)
    val after = mdrift()
    assert(after > before,
      s"drift must rise under distribution shift (before=$before after=$after)")
    // rebuild on the accumulated corpus resets the metric
    val all = base ++ (100 until 120).map(i =>
      (i.toLong, Array(0f, 0.01f * (i - 100), 1.0f, 0f)))
    EmbeddingStore.write(all.toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, c = 3, refineIters = 2)
    assert(mdrift() < after, "rebuild must reduce drift")
  }

  test("ingestStream semantic-dedups landed shards against all earlier ones") {
    import org.apache.spark.sql.types._
    val s = spark
    import s.implicits._
    val path = tmpDir("emb_stream_store")
    EmbeddingStore.write(
      Seq((1L, Array(1.0f, 0f, 0f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, c = 1)
    val land = tmpDir("emb_land")
    val out = tmpDir("emb_out")
    val ckpt = tmpDir("emb_ckpt")
    // land shard 1 as parquet: 31 novel
    Seq((31L, Array(0f, 1.0f, 0f, 0f))).toDF("vec_id", "embedding")
      .write.mode("append").parquet(land)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val q = EmbeddingStore.ingestStream(
      spark.readStream.schema(schema).parquet(land),
      "vec_id", "embedding", path, out, ckpt, tau = 0.95, nprobe = 1)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(out).select("vec_id")
        .collect().map(_.getLong(0)).toSet == Set(31L))
      // shard 2: 41 dups shard-1's 31 (cross-batch), 42 novel
      Seq((41L, Array(0f, 0.999f, 0.02f, 0f)),
          (42L, Array(0f, 0f, 1.0f, 0f)))
        .toDF("vec_id", "embedding")
        .write.mode("append").parquet(land)
      q.processAllAvailable()
      assert(spark.read.parquet(out).select("vec_id")
        .collect().map(_.getLong(0)).toSet == Set(31L, 42L))
    } finally q.stop()
  }

  test("maintainStore (round 15): orphan tombstones and cell-file " +
    "accretion trigger compaction") {
    val s = spark
    import s.implicits._
    val path = tmpDir("emb_maint")
    EmbeddingStore.write(Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(0.9f, 0.4f, 0f, 0f)),
      (3L, Array(0f, 0f, 1.0f, 0f))
    ).toDF("vec_id", "embedding"), "vec_id", "embedding", path, c = 1)
    assert(EmbeddingStore.maintainStore(spark, path,
      maxTombstoneFrac = 0.5).isEmpty)
    // one live + one ORPHAN tombstone = 2/3 > 0.5 — orphans ride the
    // probe anti-join too, so they count against the budget
    EmbeddingStore.delete(Seq(1L, 99L).toDF("vec_id"), "vec_id", path)
    val m = EmbeddingStore.maintainStore(spark, path, maxTombstoneFrac = 0.5)
    assert(m.nonEmpty, "2/3 tombstones over a 0.5 budget must compact")
    assert(spark.read.parquet(s"$path/cells").count() == 2L)
    // appends accrete cell files; the files budget coalesces them
    def maxFiles() = graft.store.Component.fileStats(spark, path, "cells")
      .agg(max("n_files")).head().getLong(0)
    EmbeddingStore.append(Seq((11L, Array(0.5f, 0.5f, 0f, 0f)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", path)
    assert(maxFiles() > 1, s"append did not accrete files: ${maxFiles()}")
    val m2 = EmbeddingStore.maintainStore(spark, path,
      maxTombstoneFrac = 1.0, maxFilesPerCell = 1)
    assert(m2.nonEmpty, "over-accreted store must compact")
    assert(maxFiles() == 1L, s"compaction did not coalesce: ${maxFiles()}")
    assert(spark.read.parquet(s"$path/cells").select("id")
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L, 11L))
  }
}
