package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MinhashStoreSpec extends SparkSpec {

  private def corpus = {
    val s = spark
    import s.implicits._
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val other = (1 to 30).map(i => s"term$i").mkString(" ")
    Seq(
      (1L, base),
      (2L, base.replace("word15", "word15 extra")), // near-dup of 1
      (3L, other),
      (4L, "completely different text about spark engines and parquet files"),
      (11L, base), // batch: dup of store doc 1
      (12L, other.replace("term7", "term7 also")), // batch: near-dup of 3
      (13L, "a fresh novel document with entirely new content here"),
      (14L, "a fresh novel document with entirely new content here"), // dup within batch
      (15L, "unrelated singleton text mentioning lakes and rivers")
    ).toDF("doc_id", "text")
  }

  private def store = corpus.where(col("doc_id") < 10)
  private def batch = corpus.where(col("doc_id") >= 10)

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("probe against a built store matches the in-memory cross-corpus pairs") {
    val path = tmpDir("mh_store_eq")
    MinhashStore.write(store, "doc_id", "text", path,
      shingleN = 3, bands = 16, rowsPerBand = 4)
    val got = MinhashStore.probe(spark, path, batch, "doc_id", "text", tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Dedup.minhashLshPairsAcross(
      batch, "doc_id", "text", store, "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"probe=$got across=$want")
    assert(got.exists { case (n, st, _) => n == 11L && st == 1L }) // planted dup found
  }

  test("append extends the history: build A + append B == build A∪B") {
    val a = store.where(col("doc_id") <= 2)
    val b = store.where(col("doc_id") > 2)
    val incremental = tmpDir("mh_store_inc")
    MinhashStore.write(a, "doc_id", "text", incremental)
    MinhashStore.append(b, "doc_id", "text", incremental)
    val oneShot = tmpDir("mh_store_full")
    MinhashStore.write(store, "doc_id", "text", oneShot)
    def probeSet(p: String) =
      MinhashStore.probe(spark, p, batch, "doc_id", "text", tau = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probeSet(incremental) == probeSet(oneShot))
  }

  test("ingest keeps only novel docs and appends their fingerprints") {
    val path = tmpDir("mh_store_ingest")
    MinhashStore.write(store, "doc_id", "text", path)
    val survivors = MinhashStore.ingest(batch, "doc_id", "text", path, tau = 0.5)
    val ids = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    // 11 dups store doc 1; 12 near-dups store doc 3; 14 dups 13 within
    // the batch (min id 13 survives); 13 and 15 are novel.
    assert(ids == Set(13L, 15L), s"survivors=$ids")
    // survivors' fingerprints are now history: re-probing the same novel
    // text finds the stored copy
    val s = spark
    import s.implicits._
    val again = Seq((21L, "a fresh novel document with entirely new content here"))
      .toDF("doc_id", "text")
    val hits = MinhashStore.probe(spark, path, again, "doc_id", "text", tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((21L, 13L)), s"hits=$hits")
    survivors.unpersist(false)
  }

  test("ingestStream dedups each landed shard against all earlier ones") {
    import org.apache.spark.sql.types._
    val land = java.nio.file.Files.createTempDirectory("mh_land").toString
    val out = java.nio.file.Files.createTempDirectory("mh_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mh_ckpt").toString
    val path = tmpDir("mh_stream_store")
    MinhashStore.write(store, "doc_id", "text", path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$land/shard1.json"),
      """{"doc_id": 31, "text": "a fresh novel document with entirely new content here"}""" + "\n")
    val query = MinhashStore.ingestStream(
      graft.sources.Jsonl.readStream(spark, land, schema)
        .where(col("_corrupt_record").isNull).drop("_corrupt_record"),
      "doc_id", "text", path, out, ckpt)
    try {
      query.processAllAvailable()
      // 31 is novel vs the store → survives
      assert(spark.read.parquet(out).select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(31L))
      // shard2: 41 duplicates shard1's 31 (cross-BATCH dup), 42 novel
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$land/shard2.json"),
        """{"doc_id": 41, "text": "a fresh novel document with entirely new content here"}""" + "\n" +
        """{"doc_id": 42, "text": "some genuinely distinct sentence nothing else resembles"}""" + "\n")
      query.processAllAvailable()
      assert(spark.read.parquet(out).select("doc_id")
        .collect().map(_.getLong(0)).toSet == Set(31L, 42L))
    } finally query.stop()
  }

  test("delete tombstones a store doc: probes stop pairing it immediately") {
    val s = spark
    import s.implicits._
    val path = tmpDir("mh_store_del")
    MinhashStore.write(store, "doc_id", "text", path)
    MinhashStore.delete(Seq(1L).toDF("doc_id"), "doc_id", path)
    val got = MinhashStore.probe(spark, path, batch, "doc_id", "text", tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.exists(_._2 == 1L), s"tombstoned doc 1 re-surfaced: $got")
    assert(got.contains((12L, 3L)), s"unrelated pair lost: $got") // 3 untouched
  }

  test("compactStore == rebuilding from the surviving docs; tombstones cleared") {
    val s = spark
    import s.implicits._
    val path = tmpDir("mh_store_cmp")
    // two appends → multiple bucket_counts shards, then a delete
    MinhashStore.write(store.where(col("doc_id") <= 2), "doc_id", "text", path)
    MinhashStore.append(store.where(col("doc_id") > 2), "doc_id", "text", path)
    MinhashStore.delete(Seq(1L).toDF("doc_id"), "doc_id", path)
    val manifest = MinhashStore.compactStore(spark, path)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(manifest("tombstones_applied") == 1L)
    assert(manifest("sigs") == 3L, s"manifest=$manifest") // docs 2,3,4 remain
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$path/tombstones")), "tombstones not cleared")
    // the compacted store behaves exactly like one built fresh from the
    // survivors — same probe pairs, same hot-bucket accounting
    val fresh = tmpDir("mh_store_fresh")
    MinhashStore.write(store.where(col("doc_id") =!= 1L), "doc_id", "text", fresh)
    def probeSet(p: String) =
      MinhashStore.probe(spark, p, batch, "doc_id", "text", tau = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probeSet(path) == probeSet(fresh))
    // bucket_counts collapsed to a single recount shard
    val countFiles = new java.io.File(s"$path/bucket_counts")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(countFiles <= spark.sparkContext.defaultParallelism,
      s"bucket_counts still sharded per append: $countFiles files")
    // lifecycle continues: append after compact still works (params kept)
    MinhashStore.append(Seq((5L, "another brand new doc about glaciers"))
      .toDF("doc_id", "text"), "doc_id", "text", path)
    val again = MinhashStore.probe(spark, path,
      Seq((22L, "another brand new doc about glaciers")).toDF("doc_id", "text"),
      "doc_id", "text", tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == Set((22L, 5L)), s"post-compact append lost: $again")
  }

  test("maintainStore (round 15): tombstone-fraction and append-shard " +
    "triggers drive compaction; orphan tombstones count") {
    val s = spark
    import s.implicits._
    val path = tmpDir("mh_maint")
    MinhashStore.write(store, "doc_id", "text", path) // 4 docs
    assert(MinhashStore.maintainStore(spark, path,
      maxTombstoneFrac = 0.4).isEmpty, "fresh store must be in budget")
    // one live + one ORPHAN tombstone = 2/4 > 0.4: both ride every
    // probe's anti-join, so both count (the r15 IVF posture)
    MinhashStore.delete(Seq(1L, 99L).toDF("doc_id"), "doc_id", path)
    val m = MinhashStore.maintainStore(spark, path, maxTombstoneFrac = 0.4)
    assert(m.nonEmpty, "2/4 tombstones over a 0.4 budget must compact")
    val mm = m.get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mm("tombstones_applied") == 2L && mm("sigs") == 3L, s"$mm")
    // appends accrete band-table shards; the shard budget compacts
    // them back to one file per band
    def bandFiles() = graft.store.Component.fileStats(spark, path, "bands")
      .agg(sum("n_files")).head().getLong(0)
    val n0 = bandFiles()
    MinhashStore.append(batch, "doc_id", "text", path)
    val n1 = bandFiles()
    assert(n1 > n0, s"append did not accrete shards: $n0 -> $n1")
    val m2 = MinhashStore.maintainStore(spark, path,
      maxTombstoneFrac = 1.0, maxAppendShards = (n1 - 1).toInt)
    assert(m2.nonEmpty, "over-shard store must compact")
    assert(bandFiles() <= n0, s"compaction did not coalesce: ${bandFiles()}")
  }

  test("probe never shuffles the store: its scans sit under broadcast joins only") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val path = tmpDir("mh_store_plan")
    MinhashStore.write(store, "doc_id", "text", path)
    val (frame, signed, banded) = MinhashStore.probePlanned(
      spark, path, batch, "doc_id", "text", 0.5, 1000)
    val plan = frame.queryExecution.executedPlan
    signed.unpersist(false); banded.unpersist(false)
    val smjOverStore = plan.collect { case j: SortMergeJoinExec => j }
      .exists(_.collect { case sc: FileSourceScanExec => sc }
        .exists(_.relation.location.rootPaths.exists(_.toString.contains(path))))
    assert(!smjOverStore, s"store scan under a sort-merge join:\n$plan")
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast probes:\n$s")
  }
}
