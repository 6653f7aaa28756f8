package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round 14: delete/compact lifecycle for the persisted IVF family
  * (flat + filtered + range + the coded PQ/SQ8/RQ twins) and the
  * IVF+RQ append that closed the family's one ingest gap. */
class IvfLifecycleSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def corpus4 = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(0.999f, 0.045f, 0f, 0f)),
      (3L, Array(0f, 0f, 1.0f, 0f)),
      (4L, Array(0f, 0f, 0.98f, 0.2f))
    ).toDF("vec_id", "embedding")
  }

  private def probe1 = {
    val s = spark
    import s.implicits._
    Seq((100L, Array(0.9999f, 0.01f, 0f, 0f))).toDF("vec_id", "embedding")
  }

  test("deleteFromIvfIndex hides ids pre-top-k in searchIvf (runner-up surfaces)") {
    val s = spark
    import s.implicits._
    val path = tmpDir("ivf_del")
    Knn.writeIvfIndex(corpus4, "vec_id", "embedding", path, c = 1)
    def top1() = Knn.searchIvf(spark, path, probe1, "vec_id", "embedding",
      k = 1, nprobe = 1).collect().map(_.getLong(1)).toSet
    assert(top1() == Set(1L))
    Knn.deleteFromIvfIndex(Seq(1L).toDF("vec_id"), "vec_id", path)
    // a post-ranking mask would return nothing: 1 ate the k=1 slot
    assert(top1() == Set(2L),
      "deleting the top neighbor must surface the live runner-up")
  }

  test("filtered and range probes honor tombstones pre-scoring") {
    val s = spark
    import s.implicits._
    val path = tmpDir("ivf_delfr")
    Knn.writeIvfIndex(corpus4, "vec_id", "embedding", path, c = 1,
      keep = Seq("vec_id"))
    Knn.deleteFromIvfIndex(Seq(1L).toDF("vec_id"), "vec_id", path)
    val filt = Knn.searchIvfFiltered(spark, path, probe1,
      "vec_id", "embedding", k = 1, pred = col("id") < 3L, nprobe = 1)
      .collect().map(_.getLong(1)).toSet
    assert(filt == Set(2L))
    val rng = Knn.searchIvfRange(spark, path, probe1,
      "vec_id", "embedding", tau = 0.9, nprobe = 1)
      .collect().map(_.getLong(1)).toSet
    assert(rng == Set(2L), s"range must drop the tombstone, got $rng")
  }

  test("coded twin (SQ8) drops tombstoned ids before the ADC shortlist") {
    val s = spark
    import s.implicits._
    val path = tmpDir("ivf_delsq8")
    Pq.writeIvfSq8Index(corpus4, "vec_id", "embedding", path, c = 1, dim = 4)
    def top1() = Pq.searchIvfSq8(spark, path, probe1, "vec_id", "embedding",
      k = 1, nprobe = 1, shortlist = 2).collect().map(_.getLong(1)).toSet
    assert(top1() == Set(1L))
    Knn.deleteFromIvfIndex(Seq(1L).toDF("vec_id"), "vec_id", path)
    assert(top1() == Set(2L),
      "tombstone must not eat a shortlist slot in the coded probe")
  }

  test("compactIvfStore: bucket-pruned rewrite, emptied-cell cleanup, manifest") {
    val s = spark
    import s.implicits._
    val path = tmpDir("ivf_cmp")
    // c=2 on this corpus: two populated cells (x-axis pair, z-axis pair)
    Knn.writeIvfIndex(corpus4, "vec_id", "embedding", path, c = 2,
      portableHash = true)
    val cellOf = spark.read.parquet(s"$path/cells")
      .select(col("id"), col("cell").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cellOf.values.toSet.size == 2, s"want 2 populated cells: $cellOf")
    // tombstone BOTH members of 3's cell (empties it) + one of 1's
    val sameCellAs3 = cellOf.filter(_._2 == cellOf(3L)).keys.toSeq
    val dead = (sameCellAs3 :+ 1L).distinct
    Knn.deleteFromIvfIndex(dead.toDF("vec_id"), "vec_id", path)
    def results() = Knn.searchIvf(spark, path, corpus4.unionByName(probe1),
      "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val tombstoned = results()
    assert(!tombstoned.exists(t => dead.contains(t._2)))
    val manifest = Knn.compactIvfStore(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(manifest("tombstones_applied") == dead.size.toLong)
    assert(manifest("cells_emptied") == 1L, s"manifest=$manifest")
    assert(manifest("cells_rewritten") == 1L, s"manifest=$manifest")
    // compacted search answers identically; tombstones + emptied dir gone
    assert(results() == tombstoned)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$path/cells/cell=${cellOf(3L)}")),
      "fully-tombstoned cell directory must be deleted")
    val survivors = spark.read.parquet(s"$path/cells")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(survivors == corpus4.collect().map(_.getLong(0)).toSet -- dead)
  }

  test("maintainIvfStore compacts only past the tombstone-fraction threshold") {
    val s = spark
    import s.implicits._
    val path = tmpDir("ivf_maint")
    Knn.writeIvfIndex(corpus4, "vec_id", "embedding", path, c = 1)
    // 1 of 4 tombstoned = 0.25: under a 0.5 budget -> no compaction
    Knn.deleteFromIvfIndex(Seq(1L).toDF("vec_id"), "vec_id", path)
    assert(Knn.maintainIvfStore(spark, path, maxTombstoneFrac = 0.5).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")),
      "under-budget maintenance must not touch the store")
    // 2 of 4 = 0.5: over a 0.4 budget -> compacts and reports
    Knn.deleteFromIvfIndex(Seq(2L).toDF("vec_id"), "vec_id", path)
    val manifest = Knn.maintainIvfStore(spark, path, maxTombstoneFrac = 0.4)
    assert(manifest.nonEmpty)
    val m = manifest.get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("tombstones_applied") == 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")))
    val ids = spark.read.parquet(s"$path/cells")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(3L, 4L))
    // freshly compacted store is within any budget
    assert(Knn.maintainIvfStore(spark, path, maxTombstoneFrac = 0.0).isEmpty)
  }

  test("maintainIvfStore counts orphan tombstones against the backlog " +
    "(round 15): tombstones matching no stored row still ride every " +
    "probe's broadcast anti-join") {
    val s = spark
    import s.implicits._
    val path = tmpDir("ivf_maint_orphan")
    Knn.writeIvfIndex(corpus4, "vec_id", "embedding", path, c = 1)
    // 3 orphan tombstones against 4 stored rows: the stats-side
    // backlog is 0 (nothing matches), but the broadcast-hygiene bound
    // is 0.75 — over a 0.5 budget the policy must compact (which
    // clears the table)
    Knn.deleteFromIvfIndex(Seq(100L, 101L, 102L).toDF("vec_id"),
      "vec_id", path)
    val manifest = Knn.maintainIvfStore(spark, path, maxTombstoneFrac = 0.5)
    assert(manifest.nonEmpty,
      "orphan tombstones must trigger hygiene compaction")
    val m = manifest.get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("tombstones_applied") == 3L && m("cells_rewritten") == 0L)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")))
    assert(spark.read.parquet(s"$path/cells").count() == 4L)
  }

  test("coded appends discover and carry the store's kept attribute " +
    "columns; a batch missing them is rejected (round 15, r14 advice)") {
    val s = spark
    import s.implicits._
    def vec(i: Long): Array[Float] =
      Array.tabulate(8)(d => (((i * 29 + d * 13) % 89).toFloat - 44f) / 44f)
    val corpus = (1L to 30L).map(i => (i, vec(i), (i % 3).toInt))
      .toDF("vec_id", "embedding", "grp")
    val batch = (31L to 40L).map(i => (i, vec(i), (i % 3).toInt))
      .toDF("vec_id", "embedding", "grp")
    val q = Seq((900L, vec(34L))).toDF("vec_id", "embedding")
    // PQ twin
    val p1 = tmpDir("ivfpq_keep_app")
    Pq.writeIvfPqIndex(corpus, "vec_id", "embedding", p1,
      c = 2, m = 2, k = 8, dim = 8, keep = Seq("grp"))
    Pq.appendIvfPqIndex(batch, "vec_id", "embedding", p1)
    val hits = Pq.searchIvfPq(spark, p1, q, "vec_id", "embedding",
        k = 40, nprobe = 2, shortlist = 40,
        pred = Some(col("grp") === 1))
      .collect().map(_.getLong(1)).toSet
    assert(hits.contains(34L),
      s"appended row invisible to filtered search: $hits")
    val bad = intercept[IllegalArgumentException] {
      Pq.appendIvfPqIndex(
        Seq((41L, vec(41L))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", p1)
    }
    assert(bad.getMessage.contains("grp"))
    // SQ8 twin
    val p2 = tmpDir("ivfsq8_keep_app")
    Pq.writeIvfSq8Index(corpus, "vec_id", "embedding", p2,
      c = 2, dim = 8, keep = Seq("grp"))
    Pq.appendIvfSq8Index(batch, "vec_id", "embedding", p2)
    val hits2 = Pq.searchIvfSq8(spark, p2, q, "vec_id", "embedding",
        k = 40, nprobe = 2, shortlist = 40,
        pred = Some(col("grp") === 1))
      .collect().map(_.getLong(1)).toSet
    assert(hits2.contains(34L),
      s"SQ8 appended row invisible to filtered search: $hits2")
  }

  test("appendIvfIndex: keep reconciles against the store schema; " +
    "skipExisting makes a replayed batch a no-op (round 15)") {
    val s = spark
    import s.implicits._
    val path = tmpDir("ivf_app_keep")
    val corpus = Seq((1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 0f), 1)).toDF("vec_id", "embedding", "grp")
    Knn.writeIvfIndex(corpus, "vec_id", "embedding", path, c = 1,
      keep = Seq("grp"))
    // kept columns discovered from the store: a bare batch fails
    val err = intercept[IllegalArgumentException] {
      Knn.appendIvfIndex(
        Seq((3L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", path)
    }
    assert(err.getMessage.contains("grp"))
    // an explicit keep that contradicts the store fails
    val err2 = intercept[IllegalArgumentException] {
      Knn.appendIvfIndex(
        Seq((3L, Array(0f, 0f, 1f, 0f), "x"))
          .toDF("vec_id", "embedding", "other"),
        "vec_id", "embedding", path, keep = Seq("other"))
    }
    assert(err2.getMessage.contains("does not match"))
    // replayed batch under skipExisting: second append is a no-op
    val batch = Seq((3L, Array(0f, 0f, 1f, 0f), 2))
      .toDF("vec_id", "embedding", "grp")
    Knn.appendIvfIndex(batch, "vec_id", "embedding", path,
      skipExisting = true)
    Knn.appendIvfIndex(batch, "vec_id", "embedding", path,
      skipExisting = true)
    val n = spark.read.parquet(s"$path/cells")
      .where(col("id") === 3L).count()
    assert(n == 1L, s"replayed batch duplicated: $n rows for id 3")
  }

  test("ADC big-batch re-rank (round 15, r14 verdict ask #7): past the " +
    "shortlist-collect bound the distributed join path returns the " +
    "same results as the collected path") {
    val s = spark
    import s.implicits._
    def vec(i: Long): Array[Float] =
      Array.tabulate(8)(d => (((i * 31 + d * 17) % 97).toFloat - 48f) / 48f)
    val corpus = (1L to 60L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val path = tmpDir("ivfpq_bigbatch")
    Pq.writeIvfPqIndex(corpus, "vec_id", "embedding", path,
      c = 4, m = 2, k = 8, dim = 8)
    val qs = (200L to 205L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    def run(bound: Long) = Pq.searchIvfPq(spark, path, qs,
        "vec_id", "embedding", k = 5, nprobe = 3, shortlist = 10,
        maxShortlistCollect = bound)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sorted.toSeq
    assert(run(1L) == run(4000000L),
      "distributed re-rank must equal the collected path")
  }

  test("compactIvfStore without tombstones is a no-op manifest") {
    val path = tmpDir("ivf_cmp_noop")
    Knn.writeIvfIndex(corpus4, "vec_id", "embedding", path, c = 1)
    val before = spark.read.parquet(s"$path/cells").count()
    val manifest = Knn.compactIvfStore(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(manifest == Map("tombstones_applied" -> 0L,
      "cells_rewritten" -> 0L, "cells_emptied" -> 0L,
      "cells_coalesced" -> 0L))
    assert(spark.read.parquet(s"$path/cells").count() == before)
  }

  test("maintainIvfStore files-per-cell trigger coalesces streamed " +
    "appends (round 15): every row survives, one file per cell after") {
    val s = spark
    import s.implicits._
    val path = tmpDir("ivf_files")
    Knn.writeIvfIndex(corpus4, "vec_id", "embedding", path, c = 1)
    Knn.appendIvfIndex(Seq((50L, Array(0.7f, 0.7f, 0f, 0f)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", path)
    Knn.appendIvfIndex(Seq((51L, Array(0f, 0f, 0f, 1.0f)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", path)
    def maxFiles() = graft.store.Component.fileStats(spark, path, "cells")
      .agg(max("n_files")).head().getLong(0)
    val before = maxFiles()
    assert(before >= 3, s"expected accreted files, got $before")
    // no tombstones at all: only the files trigger can fire
    val m = Knn.maintainIvfStore(spark, path, maxTombstoneFrac = 1.0,
      maxFilesPerCell = 2)
    assert(m.nonEmpty, "over-accreted cell must compact")
    val mm = m.get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mm("tombstones_applied") == 0L && mm("cells_coalesced") == 1L,
      s"$mm")
    assert(maxFiles() == 1L, s"coalesce left ${maxFiles()} files")
    assert(spark.read.parquet(s"$path/cells").select("id")
      .collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L, 50L, 51L))
    // back in budget
    assert(Knn.maintainIvfStore(spark, path, maxTombstoneFrac = 1.0,
      maxFilesPerCell = 2).isEmpty)
  }

  test("ingestIvfStream: micro-batches append into the persisted IVF " +
    "store; ingested vectors searchable between batches (round 14)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("ivf_ing")
    Knn.writeIvfIndex(corpus4, "vec_id", "embedding", path, c = 1)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = Knn.ingestIvfStream(input.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", path, tmpDir("ivf_ing_ck"))
    try {
      input.addData((50L, Array(0.7f, 0.7f, 0f, 0f)))
      q.processAllAvailable()
      val hit1 = Knn.searchIvf(spark, path,
        Seq((900L, Array(0.71f, 0.7f, 0f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 1, nprobe = 1)
        .collect().map(_.getLong(1)).toSet
      assert(hit1 == Set(50L), s"batch-1 vector not top hit: $hit1")
      input.addData((51L, Array(0f, 0f, 0f, 1.0f)))
      q.processAllAvailable()
      val ids = spark.read.parquet(s"$path/cells")
        .select("id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 3L, 4L, 50L, 51L))
    } finally q.stop()
  }

  test("retrievalMetrics: a perfect system scores 1e6 on every metric; " +
    "poolTokens is token-order independent") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(61)
    // perfect system: results == truth, random ranks 1..k
    val rows = (1L to 8L).flatMap(q => (1 to 4).map(r =>
      (q, q * 100 + r, r.toLong)))
    val res = rows.toDF("query_id", "doc_id", "rank")
    val truth = res.select("query_id", "doc_id")
    Knn.retrievalMetrics(res, truth, k = 4).collect().foreach { m =>
      assert(m.getLong(3) == 1000000L && m.getLong(4) == 1000000L &&
        m.getLong(5) == 1000000L, s"perfect system not 1e6: $m")
    }
    // order independence: shuffled token rows pool identically
    val toks = (0L until 30L).map(t =>
      (t / 5, t, Array.fill(6)(rnd.nextGaussian().toFloat)))
    val a = Knn.poolTokens(toks.toDF("d", "t", "v"), "d", "v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = Knn.poolTokens(rnd.shuffle(toks).toDF("d", "t", "v"), "d", "v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a == b, "poolTokens must not depend on token order")
  }

  test("retrievalMetrics: exact integer micros on a hand-checked case") {
    val s = spark
    import s.implicits._
    // truth for query 1: docs {10, 20, 30}; system ranks 10 (hit),
    // 99 (miss), 20 (hit) at k=3
    val truth = Seq((1L, 10L), (1L, 20L), (1L, 30L))
      .toDF("query_id", "doc_id")
    val sys = Seq((1L, 10L, 1L), (1L, 99L, 2L), (1L, 20L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val m = Knn.retrievalMetrics(sys, truth, k = 3).collect().head
    assert(m.getLong(1) == 3L)                 // n_truth
    assert(m.getLong(2) == 2L)                 // hits
    assert(m.getLong(3) == 666666L)            // recall = 2e6/3
    assert(m.getLong(4) == 1000000L)           // first hit at rank 1
    // AP@3 = (prec@1 + prec@3) / min(3,3) = (1e6 + 666666) / 3
    assert(m.getLong(5) == 555555L, s"ap=${m.getLong(5)}")
    // NDCG@3 binary: dcg = w1 + w3, idcg = w1 + w2 + w3 (round 15)
    assert(m.getLong(6) == 703918L, s"ndcg=${m.getLong(6)}")
    // a query with zero hits reports zero MRR/AP, not null
    val none = Knn.retrievalMetrics(
      Seq((2L, 99L, 1L)).toDF("query_id", "doc_id", "rank"),
      Seq((2L, 10L)).toDF("query_id", "doc_id"), k = 3).collect().head
    assert(none.getLong(2) == 0L && none.getLong(4) == 0L &&
      none.getLong(5) == 0L && none.getLong(6) == 0L)
  }

  test("retrievalMetrics: truth-absent-from-results queries emit " +
    "all-zero rows; graded NDCG is exact (round 15)") {
    val s = spark
    import s.implicits._
    // query 3 exists ONLY in truth (zero results) — r14 advice: it
    // must still emit a row with every metric 0, or a harness
    // averaging the table overstates recall
    val sys = Seq((1L, 10L, 1L)).toDF("query_id", "doc_id", "rank")
    val truth = Seq((1L, 10L), (3L, 10L)).toDF("query_id", "doc_id")
    val rows = Knn.retrievalMetrics(sys, truth, k = 3)
      .orderBy("query_id").collect()
    assert(rows.length == 2, s"expected a row per truth query: ${rows.toSeq}")
    val zero = rows(1)
    assert(zero.getLong(0) == 3L && zero.getLong(1) == 1L &&
      (2 to 6).forall(i => zero.getLong(i) == 0L),
      s"zero-results row wrong: $zero")
    // graded: truth {10 g=3, 20 g=1}; system ranks 20 then 10 —
    // dcg = 1·w1 + 3·w2, idcg = 3·w1 + 1·w2 (grades sorted desc)
    val gsys = Seq((1L, 20L, 1L), (1L, 10L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val gtruth = Seq((1L, 10L, 3L), (1L, 20L, 1L))
      .toDF("query_id", "doc_id", "grade")
    val g = Knn.retrievalMetrics(gsys, gtruth, k = 3).collect().head
    assert(g.getLong(6) == 796707L, s"graded ndcg=${g.getLong(6)}")
    // ideal-ranked system scores exactly 1e6
    val perfect = Seq((1L, 10L, 1L), (1L, 20L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val p = Knn.retrievalMetrics(perfect, gtruth, k = 3).collect().head
    assert(p.getLong(6) == 1000000L, s"perfect graded ndcg=${p.getLong(6)}")
  }

  test("filtered coded probe (PQ path): pred holds pre-shortlist, " +
    "always-true pred equals the plain search") {
    val s = spark
    import s.implicits._
    def vec(i: Long): Array[Float] =
      Array.tabulate(8)(d => (((i * 29 + d * 13) % 89).toFloat - 44f) / 44f)
    val corpus = (1L to 40L).map(i => (i, vec(i), (i % 3).toInt))
      .toDF("vec_id", "embedding", "grp")
    val path = tmpDir("ivfpq_fil")
    Pq.writeIvfPqIndex(corpus, "vec_id", "embedding", path,
      c = 4, m = 2, k = 8, dim = 8, keep = Seq("grp"))
    val q = Seq((900L, vec(7L))).toDF("vec_id", "embedding")
    val filt = Pq.searchIvfPq(spark, path, q, "vec_id", "embedding",
      k = 5, nprobe = 4, shortlist = 20, pred = Some(col("grp") === 1))
      .collect().map(_.getLong(1))
    assert(filt.nonEmpty && filt.forall(_ % 3 == 1),
      s"pred violated: ${filt.mkString(",")}")
    val all = Pq.searchIvfPq(spark, path, q, "vec_id", "embedding",
        k = 5, nprobe = 4, shortlist = 20, pred = Some(lit(true)))
      .collect().map(_.toString).sorted.toSeq
    val plain = Pq.searchIvfPq(spark, path, q, "vec_id", "embedding",
        k = 5, nprobe = 4, shortlist = 20)
      .collect().map(_.toString).sorted.toSeq
    assert(all == plain, "always-true pred diverged from plain search")
  }

  test("appendIvfRqIndex encodes through the STORED books; appended ids searchable") {
    val s = spark
    import s.implicits._
    // 40 deterministic 8-dim vectors so the bottom-32-md5 book sample
    // is well-populated; split 30 build / 10 append
    def vec(i: Long): Array[Float] =
      Array.tabulate(8)(d => (((i * 31 + d * 17) % 97).toFloat - 48f) / 48f)
    val all = (1L to 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val build = all.where(col("vec_id") <= 30)
    val batch = all.where(col("vec_id") > 30)
    val path = tmpDir("ivfrq_app")
    Pq.writeIvfRqIndex(build, "vec_id", "embedding", path,
      c = 4, m = 2, k = 8, dim = 8, portableHash = true)
    val (b1, b2) = Pq.loadResidualCodebooks(spark, path)
    Pq.appendIvfRqIndex(batch, "vec_id", "embedding", path)
    val stored = spark.read.parquet(s"$path/cells")
      .where(col("id") > 30)
      .select(col("id"), col("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(stored.keySet == (31L to 40L).toSet, "all appended ids present")
    // appended codes must equal a fresh encode through the STORED books
    val direct = Pq.encodeResidual(batch, "vec_id", "embedding", b1, b2)
      .select(col("id"), col("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(stored == direct, "append must encode through the stored books")
    // and the probe path sees them: query an appended vector, nprobe=all
    val q = Seq((1000L, vec(35L))).toDF("vec_id", "embedding")
    val hit = Pq.searchIvfRq(spark, path, q, "vec_id", "embedding",
      k = 1, nprobe = 4, shortlist = 10).collect()
    assert(hit.head.getLong(1) == 35L && hit.head.getDouble(2) == 1.0)
  }
}
