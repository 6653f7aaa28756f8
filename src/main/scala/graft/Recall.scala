package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Knn, Pq}

/** Retrieval-quality artifact main (round-9 verdict ask #4; CURVES and
  * the clustered equal-budget comparison added round 11, r10 verdict
  * asks #1/#2): recall@k of every PRODUCTION-hash (xxhash /
  * seeded-gaussian) ANN index against brute force, plus LSH
  * candidate-pair recall at τ, at a fixed scale factor with fixed
  * seeds — committed per round as RECALL_r{N}.json so
  * retrieval-quality regressions are as visible as speed regressions
  * (BENCH) and value regressions (CORRECTNESS).
  *
  * Beyond the per-index POINTS (kept bit-comparable round over
  * round), the artifact now carries TRADEOFF CURVES — recall vs
  * nprobe for IVF, recall vs (layers, beam, hops) for the graph
  * family — each point tagged with its measured CANDIDATES SCORED per
  * query (the probe budget), so "which index at which knob" is
  * answerable from the artifact. Because the driver's testdata
  * embeddings are near-uniform (recall there is bounded by probe
  * coverage, not index quality), the graph-vs-IVF adjudication runs
  * on the seeded CLUSTERED corpus (the RecallSpec fixture, the shape
  * ANN indexes are built for): the `clustered.equal_budget` block
  * picks the best graph operating point whose budget does not exceed
  * IVF's nprobe=4 budget and records whether it meets or beats IVF.
  *
  * Deterministic end-to-end: the corpus is the driver's parquet (or
  * the seeded fixture), index builds hash with xxhash64 over fixed
  * ids, LSH hyperplanes are seed-pinned, and every ranking breaks
  * ties on neighbor id — two runs on the same testdata emit identical
  * JSON (modulo the timestamp). Emits ONE JSON line and mirrors it to
  * `RECALL_LOCAL.json` in the working directory.
  */
object Recall {

  private def r4(x: Double): Double = math.round(x * 10000) / 10000.0

  private def truthFor(corpus: DataFrame, queries: DataFrame,
                       k: Int): Map[Long, Set[Long]] =
    Knn.bruteForce(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap

  private def recallOf(truth: Map[Long, Set[Long]],
                       hits: DataFrame): Double = {
    val got = hits.select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val per = truth.map { case (q, ts) =>
      got.getOrElse(q, Set.empty).intersect(ts).size.toDouble / ts.size
    }
    if (per.isEmpty) 0.0 else per.sum / per.size
  }

  /** Run `build`, returning (recall, avg candidates scored per query)
    * via the Knn.lastScored counter. */
  private def measured(truth: Map[Long, Set[Long]], nQ: Long)
                      (build: => DataFrame): (Double, Double) = {
    Knn.lastScored.reset()
    val r = recallOf(truth, build)
    (r, Knn.lastScored.sum().toDouble / nQ)
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"recall_$tag").toString

  /** The RecallSpec clustered fixture, verbatim (8 well-separated
    * gaussian clusters × 50 members, dim 16, seed 23). */
  private def clusteredCorpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    (0L until 400L).map { i =>
      val c = (i % 8).toInt
      val v = Array.fill(16)(0.35f * rnd.nextGaussian().toFloat)
      v(c) += 4.0f
      v(c + 8) += 2.0f
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.local(cpus)
    Knn.countCandidates = true

    val k = 10
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.where(col("vec_id") % 100 === 0)
    val nQ = queries.count()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val truth = truthFor(emb, queries, k)

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // ---- per-index POINTS (round-comparable; same knobs as r9/r10) --

    // IVF (in-memory probe — the searchIvf candidate set is identical)
    results("ivf") = recallOf(truth, Knn.ivf(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, c = 16, nprobe = 4))

    // persisted ADC ladder: PQ (32x), RQ (16x), SQ8 (4x)
    locally {
      val d = tmp("ivfpq")
      Pq.writeIvfPqIndex(emb, "vec_id", "embedding", d, c = 16, m = 8,
        k = 16, dim = dim)
      results("ivfpq") = recallOf(truth, Pq.searchIvfPq(spark, d, queries,
        "vec_id", "embedding", k, nprobe = 4, shortlist = 50))
    }
    locally {
      val d = tmp("ivfrq")
      Pq.writeIvfRqIndex(emb, "vec_id", "embedding", d, c = 16, m = 8,
        k = 16, dim = dim)
      results("ivfrq") = recallOf(truth, Pq.searchIvfRq(spark, d, queries,
        "vec_id", "embedding", k, nprobe = 4, shortlist = 50))
    }
    locally {
      val d = tmp("ivfsq8")
      Pq.writeIvfSq8Index(emb, "vec_id", "embedding", d, c = 16, dim = dim)
      results("ivfsq8") = recallOf(truth, Pq.searchIvfSq8(spark, d, queries,
        "vec_id", "embedding", k, nprobe = 4, shortlist = 50))
    }

    // binary quantization: the raw Hamming first stage, NO re-rank —
    // the honest recall of the 32x-compressed filter itself
    locally {
      val (mins, maxs) = Pq.sq8Train(emb, "embedding", dim)
      val th = Pq.bqThresholds(mins, maxs)
      val enc = Pq.bqEncode(emb, "vec_id", "embedding", th)
      results("bq_hamming") = recallOf(truth, Pq.searchBq(enc, queries,
        "vec_id", "embedding", th, k))
      results("bq_reranked") = recallOf(truth, Pq.searchBqReranked(enc,
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", th,
        k, shortlist = 50))
    }

    // ---- FIRST-STAGE vs RE-RANKED recall per quantized family
    // (round 12, r11 verdict ask #5): first_stage = the top-k SET by
    // the quantized score alone (shortlist = k — what the compressed
    // code can rank); reranked = exact-cosine re-rank over the
    // 50-candidate shortlist (the production posture; same probed
    // cells, so the scan budget is identical — the shortlist depth is
    // the only knob). The gap IS the price of ranking by codes.
    val rerank = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    locally {
      val d = tmp("rr_pq")
      Pq.writeIvfPqIndex(emb, "vec_id", "embedding", d, c = 16, m = 8,
        k = 16, dim = dim)
      rerank("ivfpq") = (
        recallOf(truth, Pq.searchIvfPq(spark, d, queries,
          "vec_id", "embedding", k, nprobe = 4, shortlist = k)),
        recallOf(truth, Pq.searchIvfPq(spark, d, queries,
          "vec_id", "embedding", k, nprobe = 4, shortlist = 50)))
      val dr = tmp("rr_rq")
      Pq.writeIvfRqIndex(emb, "vec_id", "embedding", dr, c = 16, m = 8,
        k = 16, dim = dim)
      rerank("ivfrq") = (
        recallOf(truth, Pq.searchIvfRq(spark, dr, queries,
          "vec_id", "embedding", k, nprobe = 4, shortlist = k)),
        recallOf(truth, Pq.searchIvfRq(spark, dr, queries,
          "vec_id", "embedding", k, nprobe = 4, shortlist = 50)))
      val ds = tmp("rr_sq8")
      Pq.writeIvfSq8Index(emb, "vec_id", "embedding", ds, c = 16, dim = dim)
      rerank("ivfsq8") = (
        recallOf(truth, Pq.searchIvfSq8(spark, ds, queries,
          "vec_id", "embedding", k, nprobe = 4, shortlist = k)),
        recallOf(truth, Pq.searchIvfSq8(spark, ds, queries,
          "vec_id", "embedding", k, nprobe = 4, shortlist = 50)))
      rerank("bq") = (results("bq_hamming"), results("bq_reranked"))
    }

    // ---- graph stores (single-layer r10 point + layered r11 point,
    // then the tradeoff grids over BOTH stores) ----------------------
    val beamGrid = Seq((4, 2), (8, 2), (12, 2), (8, 4), (12, 4), (16, 4))
    def graphCurve(store: String, layers: Int): Seq[String] =
      beamGrid.map { case (b, h) =>
        val (r, cand) = measured(truth, nQ)(
          Knn.searchGraphIndex(spark, store, queries,
            "vec_id", "embedding", beam = b, hops = h, k = k))
        graft.plans.Blocks.releaseAll(spark)
        s"""{"layers":$layers,"beam":$b,"hops":$h,""" +
          s""""cand_per_q":${math.round(cand)},"recall":${r4(r)}}"""
      }
    val d0 = tmp("graph")
    Knn.writeGraphIndex(emb, "vec_id", "embedding", d0, k = 8, c = 16,
      nprobe = 2, buckets = 32)
    results("graph") = recallOf(truth, Knn.searchGraphIndex(spark, d0,
      queries, "vec_id", "embedding", beam = 12, hops = 4, k = k))
    graft.plans.Blocks.releaseAll(spark)
    val d2 = tmp("hnsw")
    Knn.writeGraphIndex(emb, "vec_id", "embedding", d2, k = 8, c = 16,
      nprobe = 2, buckets = 32, layers = 2)
    results("graph_hnsw") = recallOf(truth, Knn.searchGraphIndex(spark, d2,
      queries, "vec_id", "embedding", beam = 12, hops = 4, k = k))
    graft.plans.Blocks.releaseAll(spark)
    // high-quality BUILD (round-11 knob sweep: edge quality, not
    // search budget, was the uniform-regime ceiling — k=16 edges from
    // nprobe=4 probes lift beam=12/hops=2 recall 0.475 → 0.755):
    // build cost is a one-time index decision, so it gets its own
    // curve and competes in the equal-budget block at its MEASURED
    // search budget
    val dq = tmp("hnsw_hq")
    Knn.writeGraphIndex(emb, "vec_id", "embedding", dq, k = 16, c = 16,
      nprobe = 4, buckets = 32, layers = 2)
    results("graph_hnsw_hq") = recallOf(truth, Knn.searchGraphIndex(spark,
      dq, queries, "vec_id", "embedding", beam = 12, hops = 2, k = k))
    graft.plans.Blocks.releaseAll(spark)
    // α-RNG DIVERSIFIED edges (round 12): k=8 edges selected from the
    // hq build's candidate pool (nprobe=4, kCand=16) — SAME build cost
    // as graph_hnsw_hq, HALF the edges per node, so every hop scores
    // half the candidates. Measured: dominates the low/mid budget
    // range (0.57 @ 498 cand/q vs hq ~0.48 interpolated and IVF
    // nprobe=4's 0.455 at the same budget) while hq's full k=16 edge
    // set keeps the high-budget ceiling (0.755 @ 860) — recall per
    // candidate is what diversification buys.
    val dv = tmp("hnsw_div")
    Knn.writeGraphIndex(emb, "vec_id", "embedding", dv, k = 8, c = 16,
      nprobe = 4, buckets = 32, layers = 2, alpha = 1.0, kCand = 16)
    results("graph_hnsw_div") = recallOf(truth, Knn.searchGraphIndex(spark,
      dv, queries, "vec_id", "embedding", beam = 12, hops = 2, k = k))
    graft.plans.Blocks.releaseAll(spark)
    // α=1.15 DIVERSIFIED build (round 13, r12 verdict ask #6): the
    // SAME k=8 edges / kCand=16 / nprobe=4 build as graph_hnsw_div —
    // identical probe cost, identical edge memory — with the DiskANN
    // RobustPrune relaxation (α > 1 prunes e only when r is MUCH
    // closer, keeping a few longer detour edges). The round-13 sweep
    // (SWEEP_DIV_r13.json) measured it at or above α=1.0 at every
    // operating point; at the high-budget end it crosses IVF
    // nprobe=8's 0.70 @ 992 INSIDE the budget (0.705 @ ~925,
    // beam=16/hops=3) — the uniform high-budget ceiling ask.
    val dv2 = tmp("hnsw_div115")
    Knn.writeGraphIndex(emb, "vec_id", "embedding", dv2, k = 8, c = 16,
      nprobe = 4, buckets = 32, layers = 2, alpha = 1.15, kCand = 16)
    results("graph_hnsw_div115") = recallOf(truth, Knn.searchGraphIndex(
      spark, dv2, queries, "vec_id", "embedding", beam = 12, hops = 2,
      k = k))
    graft.plans.Blocks.releaseAll(spark)
    // CODED walk recall, gaussian vs DATA-TRAINED books (round 13,
    // r12 verdict ask #4): same store (the k=8 layered build), same
    // walk params as the graph_hnsw point — the delta is purely the
    // codebook distribution the ADC hops navigate on. Data books =
    // Pq.trainCodebooks's bottom-16-md5 sample (the q75/q340-gate
    // convention). The exact-walk point (graph_hnsw) is the ceiling
    // the coded walk approximates.
    locally {
      val gb = graft.entry.EntryHelpers.pqBooks(m = 8, k = 16,
        subDim = 8, seed = 13L)
      Knn.writeGraphCodes(spark, d2, gb)
      results("graph_adc_gaussian") = recallOf(truth,
        Knn.searchGraphIndexAdc(spark, d2, gb, queries,
          "vec_id", "embedding", beam = 12, hops = 4, k = k))
      graft.plans.Blocks.releaseAll(spark)
      val tb = Pq.trainCodebooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dim = dim)
      Knn.writeGraphCodes(spark, d2, tb)
      results("graph_adc_trained") = recallOf(truth,
        Knn.searchGraphIndexAdc(spark, d2, tb, queries,
          "vec_id", "embedding", beam = 12, hops = 4, k = k))
      graft.plans.Blocks.releaseAll(spark)
      // the ADC walk's knob is BEAM WIDTH, not hops: only the final
      // beam gets the exact re-rank, so at beam ≈ k the answer is
      // hostage to code-ranking precision (8-byte codes cannot
      // separate near-uniform dim-64 cosines). The DiskANN operating
      // point is L ≫ k — at beam=96 the coded walk matches the exact
      // walk's beam=12 recall (0.54 vs 0.55 measured r13) while each
      // hop still reads m = 8 bytes/candidate instead of 256: the 32×
      // I/O trade bought back with an 8× wider beam.
      results("graph_adc_trained_b48") = recallOf(truth,
        Knn.searchGraphIndexAdc(spark, d2, tb, queries,
          "vec_id", "embedding", beam = 48, hops = 3, k = k))
      graft.plans.Blocks.releaseAll(spark)
      results("graph_adc_trained_b96") = recallOf(truth,
        Knn.searchGraphIndexAdc(spark, d2, tb, queries,
          "vec_id", "embedding", beam = 96, hops = 3, k = k))
      graft.plans.Blocks.releaseAll(spark)
    }

    def ivfCurve(corpus: DataFrame, qs: DataFrame, nq: Long,
                 tr: Map[Long, Set[Long]]): Seq[String] =
      Seq(1, 2, 4, 8).map { np =>
        val (r, cand) = measured(tr, nq)(
          Knn.ivf(corpus, "vec_id", "embedding", qs,
            "vec_id", "embedding", k, c = 16, nprobe = np))
        s"""{"nprobe":$np,"cand_per_q":${math.round(cand)},""" +
          s""""recall":${r4(r)}}"""
      }
    val curveIvf = ivfCurve(emb, queries, nQ, truth)
    val curveGraph = graphCurve(d0, 0)
    val curveHnsw = graphCurve(d2, 2)
    val curveHnswHq = graphCurve(dq, 2)
    val curveHnswDiv = graphCurve(dv, 2)
    // the α=1.15 store's curve runs the HIGH-BUDGET grid (the sweep's
    // winning shapes) — the budget range where this store is the
    // answer; the low/mid range is graph_hnsw_div's
    val hbGrid = Seq((12, 2), (16, 2), (20, 2), (16, 3), (12, 4))
    val curveHnswDiv115 = hbGrid.map { case (b, h) =>
      val (r, cand) = measured(truth, nQ)(
        Knn.searchGraphIndex(spark, dv2, queries,
          "vec_id", "embedding", beam = b, hops = h, k = k))
      graft.plans.Blocks.releaseAll(spark)
      s"""{"layers":2,"beam":$b,"hops":$h,""" +
        s""""cand_per_q":${math.round(cand)},"recall":${r4(r)}}"""
    }

    // equal-budget adjudication on the NEAR-UNIFORM testdata — the
    // regime where cells do not align with query neighborhoods (the
    // 100 TB shape: cells are always far coarser than top-k
    // neighborhoods at scale), so the index families actually
    // differentiate. Reference = IVF's standard nprobe=4 point; the
    // graph competes with its best point at no greater measured
    // budget.
    val uIvf4 = {
      val (r, cand) = measured(truth, nQ)(
        Knn.ivf(emb, "vec_id", "embedding", queries,
          "vec_id", "embedding", k, c = 16, nprobe = 4))
      (math.round(cand), r4(r))
    }
    val uHnsw = Seq(d2, dq, dv).flatMap { store =>
      beamGrid.map { case (b, h) =>
        val (r, cand) = measured(truth, nQ)(
          Knn.searchGraphIndex(spark, store, queries,
            "vec_id", "embedding", beam = b, hops = h, k = k))
        graft.plans.Blocks.releaseAll(spark)
        (b, h, math.round(cand), r4(r))
      }
    }
    val uWithin = uHnsw.filter(_._3 <= uIvf4._1)
    val uBest =
      if (uWithin.nonEmpty) uWithin.maxBy(p => (p._4, -p._3))
      else uHnsw.minBy(_._3)
    val uniformBudget =
      s"""{"ivf":{"nprobe":4,"cand_per_q":${uIvf4._1},""" +
      s""""recall":${uIvf4._2}},""" +
      s""""graph":{"layers":2,"beam":${uBest._1},"hops":${uBest._2},""" +
      s""""cand_per_q":${uBest._3},"recall":${uBest._4}},""" +
      s""""graph_ge_ivf":${uBest._4 >= uIvf4._2}}"""
    // HIGH-budget adjudication (round 13, r12 verdict ask #6): IVF's
    // nprobe=8 point (≈ half the corpus scanned) vs the best
    // diversified point — α=1.0 and α=1.15 stores, the high-budget
    // grid — whose measured budget does not exceed it. Build cost is
    // identical across the two diversified stores (k=8 edges selected
    // from the same kCand=16 / nprobe=4 pool).
    val uIvf8 = {
      val (r, cand) = measured(truth, nQ)(
        Knn.ivf(emb, "vec_id", "embedding", queries,
          "vec_id", "embedding", k, c = 16, nprobe = 8))
      (math.round(cand), r4(r))
    }
    val uHb = Seq(("1.0", dv), ("1.15", dv2)).flatMap { case (a, store) =>
      hbGrid.map { case (b, h) =>
        val (r, cand) = measured(truth, nQ)(
          Knn.searchGraphIndex(spark, store, queries,
            "vec_id", "embedding", beam = b, hops = h, k = k))
        graft.plans.Blocks.releaseAll(spark)
        (a, b, h, math.round(cand), r4(r))
      }
    }
    val uHbWithin = uHb.filter(_._4 <= uIvf8._1)
    val uHbBest =
      if (uHbWithin.nonEmpty) uHbWithin.maxBy(p => (p._5, -p._4))
      else uHb.minBy(_._4)
    val uniformHighBudget =
      s"""{"ivf":{"nprobe":8,"cand_per_q":${uIvf8._1},""" +
      s""""recall":${uIvf8._2}},""" +
      s""""graph":{"layers":2,"k":8,"alpha":${uHbBest._1},""" +
      s""""beam":${uHbBest._2},"hops":${uHbBest._3},""" +
      s""""cand_per_q":${uHbBest._4},"recall":${uHbBest._5}},""" +
      s""""graph_ge_ivf":${uHbBest._5 >= uIvf8._2}}"""

    // ---- clustered corpus: the equal-budget adjudication -----------
    // plain LocalTableScan — must NOT be checkpointed: the per-point
    // Blocks.releaseAll would free it mid-grid
    val cl = clusteredCorpus(spark)
    val clQ = cl.where(col("vec_id") % 20 === 3)
    val clNq = clQ.count()
    val clTruth = truthFor(cl, clQ, k)
    val clIvf = Seq(1, 2, 4, 8).map { np =>
      val (r, cand) = measured(clTruth, clNq)(
        Knn.ivf(cl, "vec_id", "embedding", clQ,
          "vec_id", "embedding", k, c = 16, nprobe = np))
      (np, math.round(cand), r4(r))
    }
    val dc = tmp("cl_hnsw")
    Knn.writeGraphIndex(cl, "vec_id", "embedding", dc, k = 8, c = 16,
      nprobe = 2, buckets = 16, layers = 2)
    val clGraph = beamGrid.map { case (b, h) =>
      val (r, cand) = measured(clTruth, clNq)(
        Knn.searchGraphIndex(spark, dc, clQ,
          "vec_id", "embedding", beam = b, hops = h, k = k))
      graft.plans.Blocks.releaseAll(spark)
      (b, h, math.round(cand), r4(r))
    }
    // BUDGET-FIT diversified store (round 12): the r11 block's 0.32
    // was the fallback point — every swept graph point cost MORE than
    // IVF's aligned-regime budget (seeds + beam×k expansion at k=8,
    // layers=2), so the adjudication fell back to the cheapest
    // over-budget point. Operating points that FIT the budget need
    // the per-hop volume down: α-RNG-diversified k=4 edges (each edge
    // worth more, half the expansion), c=8 entry seeds, flat store,
    // beam ≥ k with 2-3 hops.
    val dcb = tmp("cl_div_fit")
    Knn.writeGraphIndex(cl, "vec_id", "embedding", dcb, k = 4, c = 8,
      nprobe = 2, buckets = 16, alpha = 1.0, kCand = 16)
    val fitGrid = Seq((10, 2), (12, 2), (8, 3), (10, 3), (12, 3))
    val clFit = fitGrid.map { case (b, h) =>
      val (r, cand) = measured(clTruth, clNq)(
        Knn.searchGraphIndex(spark, dcb, clQ,
          "vec_id", "embedding", beam = b, hops = h, k = k))
      graft.plans.Blocks.releaseAll(spark)
      (b, h, math.round(cand), r4(r))
    }
    // equal budget: IVF's standard operating point (nprobe=4) vs the
    // best graph point — across BOTH stores — whose measured budget
    // does not exceed it
    val ivf4 = clIvf.find(_._1 == 4).get
    val allCl = clGraph.map(p => (2, 8, p)) ++ clFit.map(p => (0, 4, p))
    val within = allCl.filter(_._3._3 <= ivf4._2)
    val (bl, bk, best) =
      if (within.nonEmpty) within.maxBy(p => (p._3._4, -p._3._3))
      else allCl.minBy(_._3._3)
    val clIvfJson = clIvf.map { case (np, c, r) =>
      s"""{"nprobe":$np,"cand_per_q":$c,"recall":$r}""" }
    val clGraphJson = clGraph.map { case (b, h, c, r) =>
      s"""{"layers":2,"beam":$b,"hops":$h,"cand_per_q":$c,"recall":$r}""" }
    val clFitJson = clFit.map { case (b, h, c, r) =>
      s"""{"layers":0,"k":4,"alpha":1.0,"beam":$b,"hops":$h,""" +
      s""""cand_per_q":$c,"recall":$r}""" }
    val equalBudget =
      s"""{"ivf":{"nprobe":4,"cand_per_q":${ivf4._2},"recall":${ivf4._3}},""" +
      s""""graph":{"layers":$bl,"k":$bk,"beam":${best._1},"hops":${best._2},""" +
      s""""cand_per_q":${best._3},"recall":${best._4}},""" +
      s""""graph_ge_ivf":${best._4 >= ivf4._3},""" +
      s""""note":"c=16 cells align 2:1 with the fixture's 8 clusters,""" +
      s""" so IVF reads exactly the right cluster and is near-exact at""" +
      s""" cell-size budget - the cell-aligned regime; the uniform""" +
      s""" testdata block measures the non-aligned regime. r12: the""" +
      s""" budget-fit diversified store (k=4 alpha-RNG edges, c=8""" +
      s""" seeds, flat) brings within-budget recall from the r11""" +
      s""" fallback 0.32 to the graph point reported here"}"""

    // ---- LSH candidate-pair recall at tau = 0.45 (unchanged) -------
    val tau = 0.45
    val lshPlanes = 4
    val lshTables = 8
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val truePairs = a.join(b, col("id_a") < col("id_b"))
      .where(graft.functions.Vectors.cosine(col("va"), col("vb")) >= tau)
      .count()
    val foundPairs = Dedup.embeddingPairs(emb, "vec_id", "embedding",
      tau = tau, planes = lshPlanes, dim = dim, seed = 7L,
      tables = lshTables).count()
    val lshRecall = if (truePairs == 0) 1.0
      else foundPairs.toDouble / truePairs
    // LSH tradeoff curve (round 11 — the last family still at one
    // point): pair recall across the (planes, tables) amplification
    // grid. Fewer planes per table = wider buckets (recall ↑, candidate
    // volume ↑); more tables = more OR-amplification at linear hash
    // cost. Collision prob per table is (1 − θ/π)^planes, so the grid
    // IS the S-curve, measured.
    val lshCurve = Seq((2, 8), (4, 4), (4, 8), (4, 16), (6, 8)).map {
      case (p, t) =>
        val f = Dedup.embeddingPairs(emb, "vec_id", "embedding",
          tau = tau, planes = p, dim = dim, seed = 7L, tables = t).count()
        val r = if (truePairs == 0) 1.0 else f.toDouble / truePairs
        s"""{"planes":$p,"tables":$t,"found_pairs":$f,""" +
          s""""pair_recall":${r4(r)}}"""
    }
    // MULTI-PROBE curve (round 12, r11 verdict ask #4): recall bought
    // with probe rows instead of whole tables. bucket_rows_per_point =
    // tables × (probes + 1) — the memory/shuffle budget to compare
    // against the plain curve's tables × 1 (plain 4×8 = 8 rows/point).
    val lshMp = Seq((4, 2, 1), (4, 2, 2), (4, 4, 1), (4, 4, 2)).map {
      case (p, t, pr) =>
        val f = Dedup.embeddingPairsMultiProbe(emb, "vec_id", "embedding",
          tau = tau, planes = p, dim = dim, seed = 7L, tables = t,
          probes = pr).count()
        val r = if (truePairs == 0) 1.0 else f.toDouble / truePairs
        s"""{"planes":$p,"tables":$t,"probes":$pr,""" +
          s""""bucket_rows_per_point":${t * (pr + 1)},"found_pairs":$f,""" +
          s""""pair_recall":${r4(r)}}"""
    }

    val recallJson = results
      .map { case (n, r) => s"\"" + n + "\":" + r4(r) }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"recall_at_$k","sf":"$sfDir","k":$k,""" +
      s""""n_queries":${truth.size},"dim":$dim,"recall":$recallJson,""" +
      s""""curves":{"ivf":${curveIvf.mkString("[", ",", "]")},""" +
      s""""graph":${curveGraph.mkString("[", ",", "]")},""" +
      s""""graph_hnsw":${curveHnsw.mkString("[", ",", "]")},""" +
      s""""graph_hnsw_hq":${curveHnswHq.mkString("[", ",", "]")},""" +
      s""""graph_hnsw_div":${curveHnswDiv.mkString("[", ",", "]")},""" +
      s""""graph_hnsw_div115":${curveHnswDiv115.mkString("[", ",", "]")}},""" +
      s""""rerank":${rerank.map { case (n, (f, r)) =>
        s"\"$n\":{\"first_stage\":${r4(f)},\"reranked\":${r4(r)},\"shortlist\":50}"
      }.mkString("{", ",", "}")},""" +
      s""""equal_budget":$uniformBudget,""" +
      s""""equal_budget_high":$uniformHighBudget,""" +
      s""""clustered":{"n":400,"dim":16,"n_queries":${clTruth.size},""" +
      s""""ivf":${clIvfJson.mkString("[", ",", "]")},""" +
      s""""graph_hnsw":${clGraphJson.mkString("[", ",", "]")},""" +
      s""""graph_div_fit":${clFitJson.mkString("[", ",", "]")},""" +
      s""""equal_budget":$equalBudget},""" +
      s""""lsh":{"tau":$tau,"planes":$lshPlanes,"tables":$lshTables,""" +
      s""""true_pairs":$truePairs,"found_pairs":$foundPairs,""" +
      s""""pair_recall":${r4(lshRecall)},""" +
      s""""curve":${lshCurve.mkString("[", ",", "]")},""" +
      s""""multiprobe":${lshMp.mkString("[", ",", "]")}},""" +
      s""""timestamp":"${java.time.Instant.now()}"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("RECALL_LOCAL.json"), json)
    catch { case e: Throwable =>
      System.err.println(s"[recall] artifact write failed: ${e.getMessage}")
    }
    println(json)
    spark.stop()
  }
}
