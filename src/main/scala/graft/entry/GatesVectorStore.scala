package graft
package entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Ffiec, Text, Vectors}
import graft.operators.{CombineParts, Dedup, Graph, KeyChecks, Knn, LongPivot, Pq, Sampling, TextAnalytics}
import graft.sources.{Scan, XbrlZip}
import graft.streaming.Sessions

import graft.entry.EntryHelpers._

/** Gate registry, coded / persisted vector stores (SQ8 + binary
  * ADC, the IVF+SQ8 on-disk lifecycle incl. filtered and
  * delete/compact paths, graph store search and index dumps,
  * embedding-store semantic probes and centroid drift) — moved
  * verbatim out of GatesDedup at round 15 (registry growth watch;
  * zero behavior change, every entry byte-identical at split time).
  * SparkEntry concatenates the family maps back into the driver
  * contract.
  */
private[graft] object GatesVectorStore {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

// The EMBEDDING-store maintenance lifecycle under the gate — q97's
    // posture at the semantic layer: build the IVF-backed store from
    // the even embeddings, DELETE a slice (tombstones filter the cells
    // scan BEFORE top-k ranking — post-ranking masking would let the
    // deleted doc eat the k=1 slot and hide a live near-dup), COMPACT
    // (cells rewritten minus tombstones, pruning layout preserved),
    // then probe the odd embeddings against the surviving history.
    "q113_store_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files.createTempDirectory("graft_emb_life").toString
      Knn.writeIvfIndex(
        emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", tmp,
        c = 16, portableHash = true)
      Knn.deleteFromIvfIndex(
        emb.where(col("vec_id") % 4 === 0).select("vec_id"), "vec_id", tmp)
      Knn.compactIvfStore(s, tmp)
      graft.operators.EmbeddingStore.probe(s, tmp,
        emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding",
        tau = 0.3, nprobe = 4)
        .orderBy("id_new")
    }),

// Centroid-drift metric under the gate: centroids frozen on the
    // even half, the odd half APPENDED against them, drift reported in
    // exact integer micro-units (per-row round at 1e-6, integer DIV
    // means) — the number a rebuild scheduler compares across runs, so
    // it must be bit-stable across engines.
    "q114_centroid_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files.createTempDirectory("graft_emb_drift").toString
      Knn.writeIvfIndex(
        emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", tmp,
        c = 16, portableHash = true)
      Knn.appendIvfIndex(
        emb.where(col("vec_id") % 2 === 1), "vec_id", "embedding", tmp)
      graft.operators.EmbeddingStore.drift(s, tmp)
    }),

// Scalar quantization end-to-end: per-dim min/max train (an exact,
    // order-insensitive aggregate — the oracle RECOMPUTES it in SQL,
    // no driver literals), uint8 encode, asymmetric dequantized-dot
    // search. Every float step is an ordered fold, replayed
    // step-for-step by the oracle.
    "q84_sq8_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (mins, maxs) = Pq.sq8Train(emb, "embedding", 64)
      val enc = Pq.sq8Encode(emb, "vec_id", "embedding", mins, maxs)
      Pq.searchSq8(enc, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", mins, maxs, k = 5)
        .orderBy("query_id", "rank")
    }),

// Binary quantization end-to-end (round 9 — the 32× endpoint of
    // the float→SQ8→PQ/RQ→BQ family): per-dim midpoint thresholds
    // from the exact min/max aggregate (oracle recomputes in SQL),
    // sign-bit packing into 63-bit-portable words, symmetric Hamming
    // top-k. Distances are pure INTEGER popcounts — no float fold at
    // all, the only quantizer whose search replays bit-exactly by
    // construction.
    "q300_bq_hamming" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (mins, maxs) = Pq.sq8Train(emb, "embedding", 64)
      val th = Pq.bqThresholds(mins, maxs)
      val enc = Pq.bqEncode(emb, "vec_id", "embedding", th)
      Pq.searchBq(enc, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", th, k = 5)
        .orderBy("query_id", "rank")
    }),

// Graph beam search (NSW single-layer, Malkov & Yashunin 2018):
    // the q65 kNN graph navigated from the deterministic min-id
    // entry, 2 hops × beam 4 → top 3 — the ANN family's graph-walk
    // member; every hop unrolled as an oracle CTE.
    "q325_graph_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val g = Knn.knnGraph(emb, "vec_id", "embedding", k = 3, c = 16,
        nprobe = 2, portableHash = true)
      Knn.searchGraph(g, emb, "vec_id", "embedding",
        emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding",
        beam = 4, hops = 2, k = 3)
        .orderBy("query_id", "rank")
    }),

// The persisted kNN-graph lifecycle (round 10 — the last index
    // family to gain a build-once/probe-many store): graph over the
    // base 90%, written bucketed; the held-out 10% NSW-inserted (each
    // new node beam-searches the pre-append graph for its k out-
    // neighbors, reverse links added, touched sources re-trimmed to
    // k); then a multi-seed beam search over the appended store. The
    // oracle replays build, insert beam, re-trim, entry maintenance,
    // and search beam as one CTE chain.
    "q326_graph_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_graphidx_gate").toString
      Knn.writeGraphIndex(emb.where(col("vec_id") % 10 =!= 7),
        "vec_id", "embedding", tmp, k = 3, c = 16, nprobe = 2,
        buckets = 8, portableHash = true)
      Knn.appendGraphIndex(emb.where(col("vec_id") % 10 === 7),
        "vec_id", "embedding", tmp, beam = 4, hops = 2)
      Knn.searchGraphIndex(s, tmp, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", beam = 4, hops = 2, k = 3)
        .orderBy("query_id", "rank")
    }),

    // GRAPH store maintenance dashboard (round 15, r14 verdict ask
    // #4 — q358's graph twin, completing the stats side of the
    // policy matrix): per (layer, bucket) — member count, out-edge
    // count, tombstone backlog. The oracle replays the bucket
    // assignment (id % buckets), the k-NN edge build (q347's CTE
    // chain) and the delete residue tally.
    "q361_graph_store_stats" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_gstat_gate").toString
      Knn.writeGraphIndex(emb, "vec_id", "embedding", tmp, k = 3,
        c = 16, nprobe = 2, buckets = 8, portableHash = true)
      Knn.deleteFromGraphIndex(emb.where(col("vec_id") % 7 === 3),
        "vec_id", tmp)
      Knn.graphStoreStats(s, tmp).orderBy("layer", "bucket")
    }),

// The IVF+SQ8 lifecycle under the gate: bottom-k centroids, exact
    // min/max ranges, cell-partitioned uint8 codes on disk, then the
    // pruned codes-only ADC probe + shortlist + exact re-rank — q75's
    // scaffold with the closed-form SQ8 "codebook".
    "q90_ivfsq8_persisted" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfsq8_gate").toString
      Pq.writeIvfSq8Index(emb, "vec_id", "embedding", tmp,
        c = 16, dim = 64, portableHash = true)
      Pq.searchIvfSq8(s, tmp, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, nprobe = 4, shortlist = 50)
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    }),

// FILTERED search through the CODED probe path (round 14 —
    // completing the filtered-ANN matrix: flat IVF q345, graph q347,
    // and now the compressed family, whose shared ADC core serves
    // PQ/RQ/SQ8 alike): the store built with keep=Seq("label")
    // co-locates the attribute in the cell files, and the predicate
    // evaluates on the pruned scan BEFORE the ADC pass — a
    // filtered-out row never eats a shortlist slot. Oracle = q90's
    // chain with the label carried and the same pre-shortlist WHERE.
    "q357_ivfsq8_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sq8fil_gate").toString
      Pq.writeIvfSq8Index(emb, "vec_id", "embedding", tmp,
        c = 16, dim = 64, portableHash = true, keep = Seq("label"))
      Pq.searchIvfSq8(s, tmp, emb.where(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 5, nprobe = 4, shortlist = 50,
        pred = Some(col("label") % 3 === 1))
        .select("query_id", "neighbor_id", "sim", "rank")
        .orderBy("query_id", "rank")
    }),

// DELETE/COMPACT lifecycle through the CODED probe path (round 14,
    // r13 verdict ask #1's PQ/SQ8-twin leg): same store as q90, the
    // %7==3 residue class tombstoned — a deleted id must never eat an
    // ADC SHORTLIST slot, not just a rank slot — then the bucket-pruned
    // compact; both phases must answer identically. Ranges and codes
    // stay as built (compaction carries codes verbatim; they are a
    // deterministic projection of the stored ranges).
    "q351_ivfsq8_delete_compact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sq8del_gate").toString
      Pq.writeIvfSq8Index(emb, "vec_id", "embedding", tmp,
        c = 16, dim = 64, portableHash = true)
      Knn.deleteFromIvfIndex(emb.where(col("vec_id") % 7 === 3),
        "vec_id", tmp)
      val qs = emb.where(col("vec_id") % 100 === 0)
      def probe() = Pq.searchIvfSq8(s, tmp, qs, "vec_id", "embedding",
        k = 5, nprobe = 4, shortlist = 50)
        .select("query_id", "neighbor_id", "sim", "rank")
      // materialize the tombstoned phase before compaction rewrites
      // the directories the lazy plan would read
      val tombstoned = probe().localCheckpoint(true)
      Knn.compactIvfStore(s, tmp)
      tombstoned.withColumn("phase", lit("tombstoned"))
        .unionByName(probe().withColumn("phase", lit("compacted")))
        .orderBy("phase", "query_id", "rank")
    }))

  val oracles: Map[String, String] = Map(

// SQ8 replay: min/max recomputed per dimension, then the same
    // round-encode and the same ordered dequantized-dot fold. ROUND(x)
    // is half-away-from-zero in both engines (all operands >= 0 here),
    // and CAST after ROUND is exact, so codes match bit-for-bit.
    "q84_sq8_adc" ->
      """WITH rng AS (
        |  SELECT d, MIN(CAST(embedding[d] AS DOUBLE)) AS mn,
        |         MAX(CAST(embedding[d] AS DOUBLE)) AS mx
        |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
        |  GROUP BY d),
        |scd AS (SELECT d, mn,
        |         CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn) / 255.0 END AS sc
        |       FROM rng),
        |mnl AS (SELECT list(mn ORDER BY d) AS mn, list(sc ORDER BY d) AS sc FROM scd),
        |codes AS (
        |  SELECT vec_id, list_transform(range(1, 65), d ->
        |    CASE WHEN sc[d] = 0 THEN 0
        |         ELSE CAST(ROUND((CAST(embedding[d] AS DOUBLE) - mn[d]) / sc[d]) AS INT)
        |    END) AS codes
        |  FROM embeddings CROSS JOIN mnl),
        |q AS (SELECT vec_id AS query_id, embedding AS qvec
        |      FROM embeddings WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |    ROUND(list_reduce(list_transform(range(1, 65), d ->
        |      CAST(q.qvec[d] AS DOUBLE) * (mn[d] + codes[d] * sc[d])),
        |      (a, b) -> a + b), 6) AS sim
        |  FROM codes c CROSS JOIN q CROSS JOIN mnl
        |  WHERE c.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |                            ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

"q300_bq_hamming" ->
      """WITH rng AS (
        |  SELECT d, MIN(CAST(embedding[d] AS DOUBLE)) AS mn,
        |         MAX(CAST(embedding[d] AS DOUBLE)) AS mx
        |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
        |  GROUP BY d),
        |thl AS (SELECT list((mn + mx) / 2.0 ORDER BY d) AS th FROM rng),
        |bits AS (
        |  SELECT vec_id,
        |    list_reduce(list_transform(range(1, 64), d ->
        |      CASE WHEN CAST(embedding[d] AS DOUBLE) > th[d]
        |           THEN (CAST(1 AS BIGINT) << ((d - 1) % 63)) ELSE 0 END),
        |      (a, b) -> a | b) AS w0,
        |    CASE WHEN CAST(embedding[64] AS DOUBLE) > th[64]
        |         THEN CAST(1 AS BIGINT) ELSE 0 END AS w1
        |  FROM embeddings CROSS JOIN thl),
        |q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1
        |      FROM bits WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT q.query_id, b.vec_id AS neighbor_id,
        |    CAST(64 - bit_count(xor(b.w0, q.q0))
        |            - bit_count(xor(b.w1, q.q1)) AS DOUBLE) AS sim
        |  FROM bits b CROSS JOIN q
        |  WHERE b.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |                            ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

"q325_graph_search" ->
      s"""WITH $knnGraphCtes,
         |gedges AS (SELECT query_id AS src, neighbor_id AS dst
         |           FROM ranked WHERE rank <= 3),
         |gq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
         |       FROM embeddings WHERE vec_id % 100 = 0),
         |gv AS (SELECT vec_id AS node, CAST(embedding AS DOUBLE[]) AS nvec
         |       FROM embeddings),
         |ent AS (SELECT MIN(vec_id) AS n0 FROM embeddings),
         |b0 AS (SELECT qid, gv.node,
         |         ROUND(list_cosine_similarity(gv.nvec, gq.qvec), 6) AS sim
         |       FROM gq CROSS JOIN ent JOIN gv ON gv.node = ent.n0),
         |c1 AS (SELECT qid, node FROM b0
         |       UNION SELECT b0.qid, e.dst AS node
         |             FROM b0 JOIN gedges e ON e.src = b0.node),
         |s1 AS (SELECT c1.qid, c1.node,
         |         ROUND(list_cosine_similarity(gv.nvec, gq.qvec), 6) AS sim
         |       FROM c1 JOIN gv ON gv.node = c1.node
         |            JOIN gq ON gq.qid = c1.qid),
         |b1 AS (SELECT qid, node, sim FROM (
         |         SELECT *, row_number() OVER (PARTITION BY qid
         |           ORDER BY sim DESC, node ASC) AS rn FROM s1)
         |       WHERE rn <= 4),
         |c2 AS (SELECT qid, node FROM b1
         |       UNION SELECT b1.qid, e.dst AS node
         |             FROM b1 JOIN gedges e ON e.src = b1.node),
         |s2 AS (SELECT c2.qid, c2.node,
         |         ROUND(list_cosine_similarity(gv.nvec, gq.qvec), 6) AS sim
         |       FROM c2 JOIN gv ON gv.node = c2.node
         |            JOIN gq ON gq.qid = c2.qid),
         |b2 AS (SELECT qid, node, sim FROM (
         |         SELECT *, row_number() OVER (PARTITION BY qid
         |           ORDER BY sim DESC, node ASC) AS rn FROM s2)
         |       WHERE rn <= 4),
         |fin AS (SELECT qid AS query_id, node AS neighbor_id, sim,
         |          row_number() OVER (PARTITION BY qid
         |            ORDER BY sim DESC, node ASC) AS rank
         |        FROM b2 WHERE node <> qid)
         |SELECT query_id, neighbor_id, sim, rank FROM fin WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,

// The persisted-graph lifecycle replayed end-to-end: base build
    // (q65's machinery over the 90% subset), NSW insert of the held-
    // out 10% (append beam over the base graph, reverse links, per-
    // source re-trim to k), entry-table maintenance, and the final
    // multi-seed search over the post-append graph.
    // Bucket assignment (id % 8), the k-NN edge build (q347's
    // layerKnnGraphCtes chain over the full member), and the delete
    // residue tally per bucket — layers=0, so one layer-0 row per
    // populated bucket.
    "q361_graph_store_stats" ->
      s"""WITH hs AS (
         |  SELECT vec_id AS id, embedding AS vec,
         |    ${md5Hash64Sql("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM embeddings),
         |${layerKnnGraphCtes("g", "hs", 16, 2, 3)},
         |nstat AS (
         |  SELECT id % 8 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |    CAST(SUM(CASE WHEN id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_tombstoned
         |  FROM hs GROUP BY bucket),
         |estat AS (
         |  SELECT src % 8 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_edges
         |  FROM ge GROUP BY bucket)
         |SELECT 0 AS layer, n.bucket, n.n_nodes, n.n_tombstoned,
         |  CAST(COALESCE(e.n_edges, 0) AS BIGINT) AS n_edges
         |FROM nstat n LEFT JOIN estat e ON e.bucket = n.bucket
         |ORDER BY layer, n.bucket""".stripMargin,

    "q326_graph_index" ->
      s"""WITH bhashed AS (
         |  SELECT vec_id, embedding,
         |    ${md5Hash64Sql("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM embeddings WHERE vec_id % 10 <> 7),
         |bcents AS (
         |  SELECT h AS cell, CAST(embedding AS DOUBLE[]) AS cvec
         |  FROM bhashed ORDER BY h LIMIT 16),
         |bassign AS (
         |  SELECT hd.vec_id AS id, hd.embedding AS vec, c.cell,
         |    row_number() OVER (PARTITION BY hd.vec_id
         |      ORDER BY list_cosine_similarity(CAST(hd.embedding AS DOUBLE[]), c.cvec) DESC,
         |               c.cell DESC) AS rn
         |  FROM bhashed hd CROSS JOIN bcents c),
         |bcells AS (SELECT id, vec, cell FROM bassign WHERE rn = 1),
         |bqa AS (
         |  SELECT query_id, qvec, cell FROM (
         |    SELECT hd.vec_id AS query_id, hd.embedding AS qvec, c.cell,
         |      row_number() OVER (PARTITION BY hd.vec_id
         |        ORDER BY list_cosine_similarity(CAST(hd.embedding AS DOUBLE[]), c.cvec) DESC,
         |                 c.cell DESC) AS rk
         |    FROM bhashed hd CROSS JOIN bcents c) x
         |  WHERE rk <= 2),
         |bscored AS (
         |  SELECT bqa.query_id, cl.id AS neighbor_id,
         |    ROUND(${cosSql("cl.vec", "bqa.qvec")}, 6) AS sim
         |  FROM bcells cl JOIN bqa ON cl.cell = bqa.cell
         |  WHERE cl.id <> bqa.query_id),
         |e0 AS (
         |  SELECT query_id AS src, neighbor_id AS dst, sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank FROM bscored)
         |  WHERE rank <= 3),
         |gv AS (SELECT id AS node, CAST(vec AS DOUBLE[]) AS nvec FROM bcells),
         |ent0 AS (SELECT cell, MIN(id) AS node FROM bcells GROUP BY cell),
         |nq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
         |       FROM embeddings WHERE vec_id % 10 = 7),
         |${graphBeamCtes("a", "nq", "gv", "e0", "ent0", beam = 4, hops = 2)},
         |aout AS (
         |  SELECT qid AS src, node AS dst, sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, node ASC) AS rn FROM ab2)
         |  WHERE rn <= 3),
         |arev AS (SELECT dst AS src, src AS dst, sim FROM aout),
         |e1 AS (
         |  SELECT src, dst, sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY src
         |      ORDER BY sim DESC, dst ASC) AS rn
         |    FROM (SELECT * FROM e0 UNION ALL SELECT * FROM aout
         |          UNION ALL SELECT * FROM arev))
         |  WHERE rn <= 3),
         |bat AS (
         |  SELECT qid AS id, cell FROM (
         |    SELECT nq.qid, c.cell,
         |      row_number() OVER (PARTITION BY nq.qid
         |        ORDER BY list_cosine_similarity(nq.qvec, c.cvec) DESC,
         |                 c.cell DESC) AS rn
         |    FROM nq CROSS JOIN bcents c) x
         |  WHERE rn = 1),
         |ent1 AS (
         |  SELECT cell, MIN(id) AS node FROM (
         |    SELECT cell, id FROM bcells
         |    UNION ALL SELECT cell, id FROM bat) GROUP BY cell),
         |av AS (SELECT vec_id AS node, CAST(embedding AS DOUBLE[]) AS nvec
         |       FROM embeddings),
         |sq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
         |       FROM embeddings WHERE vec_id % 100 = 0),
         |${graphBeamCtes("z", "sq", "av", "e1", "ent1", beam = 4, hops = 2)},
         |fin AS (SELECT qid AS query_id, node AS neighbor_id, sim,
         |          row_number() OVER (PARTITION BY qid
         |            ORDER BY sim DESC, node ASC) AS rank
         |        FROM zb2 WHERE node <> qid)
         |SELECT query_id, neighbor_id, sim, rank FROM fin WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,

// q75's probe scaffolding with the SQ8 closed-form codebook: ranges
    // recomputed per dimension (q84), codes per doc, ADC = the
    // dequantized-dot fold restricted to probed cells, then shortlist
    // + exact cosine re-rank.
    "q90_ivfsq8_persisted" ->
      s"""WITH hashed AS (
         |  SELECT vec_id, embedding,
         |    ${md5Hash64Sql("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM embeddings),
         |cents AS (
         |  SELECT h AS cell, CAST(embedding AS DOUBLE[]) AS cvec
         |  FROM hashed ORDER BY h LIMIT 16),
         |assign AS (
         |  SELECT hd.vec_id AS id, hd.embedding AS vec, c.cell,
         |    row_number() OVER (PARTITION BY hd.vec_id
         |      ORDER BY list_cosine_similarity(CAST(hd.embedding AS DOUBLE[]), c.cvec) DESC,
         |               c.cell DESC) AS rn
         |  FROM hashed hd CROSS JOIN cents c),
         |cells AS (SELECT id, vec, cell FROM assign WHERE rn = 1),
         |qa AS (
         |  SELECT query_id, qvec, cell FROM (
         |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cvec) DESC,
         |                 c.cell DESC) AS rk
         |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id % 100 = 0) x
         |  WHERE rk <= 4),
         |rng AS (
         |  SELECT d, MIN(CAST(embedding[d] AS DOUBLE)) AS mn,
         |         MAX(CAST(embedding[d] AS DOUBLE)) AS mx
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
         |  GROUP BY d),
         |scd AS (SELECT d, mn,
         |         CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn) / 255.0 END AS sc
         |       FROM rng),
         |mnl AS (SELECT list(mn ORDER BY d) AS mn, list(sc ORDER BY d) AS sc FROM scd),
         |codes AS (
         |  SELECT vec_id, list_transform(range(1, 65), d ->
         |    CASE WHEN sc[d] = 0 THEN 0
         |         ELSE CAST(ROUND((CAST(embedding[d] AS DOUBLE) - mn[d]) / sc[d]) AS INT)
         |    END) AS codes
         |  FROM embeddings CROSS JOIN mnl),
         |scored AS (
         |  SELECT qa.query_id, cl.id AS neighbor_id,
         |    list_reduce(list_transform(range(1, 65), d ->
         |      CAST(qa.qvec[d] AS DOUBLE) * (mn[d] + en.codes[d] * sc[d])),
         |      (a, b) -> a + b) AS adc
         |  FROM cells cl
         |  JOIN qa ON cl.cell = qa.cell
         |  JOIN codes en ON en.vec_id = cl.id
         |  CROSS JOIN mnl
         |  WHERE cl.id <> qa.query_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY adc DESC, neighbor_id ASC) AS rn
         |    FROM scored) x WHERE rn <= 50),
         |exact AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |    ROUND(${cosSql("e.embedding", "q.embedding")}, 6) AS sim
         |  FROM short sh
         |  JOIN embeddings e ON e.vec_id = sh.neighbor_id
         |  JOIN embeddings q ON q.vec_id = sh.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM exact)
         |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

// q90's ADC chain with the label carried through assignment and
    // the pre-shortlist WHERE (the filtered coded probe).
    "q357_ivfsq8_filtered" ->
      s"""WITH hashed AS (
         |  SELECT vec_id, embedding, label,
         |    ${md5Hash64Sql("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM embeddings),
         |cents AS (
         |  SELECT h AS cell, CAST(embedding AS DOUBLE[]) AS cvec
         |  FROM hashed ORDER BY h LIMIT 16),
         |assign AS (
         |  SELECT hd.vec_id AS id, hd.embedding AS vec, hd.label, c.cell,
         |    row_number() OVER (PARTITION BY hd.vec_id
         |      ORDER BY list_cosine_similarity(CAST(hd.embedding AS DOUBLE[]), c.cvec) DESC,
         |               c.cell DESC) AS rn
         |  FROM hashed hd CROSS JOIN cents c),
         |cells AS (SELECT id, vec, label, cell FROM assign WHERE rn = 1),
         |qa AS (
         |  SELECT query_id, qvec, cell FROM (
         |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cvec) DESC,
         |                 c.cell DESC) AS rk
         |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id % 100 = 0) x
         |  WHERE rk <= 4),
         |rng AS (
         |  SELECT d, MIN(CAST(embedding[d] AS DOUBLE)) AS mn,
         |         MAX(CAST(embedding[d] AS DOUBLE)) AS mx
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
         |  GROUP BY d),
         |scd AS (SELECT d, mn,
         |         CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn) / 255.0 END AS sc
         |       FROM rng),
         |mnl AS (SELECT list(mn ORDER BY d) AS mn, list(sc ORDER BY d) AS sc FROM scd),
         |codes AS (
         |  SELECT vec_id, list_transform(range(1, 65), d ->
         |    CASE WHEN sc[d] = 0 THEN 0
         |         ELSE CAST(ROUND((CAST(embedding[d] AS DOUBLE) - mn[d]) / sc[d]) AS INT)
         |    END) AS codes
         |  FROM embeddings CROSS JOIN mnl),
         |scored AS (
         |  SELECT qa.query_id, cl.id AS neighbor_id,
         |    list_reduce(list_transform(range(1, 65), d ->
         |      CAST(qa.qvec[d] AS DOUBLE) * (mn[d] + en.codes[d] * sc[d])),
         |      (a, b) -> a + b) AS adc
         |  FROM cells cl
         |  JOIN qa ON cl.cell = qa.cell
         |  JOIN codes en ON en.vec_id = cl.id
         |  CROSS JOIN mnl
         |  WHERE cl.id <> qa.query_id AND cl.label % 3 = 1),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY adc DESC, neighbor_id ASC) AS rn
         |    FROM scored) x WHERE rn <= 50),
         |exact AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |    ROUND(${cosSql("e.embedding", "q.embedding")}, 6) AS sim
         |  FROM short sh
         |  JOIN embeddings e ON e.vec_id = sh.neighbor_id
         |  JOIN embeddings q ON q.vec_id = sh.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM exact)
         |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

// q90's ADC chain with the survivors-only candidate set (the
    // id % 7 <> 3 filter lands BEFORE the shortlist window — the
    // pre-shortlist contract) and both lifecycle phases reading the
    // same MATERIALIZED result.
    "q351_ivfsq8_delete_compact" ->
      s"""WITH hashed AS (
         |  SELECT vec_id, embedding,
         |    ${md5Hash64Sql("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM embeddings),
         |cents AS (
         |  SELECT h AS cell, CAST(embedding AS DOUBLE[]) AS cvec
         |  FROM hashed ORDER BY h LIMIT 16),
         |assign AS (
         |  SELECT hd.vec_id AS id, hd.embedding AS vec, c.cell,
         |    row_number() OVER (PARTITION BY hd.vec_id
         |      ORDER BY list_cosine_similarity(CAST(hd.embedding AS DOUBLE[]), c.cvec) DESC,
         |               c.cell DESC) AS rn
         |  FROM hashed hd CROSS JOIN cents c),
         |cells AS (SELECT id, vec, cell FROM assign
         |          WHERE rn = 1 AND id % 7 <> 3),
         |qa AS (
         |  SELECT query_id, qvec, cell FROM (
         |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cvec) DESC,
         |                 c.cell DESC) AS rk
         |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id % 100 = 0) x
         |  WHERE rk <= 4),
         |rng AS (
         |  SELECT d, MIN(CAST(embedding[d] AS DOUBLE)) AS mn,
         |         MAX(CAST(embedding[d] AS DOUBLE)) AS mx
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
         |  GROUP BY d),
         |scd AS (SELECT d, mn,
         |         CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn) / 255.0 END AS sc
         |       FROM rng),
         |mnl AS (SELECT list(mn ORDER BY d) AS mn, list(sc ORDER BY d) AS sc FROM scd),
         |codes AS (
         |  SELECT vec_id, list_transform(range(1, 65), d ->
         |    CASE WHEN sc[d] = 0 THEN 0
         |         ELSE CAST(ROUND((CAST(embedding[d] AS DOUBLE) - mn[d]) / sc[d]) AS INT)
         |    END) AS codes
         |  FROM embeddings CROSS JOIN mnl),
         |scored AS (
         |  SELECT qa.query_id, cl.id AS neighbor_id,
         |    list_reduce(list_transform(range(1, 65), d ->
         |      CAST(qa.qvec[d] AS DOUBLE) * (mn[d] + en.codes[d] * sc[d])),
         |      (a, b) -> a + b) AS adc
         |  FROM cells cl
         |  JOIN qa ON cl.cell = qa.cell
         |  JOIN codes en ON en.vec_id = cl.id
         |  CROSS JOIN mnl
         |  WHERE cl.id <> qa.query_id),
         |short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY adc DESC, neighbor_id ASC) AS rn
         |    FROM scored) x WHERE rn <= 50),
         |exact AS (
         |  SELECT sh.query_id, sh.neighbor_id,
         |    ROUND(${cosSql("e.embedding", "q.embedding")}, 6) AS sim
         |  FROM short sh
         |  JOIN embeddings e ON e.vec_id = sh.neighbor_id
         |  JOIN embeddings q ON q.vec_id = sh.query_id),
         |res AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, sim, rank FROM (
         |    SELECT query_id, neighbor_id, sim,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM exact) r WHERE rank <= 5)
         |SELECT 'tombstoned' AS phase, * FROM res
         |UNION ALL
         |SELECT 'compacted' AS phase, * FROM res
         |ORDER BY phase, query_id, rank""".stripMargin,

// The embedding-store lifecycle replay: q72's IVF machinery with
    // centroids picked from the EVEN half (the write-time universe,
    // INCLUDING later-deleted rows — deletion does not retrain) and
    // the cells universe filtered to the compaction survivors
    // (id % 4 <> 0): pairs must behave as if the deleted docs were
    // never ingested, while the centroid pick must remember they were.
    "q113_store_semantic" ->
      s"""WITH hashed AS (
         |  SELECT vec_id, embedding,
         |    ${md5Hash64Sql("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM embeddings WHERE vec_id % 2 = 0),
         |cents AS (
         |  SELECT h AS cell, CAST(embedding AS DOUBLE[]) AS cvec
         |  FROM hashed ORDER BY h LIMIT 16),
         |assign AS (
         |  SELECT hd.vec_id AS id, hd.embedding AS vec, c.cell,
         |    row_number() OVER (PARTITION BY hd.vec_id
         |      ORDER BY list_cosine_similarity(CAST(hd.embedding AS DOUBLE[]), c.cvec) DESC,
         |               c.cell DESC) AS rn
         |  FROM hashed hd CROSS JOIN cents c),
         |cells AS (SELECT id, vec, cell FROM assign WHERE rn = 1 AND id % 4 <> 0),
         |qa AS (
         |  SELECT query_id, qvec, cell FROM (
         |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cvec) DESC,
         |                 c.cell DESC) AS rk
         |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id % 2 = 1) x
         |  WHERE rk <= 4),
         |scored AS (
         |  SELECT qa.query_id, cl.id AS neighbor_id,
         |    ROUND(${cosSql("cl.vec", "qa.qvec")}, 6) AS sim
         |  FROM cells cl JOIN qa ON cl.cell = qa.cell
         |  WHERE cl.id <> qa.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id AS id_new, neighbor_id AS id_store, sim
         |FROM ranked WHERE rank = 1 AND sim >= 0.3
         |ORDER BY id_new""".stripMargin,

// Drift replay: the same frozen even-half centroid pick and
    // nearest-cell assignment over ALL vectors (evens at write, odds
    // at append), per-row angular distance rounded to micro-units,
    // then integer-DIV means — SUM/COUNT stay in exact integer
    // arithmetic so the metric is bit-stable across engines.
    "q114_centroid_drift" ->
      s"""WITH hashed AS (
         |  SELECT vec_id, embedding,
         |    ${md5Hash64Sql("CAST(vec_id AS VARCHAR)")} AS h
         |  FROM embeddings WHERE vec_id % 2 = 0),
         |cents AS (
         |  SELECT h AS cell, CAST(embedding AS DOUBLE[]) AS cvec
         |  FROM hashed ORDER BY h LIMIT 16),
         |assign AS (
         |  SELECT e.vec_id AS id, e.embedding AS vec, c.cell, c.cvec,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
         |               c.cell DESC) AS rn
         |  FROM embeddings e CROSS JOIN cents c),
         |d AS (
         |  SELECT cell,
         |    CAST(round(1e6 * (1.0 - ${cosSql("vec", "cvec")})) AS BIGINT) AS d
         |  FROM assign WHERE rn = 1),
         |pc AS (SELECT cell, COUNT(*) AS n, SUM(d) AS s FROM d GROUP BY cell)
         |SELECT CAST(SUM(n) AS BIGINT) AS n_vectors,
         |  CAST(SUM(s) AS BIGINT) // CAST(SUM(n) AS BIGINT) AS mean_drift_micro,
         |  MAX(CAST(s AS BIGINT) // CAST(n AS BIGINT)) AS max_cell_drift_micro
         |FROM pc""".stripMargin)
}
