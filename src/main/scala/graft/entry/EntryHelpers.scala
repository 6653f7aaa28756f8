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

/** Shared plumbing for the per-family gate registries under
  * [[graft.entry]] — the table readers, cross-engine SQL fragment
  * generators, and portable-hash CTE builders that SparkEntry's two
  * monolithic maps used to close over (round-10 split, r9 verdict
  * ask #8; pure move, zero behavior change — every def/val below is
  * verbatim from SparkEntry.scala at split time, minus the `private`
  * modifiers the object boundary now provides).
  */
private[graft] object EntryHelpers {


  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet's `ts` physical type has changed across testdata
    * generations (TIMESTAMP(NANOS) read as long vs timestamp[us] read as
    * timestamp). Never assume: read the stored schema and adapt. Nanos
    * arrive as LongType only under `nanosAsLong`, so set that conf first,
    * then integral-divide to micros when (and only when) the column is a
    * long (a double roundtrip would lose precision at 1.7e18 ns). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // timestamp[us] with isAdjustedToUTC=false reads as TIMESTAMP_NTZ;
      // the gate session pins spark.sql.session.timeZone=UTC, so casting
      // to TIMESTAMP(LTZ) preserves the stored micros exactly and keeps
      // downstream unix_micros/casts working.
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }

  /** Round-11 advice guard: the JaroWinkler kernel iterates CODE
    * POINTS while DuckDB's jaro_winkler_similarity iterates BYTES, so
    * the cross-engine oracle parity the JW gates rely on holds only on
    * ASCII input. The gates ASSERT their corpus column is ASCII
    * instead of assuming the generator never changes — a non-ASCII
    * testdata regen fails loudly here, not as a silent value
    * divergence. One tiny scan (limit-1 after the filter). */
  def assertAscii(df: DataFrame, c: String): DataFrame = {
    val bad = df.where(col(c).rlike("[^\\x00-\\x7F]")).limit(1).count()
    require(bad == 0, s"JW oracle parity requires ASCII '$c' " +
      "(kernel walks code points, DuckDB walks bytes)")
    df
  }

  /** Exact cross-engine sum of a double column: quantize each value to
    * DECIMAL(28,4) (deterministic per stored double), sum exactly, cast
    * back to double. Immune to partial-aggregation order. */
  def decSum(c: Column): Column =
    sum(c.cast(DecimalType(28, 4))).cast("double")


  // --- DuckDB oracles -------------------------------------------------------

  val normText =
    """trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"""

  /** q144's FS field spec — shared between the gate query and the
    * oracle so both engines inline the identical micro weights. */
  val fsFields = Seq(
    ("c_name", "c_name", 0.95, 0.0001),
    ("c_mktsegment", "c_mktsegment", 0.9, 0.2), // 5 segments: u is high
    ("c_acctbal", "c_acctbal", 0.9, 0.0001))

  val toksLower =
    """list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')"""

  /** The q23 marker-word language prediction as a CTE chain over a
    * source CTE/table exposing (doc_id, text) — shared by the
    * q303/q307 agreement oracles (q23/q227 keep their inline copies).
    * Emits three CTE definitions named `${p}t`, `${p}h`, `${p}p`;
    * `${p}p` holds (doc_id, cat). */
  def langPredCtes(src: String, p: String): String =
    s"""${p}t AS (SELECT doc_id, $toksLower AS toks FROM $src),
       |${p}h AS (SELECT doc_id,
       |  len(list_filter(toks, x -> list_contains(['der','die','und','ist','nicht','das','ein','zu'], x))) AS de,
       |  len(list_filter(toks, x -> list_contains(['the','and','is','of','to','in','that','it'], x))) AS en,
       |  len(list_filter(toks, x -> list_contains(['el','la','de','que','los','una','es','por'], x))) AS es,
       |  len(list_filter(toks, x -> list_contains(['le','la','les','des','est','une','dans','pas'], x))) AS fr
       |  FROM ${p}t),
       |${p}p AS (SELECT doc_id,
       |  CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
       |       WHEN de >= en AND de >= es AND de >= fr THEN 'de'
       |       WHEN en >= es AND en >= fr THEN 'en'
       |       WHEN es >= fr THEN 'es'
       |       ELSE 'fr' END AS cat
       |  FROM ${p}h)""".stripMargin

  /** The q65 kNN-GRAPH edge derivation (bottom-16 md5 centroids,
    * nprobe-2 probe, 6-dp cosine, rank ≤ 3) as a CTE chain ending in
    * `ranked` — shared by the q65 gate and the q325 beam-search
    * oracle, which navigates these exact edges. */
  lazy val knnGraphCtes: String =
    s"""hashed AS (
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
       |    FROM embeddings q CROSS JOIN cents c) x
       |  WHERE rk <= 2),
       |scored AS (
       |  SELECT qa.query_id, cl.id AS neighbor_id,
       |    ROUND(${cosSql("cl.vec", "qa.qvec")}, 6) AS sim
       |  FROM cells cl JOIN qa ON cl.cell = qa.cell
       |  WHERE cl.id <> qa.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
       |  FROM scored)""".stripMargin

  /** Beam-walk CTE generator for the graph-index oracles: multi-seed
    * start (score every per-cell entry, keep the top `beam`), then
    * `hops` expand/score/trim rounds — the SQL twin of
    * Knn.walkLayer's exact walk. `qCte`(qid, qvec DOUBLE[]),
    * `vCte`(node, nvec DOUBLE[]), `eCte`(src, dst), `entCte`(node).
    * Emits CTEs `${pfx}s0`, `${pfx}b0` .. `${pfx}b$hops`; the final
    * beam is `${pfx}b$hops`(qid, node, sim). */
  def graphBeamCtes(pfx: String, qCte: String, vCte: String,
                            eCte: String, entCte: String,
                            beam: Int, hops: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${pfx}s0 AS (
         |  SELECT q.qid, en.node,
         |    ROUND(list_cosine_similarity(v.nvec, q.qvec), 6) AS sim
         |  FROM $qCte q CROSS JOIN $entCte en
         |  JOIN $vCte v ON v.node = en.node),
         |${pfx}b0 AS (
         |  SELECT qid, node, sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, node ASC) AS rn FROM ${pfx}s0)
         |  WHERE rn <= $beam)""".stripMargin)
    sb.append(beamHopCtes(pfx, qCte, vCte, eCte, beam, hops))
    sb.toString
  }

  /** The HNSW DESCENT variant of [[graphBeamCtes]]: the walk's b0 is
    * the layer above's final beam (`seedCte`, already (qid, node, sim)
    * rows) instead of entry-seed scoring — the SQL twin of
    * Knn.walkLayer's `seed` handoff. Emits `${pfx}b0` ..
    * `${pfx}b$hops`. */
  def graphDescentCtes(pfx: String, seedCte: String, qCte: String,
                       vCte: String, eCte: String,
                       beam: Int, hops: Int): String =
    s"""${pfx}b0 AS (SELECT qid, node, sim FROM $seedCte)""" +
      beamHopCtes(pfx, qCte, vCte, eCte, beam, hops)

  /** Shared hop loop of the two beam-walk generators: `hops` rounds of
    * expand (beam ∪ out-neighbors, dedup) → score → trim. Assumes
    * `${pfx}b0` is already defined; emits a LEADING comma. */
  private def beamHopCtes(pfx: String, qCte: String, vCte: String,
                          eCte: String, beam: Int, hops: Int): String = {
    val sb = new StringBuilder
    for (h <- 1 to hops) {
      val p = s"${pfx}b${h - 1}"
      sb.append(",\n").append(
        s"""${pfx}c$h AS (
           |  SELECT qid, node FROM $p
           |  UNION SELECT $p.qid, e.dst AS node
           |        FROM $p JOIN $eCte e ON e.src = $p.node),
           |${pfx}s$h AS (
           |  SELECT c.qid, c.node,
           |    ROUND(list_cosine_similarity(v.nvec, q.qvec), 6) AS sim
           |  FROM ${pfx}c$h c JOIN $vCte v ON v.node = c.node
           |       JOIN $qCte q ON q.qid = c.qid),
           |${pfx}b$h AS (
           |  SELECT qid, node, sim FROM (
           |    SELECT *, row_number() OVER (PARTITION BY qid
           |      ORDER BY sim DESC, node ASC) AS rn FROM ${pfx}s$h)
           |  WHERE rn <= $beam)""".stripMargin)
    }
    sb.toString
  }

  /** ADC-scored beam-walk CTE generator (round 12) — the coded twin
    * of [[graphBeamCtes]] for Knn.searchGraphIndexAdc: every score is
    * the ADC table lookup `Σ_s tabs[s][codes[s]+1]` (the q51 fold)
    * instead of a cosine. `qCte`(qid, tabs), `encCte`(node, codes),
    * `eCte`(src, dst), `entCte`(node). Emits `${pfx}s0`, `${pfx}b0`
    * .. `${pfx}b$hops`; final beam `${pfx}b$hops`(qid, node, sim)
    * carries ADC sims — callers re-rank exactly. */
  def graphBeamAdcCtes(pfx: String, qCte: String, encCte: String,
                       eCte: String, entCte: String,
                       beam: Int, hops: Int, m: Int): String = {
    def adc(c: String, q: String): String =
      s"""list_reduce(list_transform(range(1, ${m + 1}), s ->
         |      $q.tabs[s][$c.codes[s] + 1]), (a, b) -> a + b)""".stripMargin
    val sb = new StringBuilder
    sb.append(
      s"""${pfx}s0 AS (
         |  SELECT q.qid, en.node, ${adc("c", "q")} AS sim
         |  FROM $qCte q CROSS JOIN $entCte en
         |  JOIN $encCte c ON c.node = en.node),
         |${pfx}b0 AS (
         |  SELECT qid, node, sim FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, node ASC) AS rn FROM ${pfx}s0)
         |  WHERE rn <= $beam)""".stripMargin)
    for (h <- 1 to hops) {
      val p = s"${pfx}b${h - 1}"
      sb.append(",\n").append(
        s"""${pfx}c$h AS (
           |  SELECT qid, node FROM $p
           |  UNION SELECT $p.qid, e.dst AS node
           |        FROM $p JOIN $eCte e ON e.src = $p.node),
           |${pfx}s$h AS (
           |  SELECT x.qid, x.node, ${adc("c", "q")} AS sim
           |  FROM ${pfx}c$h x JOIN $encCte c ON c.node = x.node
           |       JOIN $qCte q ON q.qid = x.qid),
           |${pfx}b$h AS (
           |  SELECT qid, node, sim FROM (
           |    SELECT *, row_number() OVER (PARTITION BY qid
           |      ORDER BY sim DESC, node ASC) AS rn FROM ${pfx}s$h)
           |  WHERE rn <= $beam)""".stripMargin)
    }
    sb.toString
  }

  /** The HNSW DESCENT variant of [[graphBeamAdcCtes]]: b0 is the
    * layer above's final beam (`seedCte`, (qid, node, sim) rows on
    * ADC scores) instead of entry-seed scoring — the SQL twin of
    * Knn.walkLayer's `seed` handoff under ADC scoring. */
  def graphDescentAdcCtes(pfx: String, seedCte: String, qCte: String,
                          encCte: String, eCte: String,
                          beam: Int, hops: Int, m: Int): String = {
    def adc(c: String, q: String): String =
      s"""list_reduce(list_transform(range(1, ${m + 1}), s ->
         |      $q.tabs[s][$c.codes[s] + 1]), (a, b) -> a + b)""".stripMargin
    val sb = new StringBuilder
    sb.append(s"""${pfx}b0 AS (SELECT qid, node, sim FROM $seedCte)""")
    for (h <- 1 to hops) {
      val p = s"${pfx}b${h - 1}"
      sb.append(",\n").append(
        s"""${pfx}c$h AS (
           |  SELECT qid, node FROM $p
           |  UNION SELECT $p.qid, e.dst AS node
           |        FROM $p JOIN $eCte e ON e.src = $p.node),
           |${pfx}s$h AS (
           |  SELECT x.qid, x.node, ${adc("c", "q")} AS sim
           |  FROM ${pfx}c$h x JOIN $encCte c ON c.node = x.node
           |       JOIN $qCte q ON q.qid = x.qid),
           |${pfx}b$h AS (
           |  SELECT qid, node, sim FROM (
           |    SELECT *, row_number() OVER (PARTITION BY qid
           |      ORDER BY sim DESC, node ASC) AS rn FROM ${pfx}s$h)
           |  WHERE rn <= $beam)""".stripMargin)
    }
    sb.toString
  }

  /** The knnGraph edge derivation over a SUBSET CTE `subCte`(id, vec,
    * h) — bottom-`c` md5 centroids OF THE SUBSET, nearest-cell
    * assignment, `nprobe` probe cells per member (the probe ranking is
    * the assignment ranking, so one window serves both), 6-dp cosine,
    * rank ≤ `k`. Emits `${pfx}cents/assign/cells/e`; the edge list is
    * `${pfx}e`(src, dst). The per-layer building block of the layered
    * graph-index oracles (q329). */
  def layerKnnGraphCtes(pfx: String, subCte: String,
                        c: Int, nprobe: Int, k: Int): String =
    s"""${pfx}cents AS (
       |  SELECT h AS cell, CAST(vec AS DOUBLE[]) AS cvec
       |  FROM $subCte ORDER BY h LIMIT $c),
       |${pfx}assign AS (
       |  SELECT s.id, s.vec, c.cell,
       |    row_number() OVER (PARTITION BY s.id
       |      ORDER BY list_cosine_similarity(CAST(s.vec AS DOUBLE[]), c.cvec) DESC,
       |               c.cell DESC) AS rn
       |  FROM $subCte s CROSS JOIN ${pfx}cents c),
       |${pfx}cells AS (SELECT id, vec, cell FROM ${pfx}assign WHERE rn = 1),
       |${pfx}scored AS (
       |  SELECT qa.id AS query_id, cl.id AS neighbor_id,
       |    ROUND(${cosSql("cl.vec", "qa.vec")}, 6) AS sim
       |  FROM ${pfx}cells cl
       |  JOIN (SELECT id, vec, cell FROM ${pfx}assign WHERE rn <= $nprobe) qa
       |    ON cl.cell = qa.cell
       |  WHERE cl.id <> qa.id),
       |${pfx}e AS MATERIALIZED (
       |  SELECT query_id AS src, neighbor_id AS dst, sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id ASC) AS rank
       |    FROM ${pfx}scored) WHERE rank <= $k)""".stripMargin

  /** The α-RNG neighbor-diversification selection as CTEs — the SQL
    * twin of Knn.diversifyNeighbors (round 12). `candCte` exposes
    * (gid, nid, sim, rank) — rank already the (sim DESC, nid ASC)
    * candidate order; `vecCte` exposes (node, nvec DOUBLE[]) covering
    * every candidate nid. Emits `${pfx}dv` (vectors joined),
    * `${pfx}dp` (pruned pairs: some higher-ranked candidate is closer
    * to the candidate than the query is, by factor α on micros-exact
    * distances) and `${pfx}ds`(gid, nid, sim) — the k survivors,
    * diversity-kept first, pruned backfilled in rank order. The e–r
    * similarity is the ORDERED sequential fold (dot and both norms
    * accumulated in index order, round-13 advice) — bit-identical to
    * VectorKernel.cosine, so a similarity landing exactly on the 6-dp
    * rounding boundary cannot flip the prune decision cross-engine. */
  def diversifySelCtes(pfx: String, candCte: String, vecCte: String,
                       k: Int, alphaMicro: Long): String =
    s"""${pfx}dv AS MATERIALIZED (
       |  SELECT c.gid, c.nid, c.sim, c.rank, v.nvec
       |  FROM $candCte c JOIN $vecCte v ON v.node = c.nid),
       |${pfx}dp AS (
       |  SELECT DISTINCT gid, nid FROM (
       |    SELECT e.gid, e.nid, e.sim,
       |      list_reduce(list_transform(range(1, len(e.nvec) + 1),
       |        __di -> e.nvec[__di] * r.nvec[__di]),
       |        (__da, __db) -> __da + __db) AS __dot,
       |      sqrt(list_reduce(list_transform(e.nvec, __dx -> __dx * __dx),
       |        (__da, __db) -> __da + __db))
       |      * sqrt(list_reduce(list_transform(r.nvec, __dx -> __dx * __dx),
       |        (__da, __db) -> __da + __db)) AS __den
       |    FROM ${pfx}dv e JOIN ${pfx}dv r
       |      ON e.gid = r.gid AND r.rank < e.rank) z
       |  WHERE $alphaMicro * (1000000 - CAST(ROUND(ROUND(
       |          CASE WHEN __den = 0 THEN 0.0 ELSE __dot / __den END,
       |          6) * 1e6) AS BIGINT))
       |        <= 1000000 * (1000000 - CAST(ROUND(sim * 1e6) AS BIGINT))),
       |${pfx}ds AS (
       |  SELECT gid, nid, sim FROM (
       |    SELECT c.gid, c.nid, c.sim,
       |      row_number() OVER (PARTITION BY c.gid
       |        ORDER BY CASE WHEN p.nid IS NULL THEN 0 ELSE 1 END ASC,
       |                 c.rank ASC) AS rn
       |    FROM $candCte c LEFT JOIN ${pfx}dp p
       |      ON p.gid = c.gid AND p.nid = c.nid) z
       |  WHERE rn <= $k)""".stripMargin

  /** [[layerKnnGraphCtes]] with α-RNG-diversified edges: the scored
    * candidate ranking runs to `kCand`, then [[diversifySelCtes]]
    * selects k. Same emitted contract (`${pfx}cents/assign/cells/e`,
    * edges in `${pfx}e`(src, dst, sim)) so entry/search CTEs compose
    * unchanged. */
  def layerKnnGraphDivCtes(pfx: String, subCte: String,
                           c: Int, nprobe: Int, kCand: Int, k: Int,
                           alphaMicro: Long): String =
    s"""${pfx}cents AS (
       |  SELECT h AS cell, CAST(vec AS DOUBLE[]) AS cvec
       |  FROM $subCte ORDER BY h LIMIT $c),
       |${pfx}assign AS (
       |  SELECT s.id, s.vec, c.cell,
       |    row_number() OVER (PARTITION BY s.id
       |      ORDER BY list_cosine_similarity(CAST(s.vec AS DOUBLE[]), c.cvec) DESC,
       |               c.cell DESC) AS rn
       |  FROM $subCte s CROSS JOIN ${pfx}cents c),
       |${pfx}cells AS (SELECT id, vec, cell FROM ${pfx}assign WHERE rn = 1),
       |${pfx}scored AS (
       |  SELECT qa.id AS query_id, cl.id AS neighbor_id,
       |    ROUND(${cosSql("cl.vec", "qa.vec")}, 6) AS sim
       |  FROM ${pfx}cells cl
       |  JOIN (SELECT id, vec, cell FROM ${pfx}assign WHERE rn <= $nprobe) qa
       |    ON cl.cell = qa.cell
       |  WHERE cl.id <> qa.id),
       |${pfx}cand AS MATERIALIZED (
       |  SELECT gid, nid, sim, rank FROM (
       |    SELECT query_id AS gid, neighbor_id AS nid, sim,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, neighbor_id ASC) AS rank
       |    FROM ${pfx}scored) WHERE rank <= $kCand),
       |${pfx}vv AS (SELECT id AS node, CAST(vec AS DOUBLE[]) AS nvec
       |             FROM $subCte),
       |${diversifySelCtes(s"${pfx}x", s"${pfx}cand", s"${pfx}vv",
                           k, alphaMicro)},
       |${pfx}e AS (SELECT gid AS src, nid AS dst, sim FROM ${pfx}xds)"""
      .stripMargin

  /** One NSW INSERT round as CTEs — the SQL twin of one
    * appendGraphIndex batch at one layer (beam-search the PRE-append
    * graph, k out-edges, reverse links, per-source re-trim to k,
    * entry-cell maintenance, vector-table growth). Inputs:
    * `batchCte`(id, vec), `vPrevCte`(node, nvec DOUBLE[]),
    * `ePrevCte`(src, dst, sim), `entPrevCte`(cell, node),
    * `centsCte`(cell, cvec) — the store's centroid table. Emits
    * `${pfx}e` (the post-insert edges), `${pfx}ent` (post-insert
    * entries) and `${pfx}v` (post-insert vectors), so rounds CHAIN:
    * feed one round's outputs as the next round's prev CTEs (the
    * streaming-ingest oracle's micro-batch unroll). */
  def graphInsertCtes(pfx: String, batchCte: String, vPrevCte: String,
                      ePrevCte: String, entPrevCte: String,
                      centsCte: String, beam: Int, hops: Int,
                      k: Int): String =
    s"""${pfx}q AS (SELECT id AS qid, CAST(vec AS DOUBLE[]) AS qvec
       |        FROM $batchCte),
       |${graphBeamCtes(s"${pfx}w", s"${pfx}q", vPrevCte, ePrevCte,
                        entPrevCte, beam, hops)},
       |${pfx}out AS MATERIALIZED (
       |  SELECT qid AS src, node AS dst, sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, node ASC) AS rn FROM ${pfx}wb$hops)
       |  WHERE rn <= $k),
       |${pfx}rev AS (SELECT dst AS src, src AS dst, sim FROM ${pfx}out),
       |${pfx}e AS MATERIALIZED (
       |  SELECT src, dst, sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src
       |      ORDER BY sim DESC, dst ASC) AS rn
       |    FROM (SELECT src, dst, MAX(sim) AS sim
       |          FROM (SELECT * FROM $ePrevCte UNION ALL SELECT * FROM ${pfx}out
       |                UNION ALL SELECT * FROM ${pfx}rev)
       |          GROUP BY src, dst))
       |  WHERE rn <= $k),
       |${pfx}asg AS (
       |  SELECT id, cell FROM (
       |    SELECT b.id, c.cell,
       |      row_number() OVER (PARTITION BY b.id
       |        ORDER BY list_cosine_similarity(CAST(b.vec AS DOUBLE[]), c.cvec) DESC,
       |                 c.cell DESC) AS rn
       |    FROM $batchCte b CROSS JOIN $centsCte c) x
       |  WHERE rn = 1),
       |${pfx}ent AS MATERIALIZED (
       |  SELECT cell, MIN(id) AS node FROM (
       |    SELECT cell, node AS id FROM $entPrevCte
       |    UNION ALL SELECT cell, id FROM ${pfx}asg) GROUP BY cell),
       |${pfx}v AS MATERIALIZED (
       |  SELECT node, nvec FROM $vPrevCte
       |  UNION ALL SELECT id AS node, CAST(vec AS DOUBLE[]) AS nvec
       |            FROM $batchCte)""".stripMargin

  /** [[graphInsertCtes]] with α-RNG diversification (round 12) — the
    * SQL twin of one appendGraphIndex batch on a diversified store
    * (meta alphamicro > 0): the new nodes' out-edges are selected via
    * [[diversifySelCtes]] from a kCand-deep beam candidate ranking,
    * and the per-source re-trim re-selects with the SAME rule over the
    * full merged candidate set (no kCand cap — matching the Scala
    * re-trim). Emits the same contract as graphInsertCtes:
    * `${pfx}e` / `${pfx}ent` / `${pfx}v`, so rounds chain. */
  def graphInsertDivCtes(pfx: String, batchCte: String, vPrevCte: String,
                         ePrevCte: String, entPrevCte: String,
                         centsCte: String, beam: Int, hops: Int,
                         k: Int, kCand: Int, alphaMicro: Long): String =
    s"""${pfx}q AS (SELECT id AS qid, CAST(vec AS DOUBLE[]) AS qvec
       |        FROM $batchCte),
       |${graphBeamCtes(s"${pfx}w", s"${pfx}q", vPrevCte, ePrevCte,
                        entPrevCte, beam, hops)},
       |${pfx}v AS (
       |  SELECT node, nvec FROM $vPrevCte
       |  UNION ALL SELECT id AS node, CAST(vec AS DOUBLE[]) AS nvec
       |            FROM $batchCte),
       |${pfx}oc AS MATERIALIZED (
       |  SELECT gid, nid, sim, rank FROM (
       |    SELECT qid AS gid, node AS nid, sim,
       |      row_number() OVER (PARTITION BY qid
       |        ORDER BY sim DESC, node ASC) AS rank
       |    FROM ${pfx}wb$hops) WHERE rank <= $kCand),
       |${diversifySelCtes(s"${pfx}o", s"${pfx}oc", vPrevCte,
                           k, alphaMicro)},
       |${pfx}out AS (SELECT gid AS src, nid AS dst, sim FROM ${pfx}ods),
       |${pfx}rev AS (SELECT dst AS src, src AS dst, sim FROM ${pfx}out),
       |${pfx}mc AS MATERIALIZED (
       |  SELECT src AS gid, dst AS nid, sim,
       |    row_number() OVER (PARTITION BY src
       |      ORDER BY sim DESC, dst ASC) AS rank
       |  FROM (SELECT src, dst, MAX(sim) AS sim
       |        FROM (SELECT * FROM $ePrevCte UNION ALL SELECT * FROM ${pfx}out
       |              UNION ALL SELECT * FROM ${pfx}rev)
       |        GROUP BY src, dst)),
       |${diversifySelCtes(s"${pfx}m", s"${pfx}mc", s"${pfx}v",
                           k, alphaMicro)},
       |${pfx}e AS (SELECT gid AS src, nid AS dst, sim FROM ${pfx}mds),
       |${pfx}asg AS (
       |  SELECT id, cell FROM (
       |    SELECT b.id, c.cell,
       |      row_number() OVER (PARTITION BY b.id
       |        ORDER BY list_cosine_similarity(CAST(b.vec AS DOUBLE[]), c.cvec) DESC,
       |                 c.cell DESC) AS rn
       |    FROM $batchCte b CROSS JOIN $centsCte c) x
       |  WHERE rn = 1),
       |${pfx}ent AS (
       |  SELECT cell, MIN(id) AS node FROM (
       |    SELECT cell, node AS id FROM $entPrevCte
       |    UNION ALL SELECT cell, id FROM ${pfx}asg) GROUP BY cell)"""
      .stripMargin

  val shinglesSql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex($normText, ' '), x -> x <> '') AS tk
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |         list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
       |           ELSE list_transform(range(1, len(tk) - 1),
       |                               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
       |           END) AS sh
       |  FROM toks
       |), ex AS (
       |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh
       |)""".stripMargin

  def cosSql(a: String, b: String): String =
    s"list_cosine_similarity(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  /** The ORDERED-fold cosine (round 13) — dot and both norms
    * accumulated in index order, bit-identical to VectorKernel.cosine;
    * use where the similarity VALUE feeds a selection decision (prune,
    * argmax) so a rounding-boundary flip cannot diverge cross-engine.
    * Operands must already be DOUBLE[]. */
  def cosFoldSql(a: String, b: String): String =
    s"""(CASE WHEN sqrt(list_reduce(list_transform($a,
       |        __dx -> __dx * __dx), (__da, __db) -> __da + __db))
       |      * sqrt(list_reduce(list_transform($b,
       |        __dx -> __dx * __dx), (__da, __db) -> __da + __db)) = 0
       |  THEN 0.0
       |  ELSE list_reduce(list_transform(range(1, len($a) + 1),
       |        __di -> $a[__di] * $b[__di]), (__da, __db) -> __da + __db)
       |    / (sqrt(list_reduce(list_transform($a,
       |        __dx -> __dx * __dx), (__da, __db) -> __da + __db))
       |      * sqrt(list_reduce(list_transform($b,
       |        __dx -> __dx * __dx), (__da, __db) -> __da + __db)))
       |  END)""".stripMargin

  /** The MMR greedy-selection rounds as CTEs (round 13) — the SQL twin
    * of Knn.mmrSelect: `candCte` exposes (query_id, id, rel, vec
    * DOUBLE[]); round 1 picks per-query argmax rel, each later round
    * scores the remaining candidates λμ·rel − (1e6−λμ)·max-sim-to-
    * selected (6-dp-micro ordered-fold cosines) and picks the argmax,
    * ties → id ASC. Emits `${pfx}a$k` — the accumulated (query_id, id,
    * rank) selections. Every accumulator CTE is MATERIALIZED (each is
    * referenced by all later rounds — the CTE re-execution trap). */
  def mmrRoundCtes(pfx: String, candCte: String, k: Int,
                   lambdaMicro: Long): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${pfx}a1 AS MATERIALIZED (
         |  SELECT query_id, id, 1 AS rank FROM (
         |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, id ASC) AS rn FROM $candCte)
         |  WHERE rn = 1)""".stripMargin)
    for (r <- 2 to k) {
      val p = s"${pfx}a${r - 1}"
      sb.append(",\n").append(
        s"""${pfx}m$r AS (
           |  SELECT c.query_id, c.id, c.rel,
           |    MAX(CAST(ROUND(ROUND(${cosFoldSql("c.vec", "sv.vec")},
           |      6) * 1e6) AS BIGINT)) AS maxsim
           |  FROM $candCte c
           |  JOIN $p s ON s.query_id = c.query_id
           |  JOIN $candCte sv ON sv.query_id = s.query_id AND sv.id = s.id
           |  WHERE NOT EXISTS (SELECT 1 FROM $p x
           |                    WHERE x.query_id = c.query_id AND x.id = c.id)
           |  GROUP BY c.query_id, c.id, c.rel),
           |${pfx}s$r AS (
           |  SELECT query_id, id, $r AS rank FROM (
           |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
           |      ORDER BY rel * $lambdaMicro
           |               - maxsim * ${1000000L - lambdaMicro} DESC,
           |               id ASC) AS rn
           |    FROM ${pfx}m$r) WHERE rn = 1),
           |${pfx}a$r AS MATERIALIZED (
           |  SELECT * FROM $p UNION ALL SELECT * FROM ${pfx}s$r)"""
          .stripMargin)
    }
    sb.toString
  }

  /** Deterministic derived PARTSUPP — the dbgen partsupp generator
    * (4 suppliers per part, stride S/4 + partkey/S, 0-based keys)
    * re-expressed as pure non-negative integer SQL so BOTH engines
    * derive the IDENTICAL table (the test schema ships no partsupp
    * parquet; this closes the Q2/Q11/Q16/Q20 fidelity gap without
    * touching the read-only testdata). availqty / supplycost_c are
    * affine mixes mod primes — integers end-to-end, so no decimal
    * drift can enter the oracle compare. Spark side: `n` (the
    * supplier count) is inlined as a LITERAL and the 4-way fan-out is
    * `explode(array(...))` — a Generate over the part scan, ZERO
    * joins, so the TPC-H PlanSpec no-BNLJ asserts keep their teeth
    * (a VALUES cross join would plan as a 1×4 BroadcastNestedLoop). */
  def partsuppSparkSql(n: Long): String =
    s"""SELECT ps_partkey, ps_suppkey,
       |  (ps_partkey * 7 + i * 13) % 9999 + 1 AS ps_availqty,
       |  (ps_partkey * 31 + ps_suppkey * 17) % 99901 + 100
       |    AS ps_supplycost_c
       |FROM (SELECT ps_partkey, i,
       |        (ps_partkey + i * (${n / 4}L + ps_partkey DIV ${n}L))
       |          % ${n}L AS ps_suppkey
       |      FROM (SELECT p_partkey AS ps_partkey,
       |              explode(array(0L, 1L, 2L, 3L)) AS i
       |            FROM g_part))""".stripMargin

  /** The DuckDB twin of [[partsuppSparkSql]]: same math with `n`
    * computed in-query (oracle strings are static — no data access),
    * `//` for the truncating division Spark spells `DIV` (both
    * truncate; operands non-negative, so they agree exactly). */
  val partsuppDuckSql: String =
    """SELECT p_partkey AS ps_partkey,
      |  (p_partkey + i.i * ((ns.n // 4) + (p_partkey // ns.n))) % ns.n
      |    AS ps_suppkey,
      |  (p_partkey * 7 + i.i * 13) % 9999 + 1 AS ps_availqty,
      |  (p_partkey * 31
      |    + ((p_partkey + i.i * ((ns.n // 4) + (p_partkey // ns.n)))
      |       % ns.n) * 17) % 99901 + 100 AS ps_supplycost_c
      |FROM part
      |CROSS JOIN (VALUES (0), (1), (2), (3)) AS i(i)
      |CROSS JOIN (SELECT COUNT(*) AS n FROM supplier) ns""".stripMargin

  /** md5-hex first-15-chars → 60-bit int, the DuckDB twin of
    * Hashes.md5Hash64. The lambda variable is deliberately obscure
    * (`__hx`): DuckDB lambda parameters shadow same-named OUTER
    * column references inside `x`, which silently de-correlates any
    * caller passing e.g. a row index named `i` (the q222 join-size
    * oracle hit exactly that — its sketch rows all hashed alike). */
  def md5Hash64Sql(x: String): String =
    s"""list_reduce(list_transform(range(1,16), __hx ->
       |      CAST(strpos('0123456789abcdef', substr(md5($x), __hx, 1)) - 1 AS BIGINT)),
       |    (a, b) -> a * 16 + b)""".stripMargin

  /** The exact hyperplanes Dedup.embeddingPairs(seed=7) draws, inlined
    * as SQL literals so the oracle replays the same buckets — one row
    * per (table, plane). Doubles are rendered with Double.toString
    * (shortest round-trip form), which DuckDB parses back to the
    * identical double. */
  def hyperplanesSql(planes: Int, dim: Int, seed: Long,
                             tables: Int = 1): String = {
    val rnd = new scala.util.Random(seed)
    val all = Seq.fill(tables)(Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian())))
    (for ((hps, t) <- all.zipWithIndex; (hp, i) <- hps.zipWithIndex)
      yield s"($t, $i, [${hp.map(_.toString).mkString(", ")}])")
      .mkString(",\n      ")
  }

  /** The per-slot XOR salts Md5MinHashSig uses, as DuckDB VALUES rows
    * (regenerated from the same splitmix64 stream). */
  def xorSaltsSql(k: Int, seed: Long): String =
    graft.plans.Md5Kernel.salts(k, seed).zipWithIndex
      .map { case (s, j) => s"($j, $s)" }.mkString(", ")

  /** Shared CTE chain for the BPE oracles: `rounds` merge rounds
    * unrolled — per round, the weighted adjacent-pair argmax (ties
    * (f DESC, a, b)) and the greedy-leftmost rewrite as the SAME
    * wrapped-symbol string replace the Spark trainer runs (Bpe.train:
    * chr(31)=SEP before, chr(30)=END after each symbol — both
    * boundaries pinned, so the pattern can never false-match a
    * symbol's prefix mid-symbol); `word` rides along so the
    * token-count oracle can join the final vocabulary back to docs. */
  /** Byte j (1-based) of a DuckDB string's UTF-8 encoding, parsed from
    * the hex dump (the md5Hash64Sql strpos discipline — no blob
    * indexing needed). */
  def byteAtSql(word: String, j: String): String =
    s"""(16 * (strpos('0123456789ABCDEF',
       |         substr(hex(encode($word)), 2 * $j - 1, 1)) - 1)
       |   + strpos('0123456789ABCDEF',
       |         substr(hex(encode($word)), 2 * $j, 1)) - 1)""".stripMargin

  /** GPT-2 bytes_to_unicode as a CASE over a byte expression — the
    * DuckDB twin of BpeKernel.byteToUnicode: identity for the
    * printable/latin ranges, 256+n in byte order for the shifted rest
    * (0–32 → +256, 127–160 → +162, 173 → 323). */
  def byteRemapSql(b: String): String =
    s"""chr(CAST(CASE WHEN ($b BETWEEN 33 AND 126) OR ($b BETWEEN 161 AND 172)
       |            OR ($b >= 174) THEN $b
       |         WHEN $b <= 32 THEN 256 + $b
       |         WHEN $b <= 160 THEN $b + 162
       |         ELSE 323 END AS INTEGER))""".stripMargin

  def bpeRoundsCte(rounds: Int, byteLevel: Boolean = false): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT u.a AS a, u.b AS b, CAST(SUM(freq) AS BIGINT) AS f FROM (
         |    SELECT unnest(list_transform(range(1, len(t)),
         |             i -> struct_pack(a := t[i], b := t[i+1]))) AS u, freq
         |    FROM (SELECT string_split(substr(symstr, 2, len(symstr) - 2),
         |                              chr(30)||chr(31)) AS t, freq
         |          FROM w${r - 1}) x) y
         |  GROUP BY u.a, u.b),
         |b$r AS (SELECT a, b, f FROM p$r ORDER BY f DESC, a ASC, b ASC LIMIT 1),
         |w$r AS (SELECT word,
         |          replace(symstr, chr(31)||a||chr(30)||chr(31)||b||chr(30),
         |                  chr(31)||a||b||chr(30)) AS symstr,
         |          freq
         |        FROM w${r - 1} CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    val sym =
      if (byteLevel) byteRemapSql(byteAtSql("word", "j"))
      else "word[j]"
    val n = if (byteLevel) "octet_length(encode(word))" else "len(word)"
    s"""WITH w0 AS (
       |  SELECT word,
       |         array_to_string(
       |           list_transform(range(1, $n+1),
       |                          j -> chr(31) || $sym || chr(30)), '') AS symstr,
       |         CAST(f AS BIGINT) AS freq
       |  FROM (SELECT tok AS word, COUNT(*) AS f
       |        FROM (SELECT unnest($toksLower) AS tok FROM documents) z
       |        GROUP BY tok) wc),
       |$roundCtes""".stripMargin
  }

  /** The q85 oracle: the merge list itself. */
  /** Vocab CTEs shared by q115/q116 (expects bpeRoundsCte's w0/b1..b8
    * in scope): base chars with lexical contiguous ids, then
    * first-occurrence merge outputs appended in rank order. */
  lazy val bpeVocabCtes: String =
    s"""chars AS (
       |  SELECT DISTINCT t AS token FROM (
       |    SELECT unnest(list_transform(range(1, len(word)+1),
       |                                 j -> word[j])) AS t
       |    FROM w0) x
       |  WHERE t <> ''),
       |$bpeVocabTailCtes""".stripMargin

  /** Byte-level twin of [[bpeVocabCtes]] (round 11): the base-symbol
    * universe is each word's UTF-8 bytes through the GPT-2 remap —
    * the same hex-parse + CASE walk bpeRoundsCte(byteLevel) seeds w0
    * with, so ids replay exactly against Bpe.vocabTable(byteLevel). */
  lazy val bpeVocabCtesBytes: String =
    s"""chars AS (
       |  SELECT DISTINCT t AS token FROM (
       |    SELECT unnest(list_transform(
       |             range(1, octet_length(encode(word))+1),
       |             j -> ${byteRemapSql(byteAtSql("word", "j"))})) AS t
       |    FROM w0) x
       |  WHERE t <> ''),
       |$bpeVocabTailCtes""".stripMargin

  /** Shared tail of the two vocab builders: lexical contiguous base
    * ids, then first-occurrence merge outputs appended in rank order. */
  private lazy val bpeVocabTailCtes: String =
    s"""base AS (
       |  SELECT token,
       |    CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS id
       |  FROM chars),
       |msteps AS (
       |  ${(1 to 8).map(r => s"SELECT $r AS step, a || b AS token FROM b$r").mkString("\n  UNION ALL ")}),
       |mfirst AS (SELECT token, MIN(step) AS st FROM msteps GROUP BY token),
       |mids AS (
       |  SELECT token,
       |    (SELECT COUNT(*) FROM base)
       |      + CAST(row_number() OVER (ORDER BY st) - 1 AS BIGINT) AS id
       |  FROM mfirst)""".stripMargin

  def bpeOracleSql(rounds: Int, byteLevel: Boolean = false): String = {
    val steps = (1 to rounds).map(r =>
      s"SELECT $r AS step, a AS lhs, b AS rhs, a || b AS merged, f AS freq FROM b$r")
      .mkString("\n  UNION ALL ")
    s"""${bpeRoundsCte(rounds, byteLevel)}
       |SELECT step, lhs, rhs, merged, freq FROM (
       |  $steps) m
       |ORDER BY step""".stripMargin
  }

  /** The q92 oracle: per-doc subword counts under the learned merges —
    * the final round's per-word symbol counts joined back to each
    * doc's word instances. */
  def bpeTokensOracleSql(rounds: Int,
                                 docFilter: String = "doc_id < 100"): String =
    s"""${bpeRoundsCte(rounds)},
       |vocab AS (
       |  SELECT word,
       |         CAST(len(string_split(substr(symstr, 2, len(symstr) - 2),
       |                               chr(30)||chr(31))) AS BIGINT) AS ntok
       |  FROM w$rounds),
       |docw AS (
       |  SELECT doc_id, unnest($toksLower) AS word
       |  FROM documents WHERE $docFilter)
       |SELECT dw.doc_id,
       |  CAST(SUM(v.ntok) AS BIGINT) AS n_bpe_tokens,
       |  COUNT(*) AS n_words
       |FROM docw dw JOIN vocab v USING (word)
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin

  /** Ordered sequential dot product — same fold as Vectors.dot
    * (aggregate over zip_with), so the sign test is bit-identical. */
  def seqDotSql(vec: String, plane: String, dim: Int): String =
    s"list_reduce(list_transform(range(1, ${dim + 1}), j -> CAST($vec[j] AS DOUBLE) * $plane[j]), (a, b) -> a + b)"

  /** Seeded gaussian PQ codebooks [m][k][subDim], shared by the q51
    * gate query and its oracle (inlined via pqBooksSql). */
  def pqBooks(m: Int, k: Int, subDim: Int,
                      seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(m)(Array.fill(k)(Array.fill(subDim)(rnd.nextGaussian())))
  }

  /** The same codebooks as DuckDB VALUES rows (s, c, cw). */
  def pqBooksSql(m: Int, k: Int, subDim: Int, seed: Long): String = {
    val books = pqBooks(m, k, subDim, seed)
    (for (s <- 0 until m; c <- 0 until k)
      yield s"($s, $c, [${books(s)(c).map(_.toString).mkString(", ")}])")
      .mkString(",\n      ")
  }



  /** The q112 measured-grid replay, shared with the q118 auto-pick
    * wrapper. */
  lazy val lshGridOracleSql: String = {
    def bandCte(name: String, bands: Int, r: Int): String =
      s"""$name AS (
         |  SELECT doc_id, bnd,
         |         md5(array_to_string(sig[bnd*$r+1 : bnd*$r+$r], ',')) AS bucket
         |  FROM sig CROSS JOIN (SELECT unnest(range($bands)) AS bnd) x),
         |${name}c AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM $name a JOIN $name b
         |    ON a.bnd = b.bnd AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""
        .stripMargin
    def metric(bands: Int, r: Int, c: String): String =
      s"""SELECT $bands AS bands, $r AS rows_per_band,
         |  (SELECT COUNT(*) FROM $c) AS n_candidates,
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  (SELECT COUNT(*) FROM $c x JOIN truth t
         |     ON x.id_a = t.id_a AND x.id_b = t.id_b) AS hits""".stripMargin
    s"""$shinglesSql,
       |capped AS (
       |  SELECT * FROM ex QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
       |truth AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |           COUNT(*) * 1.0 / (a.n_sh + b.n_sh - COUNT(*)) AS jaccard
       |    FROM capped a JOIN capped b
       |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh) p
       |  WHERE jaccard >= 0.35),
       |hs AS (SELECT doc_id, ${md5Hash64Sql("shingle")} AS h FROM ex),
       |slot AS (
       |  SELECT doc_id, j, MIN(xor(h, salt)) AS m
       |  FROM hs CROSS JOIN (VALUES ${xorSaltsSql(64, 42L)}) s(j, salt)
       |  GROUP BY doc_id, j),
       |sig AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM slot GROUP BY doc_id),
       |${bandCte("g1", 16, 4)},
       |${bandCte("g2", 4, 16)},
       |${bandCte("g3", 32, 2)},
       |m AS (
       |  ${metric(16, 4, "g1c")}
       |  UNION ALL ${metric(4, 16, "g2c")}
       |  UNION ALL ${metric(32, 2, "g3c")})
       |SELECT CAST(bands AS INT) AS bands,
       |  CAST(rows_per_band AS INT) AS rows_per_band,
       |  CAST(n_candidates AS BIGINT) AS n_candidates,
       |  CAST(n_truth AS BIGINT) AS n_truth,
       |  CAST(hits AS BIGINT) AS hits,
       |  CASE WHEN n_candidates = 0 THEN 1.0
       |       ELSE CAST(hits AS DOUBLE) / n_candidates END AS "precision",
       |  CASE WHEN n_truth = 0 THEN 1.0
       |       ELSE CAST(hits AS DOUBLE) / n_truth END AS recall
       |FROM m ORDER BY bands, rows_per_band""".stripMargin
  }

  /** Generated DuckDB replay for [[graft.operators.KeyChecks
    * .compositeKeys]]: every combo's exact distinct/null counts in one
    * aggregate, then the lattice-implication CASE per row. A combo is
    * implied iff ANY proper subset's distinct count equals n — the
    * transitive closure of the operator's level-by-level key set
    * (supersets of keys are keys, so subset d = n is exactly
    * "contains a key"). Implied rows carry the -1 sentinels. */
  def compositeKeysOracleSql(table: String, cols: Seq[String],
                                     maxArity: Int): String = {
    val combos = (1 to maxArity).flatMap(a =>
      cols.combinations(a).map(_.toList)).toList
    def alias(s: List[String]) = s.mkString("_").replaceAll("[^a-zA-Z0-9_]", "")
    val aggs = combos.flatMap { s =>
      val nullCond = s.map(c => s"$c IS NULL").mkString(" OR ")
      Seq(
        s"CAST(COUNT(DISTINCT row(${s.mkString(", ")})) AS BIGINT) AS d_${alias(s)}",
        s"CAST(COALESCE(SUM(CASE WHEN $nullCond THEN 1 ELSE 0 END), 0) AS BIGINT) AS m_${alias(s)}")
    }
    val rows = combos.map { s =>
      val subs = (1 until s.length).flatMap(a => s.combinations(a)).toList
      val cond =
        if (subs.isEmpty) "FALSE"
        else subs.map(sub => s"d_${alias(sub)} = n").mkString(" OR ")
      val d = s"d_${alias(s)}"; val m = s"m_${alias(s)}"
      s"""SELECT '${s.mkString(",")}' AS columns, ${s.length} AS arity, n,
         |    CASE WHEN $cond THEN -1 ELSE $d END AS n_distinct,
         |    CASE WHEN $cond THEN -1 ELSE $m END AS n_nulls,
         |    CASE WHEN $cond THEN TRUE ELSE $d = n END AS is_key,
         |    CASE WHEN $cond THEN FALSE ELSE $d = n END AS is_minimal_key
         |  FROM s""".stripMargin
    }
    s"""WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  ${aggs.mkString(",\n  ")}
       |FROM $table)
       |SELECT columns, CAST(arity AS BIGINT) AS arity, n, n_distinct,
       |  n_nulls, is_key, is_minimal_key
       |FROM (${rows.mkString("\n  UNION ALL ")})
       |ORDER BY arity, columns""".stripMargin
  }

  /** Generated DuckDB replay for [[graft.operators.Stats.corrMatrix]]:
    * per pair, the six pairwise-complete exact moments as HUGEINTs in
    * one aggregate, then the Pearson close in the operator's fixed
    * float order (exact-integer → double casts on both engines round
    * identically). */
  def corrMatrixOracleSql(srcSelect: String,
                                  cols: Seq[String]): String = {
    val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val aggs = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      val both = s"$a IS NOT NULL AND $b IS NOT NULL"
      Seq(
        s"CAST(COUNT(CASE WHEN $both THEN 1 END) AS BIGINT) AS n_$i",
        s"COALESCE(SUM(CASE WHEN $both THEN CAST($a AS HUGEINT) END), 0) AS sx_$i",
        s"COALESCE(SUM(CASE WHEN $both THEN CAST($b AS HUGEINT) END), 0) AS sy_$i",
        s"COALESCE(SUM(CASE WHEN $both THEN CAST($a AS HUGEINT) * $a END), 0) AS sxx_$i",
        s"COALESCE(SUM(CASE WHEN $both THEN CAST($b AS HUGEINT) * $b END), 0) AS syy_$i",
        s"COALESCE(SUM(CASE WHEN $both THEN CAST($a AS HUGEINT) * $b END), 0) AS sxy_$i")
    }
    val rows = pairs.zipWithIndex.map { case ((a, b), i) =>
      val vx = s"CAST(n_$i AS DOUBLE) * CAST(sxx_$i AS DOUBLE) " +
        s"- CAST(sx_$i AS DOUBLE) * CAST(sx_$i AS DOUBLE)"
      val vy = s"CAST(n_$i AS DOUBLE) * CAST(syy_$i AS DOUBLE) " +
        s"- CAST(sy_$i AS DOUBLE) * CAST(sy_$i AS DOUBLE)"
      val cov = s"CAST(n_$i AS DOUBLE) * CAST(sxy_$i AS DOUBLE) " +
        s"- CAST(sx_$i AS DOUBLE) * CAST(sy_$i AS DOUBLE)"
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n_$i AS n,
         |  CASE WHEN n_$i >= 2 AND $vx > 0 AND $vy > 0
         |    THEN CAST(round(($cov) / (sqrt($vx) * sqrt($vy)) * 1e6)
         |      AS BIGINT)
         |  END AS corr_micro FROM m""".stripMargin
    }
    s"""WITH src AS ($srcSelect),
       |m AS (SELECT
       |  ${aggs.mkString(",\n  ")}
       |FROM src)
       |SELECT col_a, col_b, n, corr_micro
       |FROM (${rows.mkString("\n  UNION ALL ")})
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** Generated DuckDB replay of the greedy k-center traversal: one
    * chained CTE per round — pick i is the argmax of 1 − max(6-dp
    * cosines to centers 1..i−1), ties to the smallest id, previous
    * picks excluded — exactly the operator's per-round aggregate. */
  def kCenterOracleSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id, " +
      "embedding AS vec FROM embeddings),\n"
    sb ++= "c1 AS (SELECT MIN(id) AS id, CAST(0 AS BIGINT) " +
      "AS dist_micro FROM e),\n"
    sb ++= "v1 AS (SELECT e.vec FROM e JOIN c1 ON e.id = c1.id),\n"
    for (i <- 2 to k) {
      val sims = (1 until i).map(j => s"ROUND(${cosSql("e.vec", s"v$j.vec")}, 6)")
      val g = if (sims.size == 1) sims.head
        else s"GREATEST(${sims.mkString(", ")})"
      val joins = (1 until i).map(j => s"v$j").mkString(", ")
      val excl = (1 until i).map(j => s"SELECT id FROM c$j")
        .mkString(" UNION ALL ")
      sb ++= s"s$i AS (SELECT e.id, 1.0 - $g AS d FROM e, $joins " +
        s"WHERE e.id NOT IN ($excl)),\n"
      sb ++= s"c$i AS (SELECT id, CAST(round(d * 1e6) AS BIGINT) " +
        s"AS dist_micro FROM s$i ORDER BY d DESC, id LIMIT 1),\n"
      sb ++= s"v$i AS (SELECT e.vec FROM e JOIN c$i ON e.id = c$i.id),\n"
    }
    val sel = (1 to k).map(i =>
      s"SELECT $i AS rank, id, dist_micro FROM c$i").mkString("\nUNION ALL ")
    sb ++= s"out AS ($sel)\n"
    sb ++= "SELECT CAST(rank AS BIGINT) AS rank, id, dist_micro " +
      "FROM out ORDER BY rank"
    sb.toString
  }

  /** The q65 kNN-graph replay (k=3, c=16, nprobe=2, portable md5
    * hash) extended with the margin close: neighborhood sums as exact
    * BIGINT micros, margin in the operator's fixed float order. */
  lazy val marginPairsOracleSql =
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
       |    FROM embeddings q CROSS JOIN cents c) x
       |  WHERE rk <= 2),
       |scored AS (
       |  SELECT qa.query_id, cl.id AS neighbor_id,
       |    ROUND(${cosSql("cl.vec", "qa.qvec")}, 6) AS sim
       |  FROM cells cl JOIN qa ON cl.cell = qa.cell
       |  WHERE cl.id <> qa.query_id),
       |g AS (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id ASC) AS rank
       |  FROM scored QUALIFY rank <= 3),
       |deg AS (
       |  SELECT query_id AS id,
       |    CAST(SUM(CAST(round(sim * 1e6) AS BIGINT)) AS BIGINT) AS s,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM g GROUP BY 1)
       |SELECT g.query_id, g.neighbor_id, g.sim, g.rank,
       |  CAST(round(
       |    CAST(CAST(round(g.sim * 1e6) AS BIGINT) AS DOUBLE)
       |      / ((CAST(dq.s AS DOUBLE) / CAST(dq.n AS DOUBLE)
       |          + CAST(dn.s AS DOUBLE) / CAST(dn.n AS DOUBLE)) / 2.0)
       |    * 1e6) AS BIGINT) AS margin_micro
       |FROM g
       |JOIN deg dq ON dq.id = g.query_id
       |JOIN deg dn ON dn.id = g.neighbor_id
       |ORDER BY g.query_id, g.rank""".stripMargin

  lazy val ivfOracleSql =
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
         |SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin

  lazy val asofOracleSql =
    """WITH o1 AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
      |  FROM orders
      |  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
      |                             ORDER BY o_orderkey) = 1)
      |SELECT e.event_id, e.user_id, o.o_orderkey,
      |  CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS order_epoch,
      |  o.o_totalprice
      |FROM events e
      |ASOF LEFT JOIN o1 o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY e.event_id""".stripMargin
}
