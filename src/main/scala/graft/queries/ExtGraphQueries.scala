package graft.queries

import graft.Tables
import graft.ext.{Dedup, Graph}

import ExtShared._

/** Graph family: triangle count.
  *
  * Declared-query registry split out of the former monolithic
  * ExtQueries.scala (round 10, mechanical — blocks moved verbatim);
  * shared caps/CTE text/checksum helpers live in [[ExtShared]].
  */
object ExtGraphQueries {

  val all: Seq[Declared] = Seq(

    // Triangle/wedge census ([[Graph.triangleStats]]) of the MinHash-
    // LSH candidate graph: transitivity (3·triangles/wedges) is the
    // dedup-policy diagnostic — a highly transitive pair graph means
    // pairwise drops under-merge and the component policy is worth its
    // iterative cost. Ordered wedge enumeration (a<b<c) counts each
    // triangle exactly once; all-integer output, so the oracle replays
    // the same joins bit-for-bit.
    Declared(
      "ext_graph_triangles",
      (s, d) => {
        // same checkpointed candidate relation the verified-pairs
        // pipeline uses (ext_dedup_lsh_verified): the census and the
        // verify stage are two consumers of ONE candidate generation
        val cands = Dedup.minhashLshCandidates(Tables.documents(s, d),
          "doc_id", "text", k = 16, rowsPerBand = 4, maxBucket = MaxBucket)
        // default cacheTag: the canonical edge relation is shared with
        // kCore's (same input, same builder) — a query-private tag
        // here double-persisted the canonically-identical plan
        Graph.triangleStats(cands, "doc_a", "doc_b")
      },
      Some(s"""WITH $minhashSigCte,
               okb AS (
                 SELECT band, sig FROM sigs
                 GROUP BY band, sig HAVING COUNT(*) <= $MaxBucket),
               sig2 AS (SELECT sigs.* FROM sigs JOIN okb USING (band, sig)),
               e AS (
                 SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                 FROM sig2 a JOIN sig2 b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
               deg AS (
                 SELECT node, COUNT(*) AS d FROM (
                   SELECT a AS node FROM e UNION ALL SELECT b FROM e)
                 GROUP BY node),
               tri AS (
                 SELECT COUNT(*) AS n_triangles
                 FROM e e1
                 JOIN e e2 ON e1.b = e2.a
                 JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
               SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
                      (SELECT COUNT(*) FROM e) AS n_edges,
                      (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
                      (SELECT n_triangles FROM tri) AS n_triangles""")),

    // Integer-exact PageRank ([[Graph.pageRank]]) over the same
    // MinHash-LSH candidate graph: 5 synchronous iterations of
    // fixed-point (scale=1e9) floor-div arithmetic — centrality as a
    // survivor-selection / hub-diagnostic signal on the near-dup
    // graph. Every value is a BIGINT produced by integer ops only, so
    // the full per-node rank VECTOR is hash-gateable (no float
    // reduction-order noise to project away); the oracle unrolls the
    // same five iterations as CTEs over the shared candidate-graph
    // formulation. The candidate relation is the same PlanCache'd
    // artifact triangles/lsh_verified use — one generation, N
    // consumers.
    Declared(
      "ext_graph_pagerank",
      (s, d) => {
        val cands = Dedup.minhashLshCandidates(Tables.documents(s, d),
          "doc_id", "text", k = 16, rowsPerBand = 4, maxBucket = MaxBucket)
        Graph.pageRank(cands, "doc_a", "doc_b", iters = 5)
          .orderBy("node")
      },
      Some(s"""WITH $minhashSigCte,
               okb AS (
                 SELECT band, sig FROM sigs
                 GROUP BY band, sig HAVING COUNT(*) <= $MaxBucket),
               sig2 AS (SELECT sigs.* FROM sigs JOIN okb USING (band, sig)),
               e AS (
                 SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                 FROM sig2 a JOIN sig2 b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
               ed AS (SELECT a AS src, b AS dst FROM e
                      UNION ALL SELECT b AS src, a AS dst FROM e),
               dg AS (SELECT src, COUNT(*) AS d FROM ed GROUP BY src),
               edd AS (SELECT ed.src, ed.dst, dg.d FROM ed JOIN dg USING (src)),
               r0 AS (SELECT src AS v, CAST(1000000000 AS BIGINT) AS r FROM dg),
               r1 AS (SELECT edd.dst AS v,
                             CAST(150000000 + (85 * SUM(r0.r // edd.d)) // 100 AS BIGINT) AS r
                      FROM edd JOIN r0 ON edd.src = r0.v GROUP BY edd.dst),
               r2 AS (SELECT edd.dst AS v,
                             CAST(150000000 + (85 * SUM(r1.r // edd.d)) // 100 AS BIGINT) AS r
                      FROM edd JOIN r1 ON edd.src = r1.v GROUP BY edd.dst),
               r3 AS (SELECT edd.dst AS v,
                             CAST(150000000 + (85 * SUM(r2.r // edd.d)) // 100 AS BIGINT) AS r
                      FROM edd JOIN r2 ON edd.src = r2.v GROUP BY edd.dst),
               r4 AS (SELECT edd.dst AS v,
                             CAST(150000000 + (85 * SUM(r3.r // edd.d)) // 100 AS BIGINT) AS r
                      FROM edd JOIN r3 ON edd.src = r3.v GROUP BY edd.dst),
               r5 AS (SELECT edd.dst AS v,
                             CAST(150000000 + (85 * SUM(r4.r // edd.d)) // 100 AS BIGINT) AS r
                      FROM edd JOIN r4 ON edd.src = r4.v GROUP BY edd.dst)
               SELECT v AS node, r AS pr FROM r5 ORDER BY node""")),

    // k-core peeling ([[Graph.kCore]], k=3, 3 synchronous rounds) over
    // the same shared candidate graph: the dense-nucleus detector —
    // template/boilerplate families keep ≥3 near-dup neighbors through
    // every peel, incidental pairs cascade out (at sf0.01 the rounds
    // remove 20 → 4 → 1 nodes: the CASCADE, not just the first filter,
    // is what the row pins). Output is every survivor with its
    // induced-subgraph degree — all integers, hash-gated; the oracle
    // unrolls the three peels as semi-join CTEs.
    Declared(
      "ext_graph_kcore",
      (s, d) => {
        val cands = Dedup.minhashLshCandidates(Tables.documents(s, d),
          "doc_id", "text", k = 16, rowsPerBand = 4, maxBucket = MaxBucket)
        Graph.kCore(cands, "doc_a", "doc_b", k = 3, rounds = 3)
          .orderBy("node")
      },
      Some(s"""WITH $minhashSigCte,
               okb AS (
                 SELECT band, sig FROM sigs
                 GROUP BY band, sig HAVING COUNT(*) <= $MaxBucket),
               sig2 AS (SELECT sigs.* FROM sigs JOIN okb USING (band, sig)),
               e AS (
                 SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                 FROM sig2 a JOIN sig2 b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
               d1 AS (SELECT node, COUNT(*) AS d FROM (
                        SELECT a AS node FROM e UNION ALL SELECT b FROM e)
                      GROUP BY node),
               a1 AS (SELECT node FROM d1 WHERE d >= 3),
               e1 AS (SELECT e.a, e.b FROM e
                      SEMI JOIN a1 x ON e.a = x.node
                      SEMI JOIN a1 y ON e.b = y.node),
               d2 AS (SELECT node, COUNT(*) AS d FROM (
                        SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1)
                      GROUP BY node),
               a2 AS (SELECT node FROM d2 WHERE d >= 3),
               e2 AS (SELECT e1.a, e1.b FROM e1
                      SEMI JOIN a2 x ON e1.a = x.node
                      SEMI JOIN a2 y ON e1.b = y.node),
               d3 AS (SELECT node, COUNT(*) AS d FROM (
                        SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2)
                      GROUP BY node),
               a3 AS (SELECT node FROM d3 WHERE d >= 3),
               e3 AS (SELECT e2.a, e2.b FROM e2
                      SEMI JOIN a3 x ON e2.a = x.node
                      SEMI JOIN a3 y ON e2.b = y.node)
               SELECT node, COUNT(*) AS deg FROM (
                 SELECT a AS node FROM e3 UNION ALL SELECT b AS node FROM e3)
               GROUP BY node ORDER BY node""")),

    // Common-neighbor census ([[Graph.commonNeighbors]], minInter=2)
    // over the shared candidate graph: every pair sharing ≥ 2 LSH
    // neighbors with the intersection size and both degrees — the
    // link-prediction / banding-near-miss signal (a high-overlap pair
    // with no direct edge is a near-dup the bands missed; the caller
    // divides inter / (deg_a + deg_b − inter) for the Jaccard score).
    // ALL columns are exact integers, so the full pair frame is
    // hash-gated — no float projection needed. The oracle replays the
    // symmetrize → wedge-join → count chain; the candidate relation
    // is the same PlanCache'd artifact the other three graph rows
    // consume — one generation, four consumers.
    Declared(
      "ext_graph_common_neighbors",
      (s, d) => {
        val cands = Dedup.minhashLshCandidates(Tables.documents(s, d),
          "doc_id", "text", k = 16, rowsPerBand = 4, maxBucket = MaxBucket)
        Graph.commonNeighbors(cands, "doc_a", "doc_b", minInter = 2)
          .orderBy("a", "b")
      },
      Some(s"""WITH $minhashSigCte,
               okb AS (
                 SELECT band, sig FROM sigs
                 GROUP BY band, sig HAVING COUNT(*) <= $MaxBucket),
               sig2 AS (SELECT sigs.* FROM sigs JOIN okb USING (band, sig)),
               e AS (
                 SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                 FROM sig2 a JOIN sig2 b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
               ed AS (SELECT a AS x, b AS y FROM e
                      UNION ALL SELECT b AS x, a AS y FROM e),
               deg AS (SELECT x AS node, COUNT(*) AS d FROM ed GROUP BY 1),
               p AS (SELECT e1.y AS a, e2.y AS b, COUNT(*) AS inter
                     FROM ed e1 JOIN ed e2 ON e1.x = e2.x AND e1.y < e2.y
                     GROUP BY 1, 2)
               SELECT p.a, p.b, CAST(inter AS BIGINT) AS inter,
                      CAST(da.d AS BIGINT) AS deg_a,
                      CAST(db.d AS BIGINT) AS deg_b
               FROM p JOIN deg da ON p.a = da.node
               JOIN deg db ON p.b = db.node
               WHERE inter >= 2 ORDER BY p.a, p.b"""))
  )
}
