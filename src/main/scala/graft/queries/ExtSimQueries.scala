package graft.queries

import graft.Tables
import graft.ext.{PlanCache, Similarity}
import org.apache.spark.sql.functions._

import ExtShared._

/** Similarity family: LSH census/recall/top-k, brute-force and
  * IVF ANN, quantized scan.
  *
  * Declared-query registry split out of the former monolithic
  * ExtQueries.scala (round 10, mechanical — blocks moved verbatim);
  * shared caps/CTE text/checksum helpers live in [[ExtShared]].
  */
object ExtSimQueries {

  /** The retrained-IVF index LIFECYCLE, run once per (session, corpus)
    * and shared by ext_sim_ivf_retrain and ext_sim_ivf_skew: publish
    * the stale (standing-only) index as v0, prove pre-swap serving
    * still binds to it, retrain over the full corpus and publish v1.
    * Returns (indexDir, stale-serving held, swap committed cleanly).
    * A fresh dir per Bench replay would leak; the serving paths re-run
    * per replay against the published dir.
    */
  private def retrainedIvfDir(s: org.apache.spark.sql.SparkSession,
                              emb: org.apache.spark.sql.DataFrame)
      : (String, Boolean, Boolean) =
    PlanCache.artifact("ivfRetrain/dir/vec_id/embedding/16/3", emb) { _ =>
      val standing = emb.where(col("vec_id") % 10 =!= 0)
      val p = java.nio.file.Files
        .createTempDirectory("graft_ivf_retrain_").toString
      val stale = Similarity.IvfIndex.build(standing, "vec_id",
        "embedding", k = 16, iters = 3)
      Similarity.IvfIndex.save(s, stale, s"$p/v0")
      // retrain complete but UNPUBLISHED: readers must still bind
      // to the stale version
      val fresh = Similarity.IvfIndex.build(emb, "vec_id", "embedding",
        k = 16, iters = 3)
      val pre = Similarity.IvfIndex.loadLatest(s, p)
      val staleOk =
        Similarity.IvfIndex.versions(s, p) == Seq(0L) &&
        pre.centers.map(_.toSeq).toSeq ==
          stale.centers.map(_.toSeq).toSeq
      val published = Similarity.IvfIndex.retrainPublish(emb, "vec_id",
        "embedding", k = 16, iters = 3, indexDir = p)
      val sOk =
        Similarity.IvfIndex.versions(s, p) == Seq(0L, 1L) &&
        published.centers.map(_.toSeq).toSeq ==
          fresh.centers.map(_.toSeq).toSeq &&
        Similarity.IvfIndex.loadLatest(s, p).centers.map(_.toSeq).toSeq ==
          fresh.centers.map(_.toSeq).toSeq
      (p, staleOk, sOk)
    }

  val all: Seq[Declared] = Seq(

    // --- Similarity search --------------------------------------------

    // Integer-projected LSH bucket census per table: the correctness
    // anchor for the banded random-projection machinery.
    Declared(
      "ext_sim_lsh_census",
      (s, d) =>
        Similarity.lshBuckets(Tables.embeddings(s, d), "vec_id", "embedding",
          nTables = 4, planesPerTable = 8)
          .groupBy("tbl", "bucket").agg(count(lit(1)).as("cnt"))
          .groupBy("tbl")
          .agg(sum(when(col("cnt") >= 2, 1).otherwise(0)).as("dup_buckets"),
            sum(expr("(cnt * (cnt - 1)) div 2")).as("cand_pairs"),
            sum(col("cnt")).as("n_docs"))
          .orderBy("tbl"),
      Some(s"""WITH $lshBuckCte,
               bc AS (SELECT tbl, bucket, COUNT(*) AS cnt FROM buck GROUP BY tbl, bucket)
               SELECT tbl,
                      CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_buckets,
                      CAST(SUM((cnt * (cnt - 1)) // 2) AS BIGINT) AS cand_pairs,
                      CAST(SUM(cnt) AS BIGINT) AS n_docs
               FROM bc GROUP BY tbl ORDER BY tbl""")),

    // Brute-force pair count at a cosine margin over a bounded slice —
    // the id_checksum pins WHICH pairs matched, not just how many.
    Declared(
      "ext_sim_pairs_margin",
      (s, d) => {
        val e = Tables.embeddings(s, d).where(col("vec_id") < 500)
        val a = Similarity.normalized(e, "vec_id", "embedding", "a_id", "av")
        val b = Similarity.normalized(e, "vec_id", "embedding", "b_id", "bv")
        a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            Similarity.unitDot(col("av"), col("bv")).as("cos"))
          // 9-dp quantize before the threshold (see lshNearPairs note)
          .where(round(col("cos"), 9) >= 0.3)
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("a_id") + col("b_id")).as("id_checksum"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                         FROM embeddings WHERE vec_id < 500),
              p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                           list_cosine_similarity(a.v, b.v) AS c
                    FROM e a JOIN e b ON a.vec_id < b.vec_id)
              SELECT COUNT(*) AS n_pairs,
                     CAST(SUM(a_id + b_id) AS BIGINT) AS id_checksum
              FROM p WHERE round(c, 9) >= 0.3""")),

    // Recall of banded LSH top-10 against the brute-force top-10 for a
    // query panel — integers (hit counts), so oracle-checkable.
    Declared(
      "ext_sim_lsh_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.where(col("vec_id") < 20)
        val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
          .select("query_id", "neighbor_id")
        val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 10,
          nTables = 4, planesPerTable = 8)
          .select("query_id", "neighbor_id")
        val total = bf.agg(count(lit(1)).as("n_bf"))
        val hits = bf.join(lsh, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("n_hits"))
        total.crossJoin(hits)
      },
      Some(s"""WITH $lshBuckCte,
               cand AS (
                 SELECT DISTINCT qb.vec_id AS qid, cb.vec_id AS nid
                 FROM buck qb JOIN buck cb
                   ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
                  AND qb.vec_id < 20 AND qb.vec_id <> cb.vec_id),
               lsh AS (
                 SELECT qid, nid FROM (
                   SELECT qid, nid,
                          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                            list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[]) DESC,
                            nid) AS rk
                   FROM cand
                   JOIN embeddings eq ON eq.vec_id = qid
                   JOIN embeddings en ON en.vec_id = nid)
                 WHERE rk <= 10),
               bf AS (
                 SELECT qid, nid FROM (
                   SELECT q.vec_id AS qid, c.vec_id AS nid,
                          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                            list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rk
                   FROM embeddings q JOIN embeddings c
                     ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
                 WHERE rk <= 10)
               SELECT (SELECT COUNT(*) FROM bf) AS n_bf,
                      (SELECT COUNT(*) FROM bf JOIN lsh
                        ON bf.qid = lsh.qid AND bf.nid = lsh.nid) AS n_hits""")),

    // Top-k queries, emitted as tie-safe integer projections so each
    // is hash-checked end to end (previously rows-only float
    // listings). See [[topkChecksum]]: raw rank-k listings are
    // engine-dependent when scores tie within double noise; the
    // projection is not. The float listings remain the library API
    // (bruteForceTopK / lshTopK / ivfTopK).
    Declared(
      "ext_sim_cosine_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        topkChecksum(Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3),
          "vec_id", "embedding", k = 5))
      },
      Some(s"""WITH $bruteTopCte
               $topkChecksumSql""")),

    Declared(
      "ext_sim_lsh_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        topkChecksum(Similarity.lshTopK(emb, emb.where(col("vec_id") < 3),
          "vec_id", "embedding", k = 5, nTables = 4, planesPerTable = 8))
      },
      Some(s"""WITH $lshBuckCte,
               sc0 AS (
                 SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
                 FROM buck qb JOIN buck cb
                   ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
                  AND qb.vec_id < 3 AND qb.vec_id <> cb.vec_id),
               sc AS (
                 SELECT query_id, neighbor_id,
                        list_cosine_similarity(eq.embedding::DOUBLE[], en.embedding::DOUBLE[]) AS cos
                 FROM sc0
                 JOIN embeddings eq ON eq.vec_id = query_id
                 JOIN embeddings en ON en.vec_id = neighbor_id),
               $rankTopKthCte
               $topkChecksumSql""")),

    // IVF ANN run at nprobe = k (probe every list): provably equal to
    // the brute-force ranking — same scoring expression over the same
    // candidate set — so the DuckDB brute-force SQL oracles the WHOLE
    // IVF pipeline (centroid training, assignment, probe expansion,
    // list join, ranking) end to end. The approximate nprobe < k
    // serving path is pinned by DedupSimilaritySpec (nprobe=1 cluster
    // recovery; nprobe=k ≡ brute-force). Similarity.IvfIndex.build
    // memoizes training per corpus — the build-once/query-many shape.
    Declared(
      "ext_sim_ivf_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val index = Similarity.IvfIndex.build(emb, "vec_id", "embedding", k = 16, iters = 3)
        topkChecksum(Similarity.ivfTopK(emb, emb.where(col("vec_id") < 3),
          "vec_id", "embedding", k = 5, index.centers, nprobe = 16))
      },
      Some(s"""WITH $bruteTopCte
               $topkChecksumSql""")),

    // IVF persistence round trip ([[Similarity.IvfIndex.save]]/
    // [[Similarity.IvfIndex.load]]) under the gate: build the index,
    // persist it as the parquet centroid table, load it back, and
    // serve FROM THE LOADED index — the path a production deployment
    // actually runs (training happens in the corpus-write pipeline;
    // serving jobs only ever read the k×dim table). nprobe = k makes
    // the served ranking brute-force-equal, so the same DuckDB oracle
    // pins the full load-then-serve pipeline; roundtrip_exact
    // additionally pins bit-identity of the loaded centroids against
    // the built ones (parquet double round trip is exact — any
    // ordering or precision regression in save/load flips the column
    // before it could subtly degrade recall).
    Declared(
      "ext_sim_ivf_load",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val built = Similarity.IvfIndex.build(emb, "vec_id", "embedding",
          k = 16, iters = 3)
        // saved-once per (session, corpus plan, params), same as the
        // PQ row: save is the build-once half of the round trip — a
        // fresh temp dir per invocation leaked one per Bench replay
        val path = PlanCache.artifact("ivfLoad/save/vec_id/embedding/16/3", emb) { _ =>
          val p = java.nio.file.Files
            .createTempDirectory("graft_ivf_load_").toString
          Similarity.IvfIndex.save(s, built, p)
          p
        }
        val loaded = Similarity.IvfIndex.load(s, path)
        val exact = loaded.centers.map(_.toSeq).toSeq ==
          built.centers.map(_.toSeq).toSeq
        topkChecksum(Similarity.ivfTopK(emb, emb.where(col("vec_id") < 3),
            "vec_id", "embedding", k = 5, loaded.centers, nprobe = 16))
          .withColumn("roundtrip_exact", lit(exact))
      },
      Some(s"""WITH $bruteTopCte,
               chk AS ($topkChecksumSql)
               SELECT query_id, n_rows, n_clear, id_checksum,
                      TRUE AS roundtrip_exact
               FROM chk ORDER BY query_id""")),

    // IVF at the ACTUAL serving configuration — nprobe = 4 of 16
    // lists, the 4× candidate-scan reduction a 100 TB ANN deployment
    // runs — pinned PER QUERY against the brute-force top-10 over a
    // 20-query panel: each query row carries its brute-force count
    // (oracle-exact) and a ≥1-hit floor, and the query_id = -1 total
    // row carries the 0.40 aggregate recall floor. The pipeline is
    // fully deterministic (hash-seeded k-means init, fixed
    // iterations), so every boolean either always holds at a given
    // corpus or its row goes red. Floors: per-query ≥1 of 10 vs a
    // measured min of 2 across sf0.001/0.01/0.1; aggregate 0.40 vs
    // measured 0.515-0.59 — margin for corpus growth, while a broken
    // probe expansion (or one query's bucket routing going dark)
    // still trips its own row.
    Declared(
      "ext_sim_ivf_nprobe",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.where(col("vec_id") < 20)
        val index = Similarity.IvfIndex.build(emb, "vec_id", "embedding", k = 16, iters = 3)
        val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
            k = 10, index.centers, nprobe = 4)
          .select("query_id", "neighbor_id")
        val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
          .select("query_id", "neighbor_id")
        val hits = bf.join(ivf, Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("__h"))
        // ONE execution of the bf+ivf subtree, then the 20-row panel
        // summary comes to the driver (bounded-artifact collect
        // discipline) — deriving the per-query rows and the total row
        // as separate plan branches re-ran the whole pipeline per
        // branch (measured 3×)
        val perQ = bf.groupBy("query_id").agg(count(lit(1)).as("n_bf"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id").cast("long"), col("n_bf"),
            coalesce(col("__h"), lit(0L)))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val totalBf = perQ.map(_._2).sum
        val totalH = perQ.map(_._3).sum
        import s.implicits._
        (perQ.map { case (q, nbf, h) => (q, nbf, h >= 1) }.toSeq :+
          ((-1L, totalBf, totalH * 5 >= totalBf * 2)))
          .toDF("query_id", "n_bf", "recall_ok")
          .orderBy("query_id")
      },
      Some("""WITH bf AS (
                 SELECT qid, nid FROM (
                   SELECT q.vec_id AS qid, c.vec_id AS nid,
                          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                            list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rk
                   FROM embeddings q JOIN embeddings c
                     ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
                 WHERE rk <= 10)
               SELECT CAST(qid AS BIGINT) AS query_id, COUNT(*) AS n_bf,
                      TRUE AS recall_ok
               FROM bf GROUP BY qid
               UNION ALL
               SELECT CAST(-1 AS BIGINT), (SELECT COUNT(*) FROM bf), TRUE
               ORDER BY query_id""")),

    // IVF index MAINTENANCE: the index was trained BEFORE a tenth of
    // the corpus existed (standing = vec_id % 10 ≠ 0), and the delta
    // is appended by ASSIGNMENT to the frozen centroids — one
    // map-side nearest-centroid per arrival, no retrain, no touch of
    // the standing lists; retrain is a periodic compaction decision,
    // not an ingest-path one. That is how a production ANN index
    // absorbs continuously arriving embeddings, and what it must not
    // cost is exactly what ivfTopK's expression-level assignment
    // shows: the appended corpus serves through the same frozen
    // k×dim literals. The pin is the part recall theory can't
    // promise: at the REAL serving config (nprobe = 4 of 16) the
    // panel's query_id = -2 row requires the DELTA-member brute-force
    // neighbors (oracle-counted: 22-25 of the 200 slots at every
    // fixture scale) to be FOUND at a 0.25 aggregate floor (measured
    // 0.32-0.61 across sf0.001/0.01/0.1 — the delta slice is a 22-25
    // sample, noisier than the -1 row's 200, hence the lower floor),
    // alongside the overall -1 row's 0.40 — appended vectors must be
    // first-class citizens of the stale-centroid lists, not merely
    // stored.
    Declared(
      "ext_sim_ivf_append",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.where(col("vec_id") < 20)
        // frozen centroids: trained on the standing 90% only
        val index = Similarity.IvfIndex.build(
          emb.where(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
          k = 16, iters = 3)
        val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
            k = 10, index.centers, nprobe = 4)
          .select("query_id", "neighbor_id")
        val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
            k = 10)
          .select("query_id", "neighbor_id")
        // one execution of the bf+ivf subtree; ≤20-row panel collect
        // (the bounded-artifact discipline of ext_sim_ivf_nprobe)
        val perQ = bf
          .withColumn("__d", (col("neighbor_id") % 10 === 0).cast("long"))
          .join(ivf.withColumn("__hit", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_bf"),
            sum(coalesce(col("__hit"), lit(0L))).as("h"),
            sum(col("__d")).as("n_bf_delta"),
            sum(col("__d") * coalesce(col("__hit"), lit(0L))).as("h_delta"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
        val (tBf, tH) = (perQ.map(_._2).sum, perQ.map(_._3).sum)
        val (tBfD, tHD) = (perQ.map(_._4).sum, perQ.map(_._5).sum)
        import s.implicits._
        (perQ.map { case (q, nbf, h, _, _) => (q, nbf, h >= 1) }.toSeq :+
          ((-1L, tBf, tH * 5 >= tBf * 2)) :+
          ((-2L, tBfD, tHD * 4 >= tBfD)))
          .toDF("query_id", "n_bf", "recall_ok")
          .orderBy("query_id")
      },
      Some("""WITH bf AS (
                 SELECT qid, nid FROM (
                   SELECT q.vec_id AS qid, c.vec_id AS nid,
                          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                            list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rk
                   FROM embeddings q JOIN embeddings c
                     ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
                 WHERE rk <= 10)
               SELECT CAST(qid AS BIGINT) AS query_id, COUNT(*) AS n_bf,
                      TRUE AS recall_ok
               FROM bf GROUP BY qid
               UNION ALL
               SELECT CAST(-1 AS BIGINT), (SELECT COUNT(*) FROM bf), TRUE
               UNION ALL
               SELECT CAST(-2 AS BIGINT),
                      (SELECT COUNT(*) FROM bf WHERE nid % 10 = 0), TRUE
               ORDER BY query_id""")),

    // IVF index COMPACTION ([[Similarity.IvfIndex.retrainPublish]]) —
    // the recall-restoring half of the maintenance story whose ingest
    // half ext_sim_ivf_append pins: the serving index was trained
    // before the delta existed (standing = vec_id % 10 ≠ 0, published
    // as v0 of a versioned index dir); the scheduled retrain runs over
    // the CURRENT corpus and publishes v1, with the swap being the
    // version commit itself — loadLatest readers see v0 all through
    // the retrain (pinned: the pre-publish loadLatest still serves the
    // stale centroids, query_id=-3) and v1 after (pinned: post-publish
    // loadLatest equals the retrained index and exactly {v0, v1}
    // remain, query_id=-4). The recall pin is the RECOVERY: at the
    // serving config (nprobe=4 of 16, k=10 over the 20-query panel)
    // the delta slice — which the append row only holds to a 0.25
    // floor under the stale centroids — must come back to the SAME
    // 0.40 aggregate floor as the overall row once the centroids have
    // seen it (query_id=-2 vs -1); appended vectors stop being
    // second-class the moment compaction lands.
    Declared(
      "ext_sim_ivf_retrain",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.where(col("vec_id") < 40)
        val (indexDir, staleServing, swapOk) = retrainedIvfDir(s, emb)
        val serving = Similarity.IvfIndex.loadLatest(s, indexDir)
        val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
            k = 10, serving.centers, nprobe = 4)
          .select("query_id", "neighbor_id")
        val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
            k = 10)
          .select("query_id", "neighbor_id")
        val perQ = bf
          .withColumn("__d", (col("neighbor_id") % 10 === 0).cast("long"))
          .join(ivf.withColumn("__hit", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_bf"),
            sum(coalesce(col("__hit"), lit(0L))).as("h"),
            sum(col("__d")).as("n_bf_delta"),
            sum(col("__d") * coalesce(col("__hit"), lit(0L))).as("h_delta"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
        val (tBf, tH) = (perQ.map(_._2).sum, perQ.map(_._3).sum)
        val (tBfD, tHD) = (perQ.map(_._4).sum, perQ.map(_._5).sum)
        import s.implicits._
        (perQ.map { case (q, nbf, h, _, _) => (q, nbf, h >= 1) }.toSeq :+
          ((-1L, tBf, tH * 5 >= tBf * 2)) :+
          ((-2L, tBfD, tHD * 5 >= tBfD * 2)) :+
          ((-3L, 1L, staleServing)) :+
          ((-4L, 1L, swapOk)))
          .toDF("query_id", "n_bf", "recall_ok")
          .orderBy("query_id")
      },
      Some("""WITH bf AS (
                 SELECT qid, nid FROM (
                   SELECT q.vec_id AS qid, c.vec_id AS nid,
                          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                            list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rk
                   FROM embeddings q JOIN embeddings c
                     ON q.vec_id < 40 AND q.vec_id <> c.vec_id)
                 WHERE rk <= 10)
               SELECT CAST(qid AS BIGINT) AS query_id, COUNT(*) AS n_bf,
                      TRUE AS recall_ok
               FROM bf GROUP BY qid
               UNION ALL
               SELECT CAST(-1 AS BIGINT), (SELECT COUNT(*) FROM bf), TRUE
               UNION ALL
               SELECT CAST(-2 AS BIGINT),
                      (SELECT COUNT(*) FROM bf WHERE nid % 10 = 0), TRUE
               UNION ALL
               SELECT CAST(-3 AS BIGINT), 1, TRUE
               UNION ALL
               SELECT CAST(-4 AS BIGINT), 1, TRUE
               ORDER BY query_id""")),

    // Post-retrain LIST-SKEW gate ([[Similarity.ivfListCensus]]):
    // hot-list skew is the IVF production failure retrain exists to
    // fix — a list N× the mean defeats the nprobe-bounded scan cost
    // (every probe of that centroid ranks N× the expected candidates),
    // so the census runs against the JUST-PUBLISHED serving version
    // (the same lifecycle artifact ext_sim_ivf_retrain gates, v1).
    // Pins: every corpus vector is assigned to exactly one list
    // (n_vectors — oracle-counted), and no list exceeds 4× the mean
    // size at the serving config (k=16) — the probe-contract bound
    // ivf_nprobe's cost model assumes. One assignment scan + a
    // k-bounded aggregate; nothing corpus-sized shuffles.
    Declared(
      "ext_sim_ivf_skew",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val (indexDir, _, _) = retrainedIvfDir(s, emb)
        val serving = Similarity.IvfIndex.loadLatest(s, indexDir)
        Similarity.ivfListCensus(emb, "vec_id", "embedding", serving.centers)
          .agg(coalesce(sum(col("n")), lit(0L)).as("n_vectors"),
            coalesce(max(col("n")), lit(0L)).as("__mx"))
          .select(col("n_vectors"),
            (col("__mx") * serving.k <= col("n_vectors") * 4).as("skew_ok"))
      },
      Some("SELECT COUNT(*) AS n_vectors, TRUE AS skew_ok FROM embeddings")),

    // Quantized (int8-range) ANN ([[Similarity.quantizedTopK]]): the
    // 100 TB storage/bandwidth path — clamp(floor(x·127+0.5)) per dim
    // (floor, not round: half-even vs half-away differs across
    // engines; floor doesn't), then exact integer dot products. The
    // integer scores make the ENTIRE ranking portable, so the oracle
    // pins rank order itself (sum of neighbor_id·rank), strictly
    // stronger than the margin-cleared checksum the float listings
    // need.
    Declared(
      "ext_sim_quantized_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.quantizedTopK(emb, emb.where(col("vec_id") < 3),
            "vec_id", "embedding", k = 5)
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("neighbor_id") * col("rank")).as("rank_checksum"),
            sum(col("score")).as("score_sum"))
          .orderBy("query_id")
      },
      Some("""WITH q AS (
                SELECT vec_id, list_transform(embedding, x ->
                  CAST(greatest(-127, least(127,
                    floor(CAST(x AS DOUBLE) * 127 + 0.5))) AS BIGINT)) AS qv
                FROM embeddings),
              sc AS (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                         i -> a.qv[i] * b.qv[i])) AS BIGINT) AS score
                FROM q a JOIN q b ON a.vec_id < 3 AND a.vec_id <> b.vec_id),
              rk AS (
                SELECT query_id, neighbor_id, score,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY score DESC, neighbor_id) AS rnk
                FROM sc),
              top AS (SELECT * FROM rk WHERE rnk <= 5)
              SELECT query_id, COUNT(*) AS n_rows,
                     CAST(SUM(neighbor_id * rnk) AS BIGINT) AS rank_checksum,
                     CAST(SUM(score) AS BIGINT) AS score_sum
              FROM top GROUP BY query_id ORDER BY query_id""")),

    // Product-quantization ANN under the gate
    // ([[Similarity.PqIndex]]/[[Similarity.pqTopK]]): 16 subspaces ×
    // 64 centroids trained by the deterministic per-subspace L2
    // Lloyd's, corpus encoded to 16 one-byte codes per vector (the
    // 32×-compression scan path int8 can't reach), ADC shortlist of
    // 8k candidates per query, exact re-rank of the shortlist only.
    // PQ ranking is approximate by construction, so the gate uses the
    // probe-contract shape (like ext_stats_hll): the oracle replays
    // the EXACT side — the brute-force top-10 for the 20-query panel,
    // margin-projected per [[ExtShared.topkChecksum]] — and the
    // recall_ok flag pins the PQ side against a 0.80 floor measured
    // with ≥0.17 margin at every fixture scale (1.0/1.0/0.97 at
    // sf0.001/0.01/0.1, PqSpec). A broken codebook trainer, encoder,
    // ADC table, or re-rank join drops recall far below the floor and
    // flips the flag.
    Declared(
      "ext_sim_pq_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val index = Similarity.PqIndex.build(emb, "vec_id", "embedding",
          m = 16, ks = 64, dim = 64, iters = 3)
        // the exact listing feeds three consumers (checksum, recall
        // denominator, hit join) — share one materialization
        val bf = PlanCache.cached("pqBfTop10/vec20", emb)(e =>
          Similarity.bruteForceTopK(e, e.where(col("vec_id") < 20),
            "vec_id", "embedding", k = 10))
        // rerank=16 (16·k ADC window) across every PQ serving row: the
        // window is the candidate-DENSITY knob — at sf0.01@10 the 8·k
        // window let the delta-slice recall dip to 0.77 (< the 0.80
        // floor) while 16·k holds 0.98+ at every measured scale; the
        // exact rescoring cost is 160 rows per query, scale-invisible
        val pq = Similarity.pqTopK(emb, emb.where(col("vec_id") < 20),
          "vec_id", "embedding", k = 10, index, rerank = 16)
        val flag = bf.select("query_id", "neighbor_id")
          .join(pq.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("__h"))
          .crossJoin(bf.agg(count(lit(1)).as("__n")))
          .select((col("__h") * 5 >= col("__n") * 4).as("recall_ok"))
        // re-sort AFTER the crossJoin (it does not preserve the
        // checksum frame's order)
        topkChecksum(bf).crossJoin(flag).orderBy("query_id")
      },
      Some("""WITH sc AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
                FROM embeddings q JOIN embeddings c
                  ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
              rk AS (
                SELECT query_id, neighbor_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rnk
                FROM sc),
              top AS (SELECT * FROM rk WHERE rnk <= 10),
              kth AS (SELECT query_id, MIN(cos) AS kc FROM top GROUP BY query_id)
              SELECT query_id, COUNT(*) AS n_rows,
                     CAST(SUM(CASE WHEN cos >= kc + 1e-9 THEN 1 ELSE 0 END) AS BIGINT) AS n_clear,
                     CAST(SUM(CASE WHEN cos >= kc + 1e-9 THEN neighbor_id ELSE 0 END) AS BIGINT) AS id_checksum,
                     TRUE AS recall_ok
              FROM top JOIN kth USING (query_id)
              GROUP BY query_id ORDER BY query_id""")),

    // PQ codebook save→load→serve round trip
    // ([[Similarity.PqIndex.save]]/[[load]]) — codebooks are what a
    // 100 TB deployment trains once and ships to every encode/serve
    // job, so the persistence path is a first-class operator. Same
    // probe-contract gate as ext_sim_pq_topk (oracle replays the
    // exact brute-force side; the PQ side carries its 0.80 recall
    // floor), but SERVED FROM THE LOADED BOOKS, plus a
    // roundtrip_exact flag pinning bit-identity of every centroid
    // coordinate through the (m, centroid_id)-ordered parquet round
    // trip — an ordering or precision regression flips the flag
    // before it could subtly degrade serving recall.
    Declared(
      "ext_sim_pq_load",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val built = Similarity.PqIndex.build(emb, "vec_id", "embedding",
          m = 16, ks = 64, dim = 64, iters = 3)
        // ONE saved-codebook dir per (session, corpus plan, params):
        // save is the build-once half of the round trip, so it runs
        // once — a fresh createTempDirectory per invocation leaked a
        // dir every Bench replay (up to 6×) and did filesystem side
        // effects at plan-construction time
        val path = PlanCache.artifact("pqLoad/save/vec_id/embedding/16/64/64/3", emb) { _ =>
          val p = java.nio.file.Files
            .createTempDirectory("graft_pq_load_").toString
          Similarity.PqIndex.save(s, built, p)
          p
        }
        val loaded = Similarity.PqIndex.load(s, path)
        val exact = loaded.books.map(_.map(_.toSeq).toSeq).toSeq ==
          built.books.map(_.map(_.toSeq).toSeq).toSeq
        val bf = PlanCache.cached("pqBfTop10/vec20", emb)(e =>
          Similarity.bruteForceTopK(e, e.where(col("vec_id") < 20),
            "vec_id", "embedding", k = 10))
        val pq = Similarity.pqTopK(emb, emb.where(col("vec_id") < 20),
          "vec_id", "embedding", k = 10, loaded, rerank = 16)
        val flag = bf.select("query_id", "neighbor_id")
          .join(pq.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("__h"))
          .crossJoin(bf.agg(count(lit(1)).as("__n")))
          .select((col("__h") * 5 >= col("__n") * 4).as("recall_ok"))
        topkChecksum(bf).crossJoin(flag)
          .withColumn("roundtrip_exact", lit(exact))
          .orderBy("query_id")
      },
      Some("""WITH sc AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
                FROM embeddings q JOIN embeddings c
                  ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
              rk AS (
                SELECT query_id, neighbor_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rnk
                FROM sc),
              top AS (SELECT * FROM rk WHERE rnk <= 10),
              kth AS (SELECT query_id, MIN(cos) AS kc FROM top GROUP BY query_id)
              SELECT query_id, COUNT(*) AS n_rows,
                     CAST(SUM(CASE WHEN cos >= kc + 1e-9 THEN 1 ELSE 0 END) AS BIGINT) AS n_clear,
                     CAST(SUM(CASE WHEN cos >= kc + 1e-9 THEN neighbor_id ELSE 0 END) AS BIGINT) AS id_checksum,
                     TRUE AS recall_ok, TRUE AS roundtrip_exact
              FROM top JOIN kth USING (query_id)
              GROUP BY query_id ORDER BY query_id""")),

    // PQ codebook MAINTENANCE — the PQ sibling of ext_sim_ivf_append:
    // the codebooks were trained BEFORE a tenth of the corpus existed
    // (standing = vec_id % 10 ≠ 0) and the delta is absorbed by
    // ENCODING against the frozen books — m nearest-centroid lookups
    // per arrival, no retrain (retraining codebooks re-encodes the
    // ENTIRE corpus: 100 TB of codes rewritten — strictly a
    // compaction-scale decision, never an ingest-path one). Same
    // probe-contract gate as ext_sim_pq_topk (oracle replays the
    // exact brute-force side) with TWO flags: recall_ok pins the
    // overall 0.80 floor under stale books, and delta_recall_ok pins
    // the DELTA-member brute neighbors (22-25 of 200, oracle-counted)
    // at a 0.80 floor (measured 0.91-1.0 across fixtures) — vectors
    // encoded by stale codebooks must be findable, not merely stored.
    Declared(
      "ext_sim_pq_append",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // frozen codebooks: trained on the standing 90% only
        val index = Similarity.PqIndex.build(
          emb.where(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
          m = 16, ks = 64, dim = 64, iters = 3)
        val bf = PlanCache.cached("pqBfTop10/vec20", emb)(e =>
          Similarity.bruteForceTopK(e, e.where(col("vec_id") < 20),
            "vec_id", "embedding", k = 10))
        val pq = Similarity.pqTopK(emb, emb.where(col("vec_id") < 20),
          "vec_id", "embedding", k = 10, index, rerank = 16)
        val flags = bf.select(col("query_id"), col("neighbor_id"),
            (col("neighbor_id") % 10 === 0).cast("long").as("__d"))
          .join(pq.select("query_id", "neighbor_id")
            .withColumn("__hit", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("__n"),
            sum(coalesce(col("__hit"), lit(0L))).as("__h"),
            sum(col("__d")).as("__nd"),
            sum(col("__d") * coalesce(col("__hit"), lit(0L))).as("__hd"))
          .select((col("__h") * 5 >= col("__n") * 4).as("recall_ok"),
            (col("__hd") * 5 >= col("__nd") * 4).as("delta_recall_ok"))
        topkChecksum(bf).crossJoin(flags).orderBy("query_id")
      },
      Some("""WITH sc AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
                FROM embeddings q JOIN embeddings c
                  ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
              rk AS (
                SELECT query_id, neighbor_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rnk
                FROM sc),
              top AS (SELECT * FROM rk WHERE rnk <= 10),
              kth AS (SELECT query_id, MIN(cos) AS kc FROM top GROUP BY query_id)
              SELECT query_id, COUNT(*) AS n_rows,
                     CAST(SUM(CASE WHEN cos >= kc + 1e-9 THEN 1 ELSE 0 END) AS BIGINT) AS n_clear,
                     CAST(SUM(CASE WHEN cos >= kc + 1e-9 THEN neighbor_id ELSE 0 END) AS BIGINT) AS id_checksum,
                     TRUE AS recall_ok, TRUE AS delta_recall_ok
              FROM top JOIN kth USING (query_id)
              GROUP BY query_id ORDER BY query_id""")),

    // PQ codebook COMPACTION ([[Similarity.PqIndex.retrainPublish]]) —
    // ext_sim_ivf_retrain's PQ sibling, and the costlier one: new
    // books invalidate every stored code, so the publish prices in a
    // full corpus re-encode (m lookups per vector — the reason ingest
    // encodes deltas against FROZEN books and retrain is scheduled
    // compaction). Same versioned swap lifecycle: the stale books
    // (trained pre-delta, published v0) provably serve until the v1
    // commit (stale_serving), exactly {v0, v1} remain with the served
    // books equal to the retrained ones (swap_ok), and the ADC probe
    // contract holds at the pq_topk config against the retrained
    // books: overall AND delta-member recall at the 0.80 floor.
    Declared(
      "ext_sim_pq_retrain",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val standing = emb.where(col("vec_id") % 10 =!= 0)
        def booksOf(i: Similarity.PqIndex) =
          i.books.map(_.map(_.toSeq).toSeq).toSeq
        val (indexDir, staleServing, swapOk) = PlanCache.artifact(
          "pqRetrain/dir/vec_id/embedding/16/64/64/3", emb) { _ =>
          val p = java.nio.file.Files
            .createTempDirectory("graft_pq_retrain_").toString
          val stale = Similarity.PqIndex.build(standing, "vec_id",
            "embedding", m = 16, ks = 64, dim = 64, iters = 3)
          Similarity.PqIndex.save(s, stale, s"$p/v0")
          val fresh = Similarity.PqIndex.build(emb, "vec_id", "embedding",
            m = 16, ks = 64, dim = 64, iters = 3)
          val staleOk =
            Similarity.PqIndex.versions(s, p) == Seq(0L) &&
            booksOf(Similarity.PqIndex.loadLatest(s, p)) == booksOf(stale)
          val published = Similarity.PqIndex.retrainPublish(emb, "vec_id",
            "embedding", m = 16, ks = 64, dim = 64, iters = 3, indexDir = p)
          val sOk =
            Similarity.PqIndex.versions(s, p) == Seq(0L, 1L) &&
            booksOf(published) == booksOf(fresh) &&
            booksOf(Similarity.PqIndex.loadLatest(s, p)) == booksOf(fresh)
          (p, staleOk, sOk)
        }
        val serving = Similarity.PqIndex.loadLatest(s, indexDir)
        val bf = PlanCache.cached("pqBfTop10/vec20", emb)(e =>
          Similarity.bruteForceTopK(e, e.where(col("vec_id") < 20),
            "vec_id", "embedding", k = 10))
        val pq = Similarity.pqTopK(emb, emb.where(col("vec_id") < 20),
          "vec_id", "embedding", k = 10, serving, rerank = 16)
        val flags = bf.select(col("query_id"), col("neighbor_id"),
            (col("neighbor_id") % 10 === 0).cast("long").as("__d"))
          .join(pq.select("query_id", "neighbor_id")
            .withColumn("__hit", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("__n"),
            sum(coalesce(col("__hit"), lit(0L))).as("__h"),
            sum(col("__d")).as("__nd"),
            sum(col("__d") * coalesce(col("__hit"), lit(0L))).as("__hd"))
          .select((col("__h") * 5 >= col("__n") * 4).as("recall_ok"),
            (col("__hd") * 5 >= col("__nd") * 4).as("delta_recall_ok"),
            lit(staleServing).as("stale_serving"),
            lit(swapOk).as("swap_ok"))
        topkChecksum(bf).crossJoin(flags).orderBy("query_id")
      },
      Some("""WITH sc AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
                FROM embeddings q JOIN embeddings c
                  ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
              rk AS (
                SELECT query_id, neighbor_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rnk
                FROM sc),
              top AS (SELECT * FROM rk WHERE rnk <= 10),
              kth AS (SELECT query_id, MIN(cos) AS kc FROM top GROUP BY query_id)
              SELECT query_id, COUNT(*) AS n_rows,
                     CAST(SUM(CASE WHEN cos >= kc + 1e-9 THEN 1 ELSE 0 END) AS BIGINT) AS n_clear,
                     CAST(SUM(CASE WHEN cos >= kc + 1e-9 THEN neighbor_id ELSE 0 END) AS BIGINT) AS id_checksum,
                     TRUE AS recall_ok, TRUE AS delta_recall_ok,
                     TRUE AS stale_serving, TRUE AS swap_ok
              FROM top JOIN kth USING (query_id)
              GROUP BY query_id ORDER BY query_id""")),

    // IVF-PQ — the COMPOSITION of the two index families into the
    // standard large-scale serving shape ([[Similarity.ivfPqTopK]]:
    // coarse quantizer bounds the SCAN, product quantizer bounds the
    // BYTES; codes are of coarse RESIDUALS,
    // [[Similarity.PqIndex.buildResidual]]). Probe contract at the
    // real serving config (nlist=16, nprobe=4, m=16, ks=64,
    // rerank=16) with the miss budget DECOMPOSED into its two flags:
    // recall_ok pins the end-to-end ≥0.40 floor vs brute force (the
    // routing-loss-bounded figure ext_sim_ivf_nprobe pins for plain
    // IVF at the same nprobe — measured 0.515-0.59 across fixtures,
    // EQUAL to plain IVF@4's: the PQ stage adds almost nothing), and
    // pq_faithful_ok pins the QUANTIZATION loss alone: ≥0.80 of what
    // exact scoring finds in the probed lists must survive ADC+rerank
    // (ivfPq ∩ ivf@4 over |ivf@4| — routing loss cancels; measured
    // 0.995-1.0, the 16·k exact rerank absorbing nearly all
    // reconstruction error). Same brute-force checksum frame and
    // oracle as the other serving rows — one cached generation, N
    // consumers.
    Declared(
      "ext_sim_ivfpq_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val coarse = Similarity.IvfIndex.build(emb, "vec_id", "embedding",
          k = 16, iters = 3)
        val index = Similarity.PqIndex.buildResidual(emb, "vec_id",
          "embedding", coarse, m = 16, ks = 64, dim = 64, iters = 3)
        val bf = PlanCache.cached("pqBfTop10/vec20", emb)(e =>
          Similarity.bruteForceTopK(e, e.where(col("vec_id") < 20),
            "vec_id", "embedding", k = 10))
        // the exact-IVF reference listing feeds two consumers (its
        // cardinality + the intersection) — cache one materialization
        val ivf = PlanCache.cached("ivfTop10/vec20/np4", emb)(e =>
          Similarity.ivfTopK(e, e.where(col("vec_id") < 20),
            "vec_id", "embedding", k = 10, coarse.centers, nprobe = 4))
        val ipq = Similarity.ivfPqTopK(emb, emb.where(col("vec_id") < 20),
            "vec_id", "embedding", k = 10, coarse, index,
            nprobe = 4, rerank = 16)
          .select("query_id", "neighbor_id")
        val flags = bf.select("query_id", "neighbor_id")
          .join(ipq, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("__hb"))
          .crossJoin(bf.agg(count(lit(1)).as("__nb")))
          .crossJoin(ivf.select("query_id", "neighbor_id")
            .join(ipq, Seq("query_id", "neighbor_id"), "left_semi")
            .agg(count(lit(1)).as("__hi")))
          .crossJoin(ivf.agg(count(lit(1)).as("__ni")))
          .select((col("__hb") * 5 >= col("__nb") * 2).as("recall_ok"),
            (col("__hi") * 5 >= col("__ni") * 4).as("pq_faithful_ok"))
        topkChecksum(bf).crossJoin(flags).orderBy("query_id")
      },
      Some("""WITH sc AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
                FROM embeddings q JOIN embeddings c
                  ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
              rk AS (
                SELECT query_id, neighbor_id, cos,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rnk
                FROM sc),
              top AS (SELECT * FROM rk WHERE rnk <= 10),
              kth AS (SELECT query_id, MIN(cos) AS kc FROM top GROUP BY query_id)
              SELECT query_id, COUNT(*) AS n_rows,
                     CAST(SUM(CASE WHEN cos >= kc + 1e-9 THEN 1 ELSE 0 END) AS BIGINT) AS n_clear,
                     CAST(SUM(CASE WHEN cos >= kc + 1e-9 THEN neighbor_id ELSE 0 END) AS BIGINT) AS id_checksum,
                     TRUE AS recall_ok, TRUE AS pq_faithful_ok
              FROM top JOIN kth USING (query_id)
              GROUP BY query_id ORDER BY query_id"""))
  )
}
