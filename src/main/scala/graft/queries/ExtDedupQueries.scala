package graft.queries

import graft.Tables
import graft.ext.{Dedup, Similarity, TextStats}
import org.apache.spark.sql.functions._

import ExtShared._

/** Deduplication family: exact / incremental / MinHash-LSH /
  * SimHash / containment / component / canonical / embedding dedup
  * over the documents corpus.
  *
  * Declared-query registry split out of the former monolithic
  * ExtQueries.scala (round 10, mechanical — blocks moved verbatim);
  * shared caps/CTE text/checksum helpers live in [[ExtShared]].
  */
object ExtDedupQueries {

  val all: Seq[Declared] = Seq(

    // --- Deduplication ------------------------------------------------

    // Exact dedup, both library forms: deterministic min-id winner by
    // 60-bit fingerprint (semi-join, no text bytes shuffled) and the
    // dropDuplicates census. sum_kept_ids pins WHICH rows were kept.
    Declared(
      "ext_dedup_exact_rows",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val kept = Dedup.exactByFingerprint(docs, "doc_id", "text")
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept_ids"))
        val arb = Dedup.exact(docs, Seq("text")).agg(count(lit(1)).as("n_exact"))
        kept.crossJoin(arb)
      },
      Some("""WITH keep AS (SELECT MIN(doc_id) AS id FROM documents GROUP BY md5(text))
              SELECT COUNT(*) AS n_kept, CAST(SUM(id) AS BIGINT) AS sum_kept_ids,
                     COUNT(*) AS n_exact
              FROM keep""")),

    // Incremental ingest dedup: the batch (doc_id ≡ 0 mod 5) dedups
    // against the fingerprint STORE of the standing corpus (the other
    // 80%) — one 8-byte column anti-join, corpus text never re-read —
    // then min-id within the batch. The id checksum pins exactly which
    // batch rows count as new content.
    Declared(
      "ext_dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val batch = docs.where(col("doc_id") % 5 === 0)
        // the per-corpus store is a PlanCache'd artifact (same
        // discipline as the LSH band store: at 100 TB it is parquet
        // written at corpus-build time, never recomputed) — also the
        // plan-size guard: as a cached leaf, Catalyst's anti-join
        // pushdown through the @k union duplicates a reference, not
        // the store's own k-branch scan tree
        val store = graft.ext.PlanCache.cached(
          "incExact/store/text", docs)(dd =>
            Dedup.fingerprintStore(dd.where(col("doc_id") % 5 =!= 0), "text"))
        val kept = Dedup.incrementalExact(batch, "doc_id", "text", store)
        batch.agg(count(lit(1)).as("n_batch")).crossJoin(
          kept.agg(count(lit(1)).as("n_new"),
            sum(col("doc_id")).as("id_checksum")))
      },
      Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
              batch AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
              store AS (SELECT DISTINCT md5(text) AS fp FROM corpus),
              fresh AS (SELECT b.* FROM batch b ANTI JOIN store s ON md5(b.text) = s.fp),
              keep AS (SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY md5(text))
              SELECT (SELECT COUNT(*) FROM batch) AS n_batch,
                     COUNT(*) AS n_new,
                     CAST(SUM(doc_id) AS BIGINT) AS id_checksum
              FROM keep""")),

    // Incremental NEAR-dedup ([[Dedup.incrementalLshCandidates]]): a
    // 5% ingest batch is LSH-banded and joined against the standing
    // corpus's band store (PlanCache'd — at 100 TB it is a parquet
    // artifact written at corpus-build time, never recomputed), then
    // candidates are exact-verified at Jaccard ≥ 0.8 via the shared
    // shingle-set fingerprints. Only the delta is ever re-hashed; the
    // checksums pin exactly WHICH corpus docs each new doc collides
    // with and which survive verification.
    Declared(
      "ext_dedup_incremental_lsh",
      (s, d) => {
        val docs = Tables.documents(s, d)
        def bandsOf(part: org.apache.spark.sql.DataFrame) =
          Dedup.lshBands(
            Dedup.minhashSignatures(
              Dedup.tokenHashes(part, "doc_id", "text"), 16), 16, 4)
        val storeBands = graft.ext.PlanCache.cached(
          "incLsh/store/16/4", docs)(dd =>
            bandsOf(dd.where(col("doc_id") % 20 =!= 7)))
        // the per-ingest candidate artifact: census and verify both
        // consume it, and a real pipeline writes it once per batch —
        // checkpoint-memoized exactly like lsh_verified's candidates
        val cands = graft.ext.PlanCache.checkpointed(
          s"incLsh/cands/16/4/$MaxBucket", docs) { dd =>
          Dedup.incrementalLshCandidates(
            bandsOf(dd.where(col("doc_id") % 20 === 7)), storeBands,
            maxBucket = MaxBucket)
        }
        val verified = Dedup.ngramJaccardOnCandidates(docs, "doc_id", "text",
            cands.select(col("doc_new").as("doc_a"), col("doc_corpus").as("doc_b")),
            DfCap)
          .where(col("inter") * 5 >= col("uni") * 4)
        cands.agg(count(lit(1)).as("n_cands"),
            coalesce(sum(col("doc_new") + col("doc_corpus")), lit(0L))
              .as("cand_checksum"))
          .crossJoin(verified.agg(count(lit(1)).as("n_dups"),
            coalesce(sum(col("doc_a") + col("doc_b")), lit(0L))
              .as("dup_checksum")))
      },
      Some(s"""WITH $minhashSigCte,
               $cappedShingleCte,
               batch AS (SELECT * FROM sigs WHERE doc_id % 20 = 7),
               store AS (SELECT * FROM sigs WHERE doc_id % 20 <> 7),
               okb AS (SELECT band, sig FROM store
                       GROUP BY band, sig HAVING COUNT(*) <= $MaxBucket),
               s2 AS (SELECT store.* FROM store JOIN okb USING (band, sig)),
               cand AS (
                 SELECT DISTINCT b.doc_id AS doc_a, s2.doc_id AS doc_b
                 FROM batch b JOIN s2
                   ON b.band = s2.band AND b.sig = s2.sig
                  AND b.doc_id <> s2.doc_id),
               inter AS (
                 SELECT doc_a, doc_b, COUNT(*) AS inter
                 FROM cand
                 JOIN fsh fa ON fa.doc_id = doc_a
                 JOIN fsh fb ON fb.doc_id = doc_b AND fa.sh = fb.sh
                 GROUP BY doc_a, doc_b),
               v AS (
                 SELECT i.doc_a, i.doc_b, inter, ca.n + cb.n - inter AS uni
                 FROM inter i
                 JOIN card ca ON i.doc_a = ca.doc_id
                 JOIN card cb ON i.doc_b = cb.doc_id)
               SELECT (SELECT COUNT(*) FROM cand) AS n_cands,
                      CAST((SELECT COALESCE(SUM(doc_a + doc_b), 0) FROM cand)
                        AS BIGINT) AS cand_checksum,
                      (SELECT COUNT(*) FROM v WHERE inter * 5 >= uni * 4)
                        AS n_dups,
                      CAST((SELECT COALESCE(SUM(doc_a + doc_b), 0)
                            FROM v WHERE inter * 5 >= uni * 4) AS BIGINT)
                        AS dup_checksum""")),

    // Incremental SimHash near-dup ([[Dedup.incrementalSimhashCandidates]]):
    // the same 5% ingest batch dedups against the standing corpus's
    // SIGNATURE store (the persisted simhashShared relation — 16
    // bytes/doc, written at corpus-build time), via the pigeonhole
    // segment multi-index joined batch-vs-store. Completes the
    // incremental family: exact fingerprints, MinHash-LSH bands, and
    // SimHash signatures all dedup a delta without re-reading corpus
    // text. The oracle brute-forces batch×store hamming — exact, so
    // the candidate set (not just its size) is hash-pinned.
    Declared(
      "ext_dedup_incremental_simhash",
      (s, d) => {
        val sh = Dedup.simhashShared(Tables.documents(s, d), "doc_id", "text",
          bits = 60)
        Dedup.incrementalSimhashCandidates(
            sh.where(col("doc_id") % 20 === 7),
            sh.where(col("doc_id") % 20 =!= 7),
            bits = 60, maxDist = 3)
          .agg(count(lit(1)).as("n_pairs"),
            coalesce(sum(col("doc_new") + col("doc_corpus")), lit(0L))
              .as("id_checksum"),
            coalesce(sum(col("dist")), lit(0L)).as("sum_dist"))
      },
      Some(s"""WITH $simh60Cte,
               batch AS (SELECT * FROM simh WHERE doc_id % 20 = 7),
               store AS (SELECT * FROM simh WHERE doc_id % 20 <> 7),
               p AS (
                 SELECT b.doc_id AS doc_new, s.doc_id AS doc_corpus,
                        bit_count(xor(b.simhash, s.simhash)) AS dist
                 FROM batch b JOIN store s ON b.doc_id <> s.doc_id)
               SELECT COUNT(*) AS n_pairs,
                      CAST(COALESCE(SUM(doc_new + doc_corpus), 0) AS BIGINT)
                        AS id_checksum,
                      CAST(COALESCE(SUM(dist), 0) AS BIGINT) AS sum_dist
               FROM p WHERE dist <= 3""")),

    Declared(
      "ext_dedup_fingerprint",
      (s, d) => {
        val fp = TextStats.fingerprints(Tables.documents(s, d), "doc_id", "text")
        fp.agg(count(lit(1)).as("docs"),
          countDistinct(col("content_fp")).as("uniq_content"),
          countDistinct(col("winnow_fp")).as("uniq_winnow"))
      },
      Some(s"""WITH $shingleCte,
               winnow AS (
                 SELECT doc_id,
                        MIN(CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT)) AS wfp
                 FROM sh GROUP BY doc_id),
               content AS (
                 SELECT doc_id,
                        CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS cfp
                 FROM documents)
               SELECT COUNT(*) AS docs, COUNT(DISTINCT cfp) AS uniq_content,
                      COUNT(DISTINCT wfp) AS uniq_winnow
               FROM content JOIN winnow USING (doc_id)""")),

    Declared(
      "ext_dedup_minhash",
      (s, d) => Dedup.minhashLshCensus(Tables.documents(s, d), "doc_id", "text"),
      Some(s"""WITH $minhashSigCte,
               buckets AS (
                 SELECT band, sig, COUNT(*) AS cnt FROM sigs GROUP BY band, sig)
               SELECT band,
                      CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_buckets,
                      CAST(SUM((cnt * (cnt - 1)) // 2) AS BIGINT) AS cand_pairs,
                      CAST(SUM(cnt) AS BIGINT) AS n_docs
               FROM buckets GROUP BY band ORDER BY band""")),

    // 60-bit signature bucket census over the PlanCache-shared
    // signature relation ([[Dedup.simhashShared]]) — the same cached
    // (doc_id, simhash) table the near-pair multi-index and component
    // closure consume, so the corpus-scan+tokenize+per-bit aggregation
    // runs once for the whole SimHash family. The oracle recomputes
    // the full 60-bit signature from the md5-based token hashes and
    // buckets on its low 6 bits.
    Declared(
      "ext_dedup_simhash",
      (s, d) =>
        Dedup.simhashShared(Tables.documents(s, d), "doc_id", "text", bits = 60)
          .select((col("simhash") % 64).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket"),
      Some("""WITH tok AS (
                 SELECT DISTINCT doc_id, w FROM (
                   SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
                 WHERE w <> ''),
               h AS (
                 SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv FROM tok),
               bits AS (
                 SELECT doc_id, b,
                        SUM(CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
                 FROM h, range(60) t(b) GROUP BY doc_id, b),
               simh AS (
                 SELECT doc_id,
                        SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
                 FROM bits GROUP BY doc_id)
               SELECT CAST(simhash % 64 AS BIGINT) AS bucket, COUNT(*) AS n
               FROM simh GROUP BY bucket ORDER BY bucket""")),

    // 60-bit SimHash hamming-≤3 near-dup census: the Spark side uses
    // the multi-index segment bucketing (exact by pigeonhole, never
    // all-pairs — the 100 TB shape); the oracle brute-forces all pairs
    // in SQL, so a hash match also proves the multi-index loses no
    // pair. Aggregated to one row: pair count, id checksum (pins WHICH
    // pairs), summed distance (pins the distances).
    Declared(
      "ext_dedup_simhash_pairs",
      (s, d) =>
        Dedup.simhashNearPairs(Tables.documents(s, d), "doc_id", "text",
          bits = 60, maxDist = 3)
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("doc_a") + col("doc_b")).as("id_checksum"),
            sum(col("dist")).as("sum_dist")),
      Some("""WITH tok AS (
                 SELECT DISTINCT doc_id, w FROM (
                   SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
                 WHERE w <> ''),
               h AS (
                 SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv FROM tok),
               bits AS (
                 SELECT doc_id, b,
                        SUM(CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
                 FROM h, range(60) t(b) GROUP BY doc_id, b),
               simh AS (
                 SELECT doc_id,
                        SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
                 FROM bits GROUP BY doc_id),
               p AS (
                 SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        bit_count(xor(a.simhash, b.simhash)) AS dist
                 FROM simh a JOIN simh b ON a.doc_id < b.doc_id)
               SELECT COUNT(*) AS n_pairs,
                      CAST(SUM(doc_a + doc_b) AS BIGINT) AS id_checksum,
                      CAST(SUM(dist) AS BIGINT) AS sum_dist
               FROM p WHERE dist <= 3""")),

    // Transitive duplicate classes ([[Dedup.connectedComponents]])
    // over the simhash hamming-≤3 pair graph: pairwise output alone
    // under-merges (A~B, B~C must be ONE class even when A~C never
    // surfaced); the component representative (min reachable id) is
    // what a keep-one-per-class dedup policy needs. The oracle
    // computes the same closure with a recursive CTE; the label<node
    // prune is safe for MIN-label reachability (any pruned label
    // routes through a node whose own smaller seed reaches the same
    // places) and is what makes the recursion finite.
    Declared(
      "ext_dedup_components",
      (s, d) => {
        val pairs = Dedup.simhashNearPairs(Tables.documents(s, d), "doc_id", "text",
          bits = 60, maxDist = 3)
        Dedup.connectedComponentsShared(pairs, "doc_a", "doc_b")
          .groupBy("component").agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_components"),
            sum(col("sz")).as("n_docs"),
            sum(col("component")).as("rep_checksum"),
            max(col("sz")).as("max_size"))
      },
      Some("""WITH RECURSIVE tok AS (
                 SELECT DISTINCT doc_id, w FROM (
                   SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
                 WHERE w <> ''),
               h AS (
                 SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv FROM tok),
               bits AS (
                 SELECT doc_id, b,
                        SUM(CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
                 FROM h, range(60) t(b) GROUP BY doc_id, b),
               simh AS (
                 SELECT doc_id,
                        SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
                 FROM bits GROUP BY doc_id),
               p AS (
                 SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM simh a JOIN simh b ON a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
               edges AS (
                 SELECT doc_a AS a, doc_b AS b FROM p
                 UNION SELECT doc_b, doc_a FROM p),
               reach(node, label) AS (
                 SELECT a, a FROM edges
                 UNION
                 SELECT e.b, r.label FROM reach r
                 JOIN edges e ON e.a = r.node WHERE r.label < e.b),
               cc AS (SELECT node, MIN(label) AS comp FROM reach GROUP BY node),
               sizes AS (SELECT comp, COUNT(*) AS sz FROM cc GROUP BY comp)
               SELECT COUNT(*) AS n_components,
                      CAST(SUM(sz) AS BIGINT) AS n_docs,
                      CAST(SUM(comp) AS BIGINT) AS rep_checksum,
                      CAST(MAX(sz) AS BIGINT) AS max_size
               FROM sizes""")),

    // Canonical-survivor selection ([[Dedup.keepCanonical]]) over the
    // same simhash duplicate classes: the step a production dedup
    // actually ships — each class (singletons included) keeps its
    // best-quality doc (max n_chars, ties → min doc_id, a total
    // engine-independent order). All-integer projections so the kept
    // set is hash-pinned, not just counted. The oracle replays the
    // same closure then joins back on per-class max quality.
    Declared(
      "ext_dedup_canonical",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.simhashNearPairs(docs, "doc_id", "text",
          bits = 60, maxDist = 3)
        Dedup.keepCanonical(docs.select("doc_id", "n_chars"),
            "doc_id", "n_chars", pairs, "doc_a", "doc_b",
            components = Some(
              Dedup.connectedComponentsShared(pairs, "doc_a", "doc_b")))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("doc_id")).as("kept_id_checksum"),
            sum(col("n_chars")).as("kept_chars"),
            sum(col("class_size") - 1).as("n_dropped"),
            max(col("class_size")).as("max_class"))
      },
      Some("""WITH RECURSIVE tok AS (
                 SELECT DISTINCT doc_id, w FROM (
                   SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
                 WHERE w <> ''),
               h AS (
                 SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv FROM tok),
               bits AS (
                 SELECT doc_id, b,
                        SUM(CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
                 FROM h, range(60) t(b) GROUP BY doc_id, b),
               simh AS (
                 SELECT doc_id,
                        SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
                 FROM bits GROUP BY doc_id),
               p AS (
                 SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM simh a JOIN simh b ON a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
               edges AS (
                 SELECT doc_a AS a, doc_b AS b FROM p
                 UNION SELECT doc_b, doc_a FROM p),
               reach(node, label) AS (
                 SELECT a, a FROM edges
                 UNION
                 SELECT e.b, r.label FROM reach r
                 JOIN edges e ON e.a = r.node WHERE r.label < e.b),
               cc AS (SELECT node, MIN(label) AS comp FROM reach GROUP BY node),
               lab AS (
                 SELECT d.doc_id, d.n_chars, COALESCE(cc.comp, d.doc_id) AS cls
                 FROM documents d LEFT JOIN cc ON d.doc_id = cc.node),
               mx AS (
                 SELECT cls, MAX(n_chars) AS mq, COUNT(*) AS class_size
                 FROM lab GROUP BY cls),
               keep AS (
                 SELECT l.cls, MIN(l.doc_id) AS kid, mx.mq, mx.class_size
                 FROM lab l JOIN mx ON l.cls = mx.cls AND l.n_chars = mx.mq
                 GROUP BY l.cls, mx.mq, mx.class_size)
               SELECT COUNT(*) AS n_kept,
                      CAST(SUM(kid) AS BIGINT) AS kept_id_checksum,
                      CAST(SUM(mq) AS BIGINT) AS kept_chars,
                      CAST(SUM(class_size - 1) AS BIGINT) AS n_dropped,
                      CAST(MAX(class_size) AS BIGINT) AS max_class
               FROM keep""")),

    Declared(
      "ext_dedup_ngram_jaccard",
      (s, d) =>
        Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", DfCap)
          .where(col("inter") >= 2)
          .orderBy(col("inter").desc, col("doc_a"), col("doc_b"))
          .limit(20),
      Some(s"""WITH $cappedShingleCte,
               pairs AS (
                 SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
                 FROM fsh a JOIN fsh b
                   ON a.sh = b.sh AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
               SELECT doc_a, doc_b, inter, ca.n + cb.n - inter AS uni
               FROM pairs
               JOIN card ca ON doc_a = ca.doc_id
               JOIN card cb ON doc_b = cb.doc_id
               WHERE inter >= 2
               ORDER BY inter DESC, doc_a, doc_b LIMIT 20""")),

    // Asymmetric containment census ([[Dedup.containmentPairs]]): pairs
    // where ≥80% of the smaller doc's shingles appear in the larger —
    // the quote/subset detector Jaccard misses (a doc swallowed by a
    // much larger one has tiny Jaccard but containment ≈ 1). The 0.8
    // threshold is integer arithmetic on both engines (inter·10 ≥
    // min(n)·8), so membership can never drift on float noise.
    Declared(
      "ext_dedup_containment",
      (s, d) =>
        Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text", DfCap)
          .where(col("inter") * 10 >= least(col("n_a"), col("n_b")) * 8)
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("doc_a") + col("doc_b")).as("id_checksum"),
            sum(col("inter")).as("inter_sum"),
            sum(least(col("n_a"), col("n_b"))).as("min_card_sum")),
      Some(s"""WITH $cappedShingleCte,
               pairs AS (
                 SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
                 FROM fsh a JOIN fsh b
                   ON a.sh = b.sh AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
               c AS (
                 SELECT doc_a, doc_b, inter, ca.n AS n_a, cb.n AS n_b
                 FROM pairs
                 JOIN card ca ON doc_a = ca.doc_id
                 JOIN card cb ON doc_b = cb.doc_id)
               SELECT COUNT(*) AS n_pairs,
                      CAST(SUM(doc_a + doc_b) AS BIGINT) AS id_checksum,
                      CAST(SUM(inter) AS BIGINT) AS inter_sum,
                      CAST(SUM(LEAST(n_a, n_b)) AS BIGINT) AS min_card_sum
               FROM c WHERE inter * 10 >= LEAST(n_a, n_b) * 8""")),

    // The buckets the pairwise path SKIPS, handled the cluster way:
    // over-cap LSH buckets reduced to (representative, size). Together
    // with ext_dedup_lsh_verified this covers every bucket exactly
    // once — the complete 100 TB dedup recipe (pairs below the cap,
    // O(cluster) representative-keeps above it).
    Declared(
      "ext_dedup_lsh_clusters",
      (s, d) =>
        Dedup.lshDegenerateClusters(
          Dedup.lshBands(
            Dedup.minhashSignatures(
              Dedup.tokenHashes(Tables.documents(s, d), "doc_id", "text"), 16),
            16, 4),
          maxBucket = MaxBucket)
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("size")).as("sum_sizes"),
            sum(col("rep_doc")).as("rep_checksum")),
      Some(s"""WITH $minhashSigCte,
               big AS (
                 SELECT band, sig, COUNT(*) AS cnt, MIN(doc_id) AS rep
                 FROM sigs GROUP BY band, sig HAVING COUNT(*) > $MaxBucket)
               SELECT COUNT(*) AS n_clusters,
                      CAST(SUM(cnt) AS BIGINT) AS sum_sizes,
                      CAST(SUM(rep) AS BIGINT) AS rep_checksum
               FROM big""")),

    // The full two-stage near-dup pipeline: MinHash-LSH candidate
    // generation (degenerate buckets > MaxBucket docs skipped — their
    // members are cluster-dups, not pairwise work), then exact Jaccard
    // verification restricted to the candidates — the 100 TB shape
    // (verification cost scales with candidates, not corpus²).
    Declared(
      "ext_dedup_lsh_verified",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cands = Dedup.minhashLshCandidates(docs, "doc_id", "text",
          k = 16, rowsPerBand = 4, maxBucket = MaxBucket)
        Dedup.ngramJaccardOnCandidates(docs, "doc_id", "text", cands, DfCap)
          .where(col("inter") >= 2)
          .orderBy(col("inter").desc, col("doc_a"), col("doc_b"))
          .limit(20)
      },
      Some(s"""WITH $minhashSigCte,
               okb AS (
                 SELECT band, sig FROM sigs
                 GROUP BY band, sig HAVING COUNT(*) <= $MaxBucket),
               sig2 AS (SELECT sigs.* FROM sigs JOIN okb USING (band, sig)),
               cand AS (
                 SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM sig2 a JOIN sig2 b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
               tp AS (
                 SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                        unnest(range(len(string_split(text, ' ')))) AS pos
                 FROM documents),
               sh0 AS (
                 SELECT doc_id,
                        w || ' ' || LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                          || ' ' || LEAD(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle
                 FROM tp),
               sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL),
               shh AS (
                 SELECT DISTINCT doc_id,
                        CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS sh
                 FROM sh),
               kept AS (SELECT sh FROM shh GROUP BY sh HAVING COUNT(*) <= $DfCap),
               fsh AS (SELECT doc_id, sh FROM shh JOIN kept USING (sh)),
               card AS (SELECT doc_id, COUNT(*) AS n FROM fsh GROUP BY doc_id),
               inter AS (
                 SELECT doc_a, doc_b, COUNT(*) AS inter
                 FROM cand
                 JOIN fsh fa ON fa.doc_id = doc_a
                 JOIN fsh fb ON fb.doc_id = doc_b AND fa.sh = fb.sh
                 GROUP BY doc_a, doc_b)
               SELECT doc_a, doc_b, inter, ca.n + cb.n - inter AS uni
               FROM inter
               JOIN card ca ON doc_a = ca.doc_id
               JOIN card cb ON doc_b = cb.doc_id
               WHERE inter >= 2
               ORDER BY inter DESC, doc_a, doc_b LIMIT 20""")),

    // Span-level exact dedup (the "exact substring" curation pass):
    // corpus-wide duplicated 5-gram detection — double-64-bit gram
    // fingerprints grouped map-side, occurrences semi-join the
    // duplicated-key set — then per-doc interval merge into
    // maximal spans. The oracle rebuilds grams/spans in SQL with the
    // SAME tokenizer regex and merge rule (by gram STRING — a
    // divergence would need a simultaneous collision in both
    // hashes); all-integer output (span
    // count, covered tokens, id-weighted checksum) pins span
    // boundaries, not just totals. Gram positions come from a per-row
    // unnest(range(len(ts)-4)) — no fixed cap, so a fixture refresh
    // with longer documents cannot silently under-generate grams.
    Declared(
      "ext_dedup_substr",
      (s, d) =>
        Dedup.duplicatedKgramSpans(Tables.documents(s, d), "doc_id", "text", k = 5)
          .agg(count(lit(1)).as("n_spans"),
            countDistinct(col("doc_id")).as("n_docs_with_dups"),
            sum(col("end_pos") - col("start_pos")).as("dup_tokens"),
            sum(col("doc_id") * (col("end_pos") - col("start_pos")))
              .as("span_checksum")),
      Some("""WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '[^a-zA-Z]+'),
                                   t -> t <> '') AS ts
                FROM documents),
              grams AS (
                SELECT doc_id, unnest(range(greatest(len(ts) - 4, 0))) AS pos,
                       unnest(list_transform(range(greatest(len(ts) - 4, 0)),
                                             i -> array_to_string(ts[i+1:i+5], ' '))) AS gram
                FROM toks),
              dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) > 1),
              dp AS (SELECT g.doc_id, g.pos
                     FROM grams g SEMI JOIN dup d ON g.gram = d.gram),
              marks AS (
                SELECT doc_id, pos,
                       CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
                            THEN 0 ELSE 1 END AS brk
                FROM dp),
              sp AS (
                SELECT doc_id, MIN(pos) AS start_pos, MAX(pos) + 5 AS end_pos
                FROM (SELECT doc_id, pos,
                             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
                      FROM marks)
                GROUP BY doc_id, span_id)
              SELECT COUNT(*) AS n_spans,
                     COUNT(DISTINCT doc_id) AS n_docs_with_dups,
                     CAST(SUM(end_pos - start_pos) AS BIGINT) AS dup_tokens,
                     CAST(SUM(doc_id * (end_pos - start_pos)) AS BIGINT) AS span_checksum
              FROM sp""")),

    // The "cut" half of the exact-substring pass: duplicated spans
    // removed from every document, survivors re-joined in order.
    // clean_chars pins the reconstructed TEXT (token bytes + separator
    // count), not just the counts — the oracle rebuilds the cleaned
    // token lists with the same index-range filter.
    Declared(
      "ext_dedup_substr_cut",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val spans = Dedup.duplicatedKgramSpans(docs, "doc_id", "text", k = 5)
        Dedup.cutSpans(docs, "doc_id", "text", spans)
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("tokens_before"),
            sum(col("n_kept")).as("tokens_after"),
            sum(col("doc_id") * col("n_kept")).as("kept_checksum"),
            sum(length(col("clean_text"))).as("clean_chars"))
      },
      Some("""WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '[^a-zA-Z]+'),
                                   t -> t <> '') AS ts
                FROM documents),
              grams AS (
                SELECT doc_id, unnest(range(greatest(len(ts) - 4, 0))) AS pos,
                       unnest(list_transform(range(greatest(len(ts) - 4, 0)),
                                             i -> array_to_string(ts[i+1:i+5], ' '))) AS gram
                FROM toks),
              dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) > 1),
              dp AS (SELECT g.doc_id, g.pos
                     FROM grams g SEMI JOIN dup d ON g.gram = d.gram),
              marks AS (
                SELECT doc_id, pos,
                       CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
                            THEN 0 ELSE 1 END AS brk
                FROM dp),
              sp AS (
                SELECT doc_id, MIN(pos) AS s, MAX(pos) + 5 AS e
                FROM (SELECT doc_id, pos,
                             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
                      FROM marks)
                GROUP BY doc_id, span_id),
              spl AS (SELECT doc_id, list({'s': s, 'e': e}) AS sps FROM sp GROUP BY doc_id),
              clean AS (
                SELECT t.doc_id, len(t.ts) AS n_tokens,
                       CASE WHEN spl.sps IS NULL THEN t.ts
                            ELSE list_filter(t.ts, (x, i) -> NOT list_bool_or(
                                   list_transform(spl.sps, r -> i - 1 >= r.s AND i - 1 < r.e)))
                       END AS kept
                FROM toks t LEFT JOIN spl ON t.doc_id = spl.doc_id)
              SELECT COUNT(*) AS n_docs,
                     CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
                     CAST(SUM(len(kept)) AS BIGINT) AS tokens_after,
                     CAST(SUM(doc_id * len(kept)) AS BIGINT) AS kept_checksum,
                     CAST(SUM(LENGTH(array_to_string(kept, ' '))) AS BIGINT) AS clean_chars
              FROM clean""")),

    // Embedding near-dup census over banded LSH candidates (4 tables ×
    // 8 planes, OR-construction), double-precision cosine — integer
    // projection, so oracle-checkable end to end.
    Declared(
      "ext_dedup_embedding",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val pairs = Similarity.lshNearPairs(emb, "vec_id", "embedding",
          minCos = 0.3, nTables = 4, planesPerTable = 8)
        val np = pairs.agg(count(lit(1)).as("n_pairs"))
        val nd = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("dd"))
          .agg(countDistinct(col("dd")).as("n_docs"))
        np.crossJoin(nd)
      },
      Some(s"""WITH $lshBuckCte,
               cand AS (
                 SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
                 FROM buck x JOIN buck y
                   ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
               pr AS (
                 SELECT a, b FROM cand
                 JOIN embeddings ea ON ea.vec_id = a
                 JOIN embeddings eb ON eb.vec_id = b
                 WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 9) >= 0.3)
               SELECT (SELECT COUNT(*) FROM pr) AS n_pairs,
                      (SELECT COUNT(DISTINCT dd) FROM
                        (SELECT a AS dd FROM pr UNION ALL SELECT b FROM pr)) AS n_docs""")),

    // Event debounce ([[Dedup.debounce]]): drop an event when the
    // same user's PREVIOUS event (by ts, event_id) has the same type
    // and landed within 15 minutes — repeated-click / double-webhook
    // suppression, the event-stream face of exact dedup. One keyed
    // window (shuffle + sort) serves the single lag; the gap compare
    // is exact integer microseconds against the oracle's interval
    // arithmetic. The full kept-id listing is the gated output.
    Declared(
      "ext_dedup_debounce",
      (s, d) =>
        Dedup.debounce(Tables.events(s, d), Seq("user_id"), "ts",
            Seq("event_type"), withinMs = 900000L, tieCols = Seq("event_id"))
          .select(col("event_id")).orderBy("event_id"),
      Some("""WITH x AS (
                SELECT event_id, ts, user_id, event_type,
                       LAG(event_type) OVER w AS p_type,
                       LAG(ts) OVER w AS p_ts
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
              SELECT event_id FROM x
              WHERE p_ts IS NULL OR p_type <> event_type
                 OR ts - p_ts > INTERVAL 15 MINUTE
              ORDER BY event_id"""))
  )
}
