package graft.queries

import graft.Tables
import graft.ext.PlanCache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Constants, DuckDB CTE text, checksum projections and changelog
  * fixtures shared by the per-family ext query registries
  * (Ext*Queries). Every cap or CTE here is mirrored verbatim between
  * the Spark queries and their oracle SQL twins — change one, change
  * both.
  */
object ExtShared {

  /** Stop-shingle document-frequency cap shared by the Spark queries
    * and their oracles (see [[Dedup.cappedShingleHashes]]).
    */
  private[queries] val DfCap = 100

  /** LSH bucket-size cap shared by the Spark queries and their oracles
    * (see [[Dedup.lshCandidatePairs]]): buckets holding more docs are
    * degenerate near-identical clusters, excluded from pairwise
    * verification.
    */
  private[queries] val MaxBucket = 64

  /** The customer snapshot as a changelog-shaped store seed, the
    * starting store of every matview and forget row: `(c_custkey,
    * c_mktsegment, bal_cents, op = 'U', ts = epoch 0, event_id = -1)`.
    */
  private[queries] def customerSeed(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100).cast("long").as("bal_cents"),
      lit("U").as("op"), timestamp_millis(lit(0L)).as("ts"),
      lit(-1L).as("event_id"))

  /** `events` as the changelog those rows fold into [[customerSeed]]:
    * key `user_id + 1450` (updates to existing customers AND inserts
    * past the snapshot's key range), the event type as the segment,
    * the value in cents, an 'error' event as a delete, and the seq
    * `(ts, event_id)`.
    */
  private[queries] def eventsChangelog(events: DataFrame): DataFrame = {
    val k = col("user_id") + 1450
    events.select(k.as("c_custkey"), col("event_type").as("c_mktsegment"),
      round(col("value") * 100).cast("long").as("bal_cents"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"),
      col("ts"), col("event_id"))
  }

  /** The `ext_stream_matview*` rows' file-stream source: the events
    * changelog range-partitioned by ts into 8 parquet files, written
    * once per session and events plan ([[PlanCache.artifact]]) — the
    * replay, not the export, is what a timing measures.
    */
  private[queries] def matviewSource(s: SparkSession, dir: String): String =
    PlanCache.artifact("streamMatview/src/8/1450", Tables.events(s, dir)) { e =>
      val p = java.nio.file.Files.createTempDirectory("graft_smv_src").toString
      eventsChangelog(e).repartitionByRange(8, col("ts"))
        .write.mode("overwrite").parquet(p)
      p
    }

  /** The maintained per-segment view's oracle: the full recompute over
    * the one-shot batch merge of [[eventsChangelog]] into
    * [[customerSeed]] — `(n, sum_cents)`, widened with MIN/MAX for the
    * min/max and sketch flavours. ONE generator for the three batch
    * and the three streamed matview rows: the rows claim to gate
    * against the same recompute, and a shared definition makes that
    * true by construction instead of by parallel editing.
    */
  private[queries] def matviewOracle(minmax: Boolean): String = {
    val mm = if (minmax)
      ", MIN(cents) AS min_cents, MAX(cents) AS max_cents" else ""
    s"""WITH log AS (
         SELECT user_id + 1450 AS k, event_type AS seg,
                CAST(round(value * 100) AS BIGINT) AS cents,
                CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                ts, event_id
         FROM events),
       latest AS (
         SELECT k, seg, cents, op FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY k
             ORDER BY ts DESC, event_id DESC) AS rn FROM log)
         WHERE rn = 1),
       merged AS (
         SELECT c.c_mktsegment AS seg,
                CAST(round(c.c_acctbal * 100) AS BIGINT) AS cents
         FROM customer c ANTI JOIN latest l ON c.c_custkey = l.k
         UNION ALL
         SELECT seg, cents FROM latest WHERE op <> 'D')
       SELECT seg AS c_mktsegment, COUNT(*) AS n,
              CAST(SUM(cents) AS BIGINT) AS sum_cents$mm
       FROM merged GROUP BY 1 ORDER BY 1"""
  }

  /** Shared DuckDB CTE text: distinct (doc_id, token) with 32-bit hash. */
  private[queries] val tokCte =
    """tok AS (
         SELECT DISTINCT doc_id, w FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE w <> ''),
       h AS (
         SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS hv FROM tok)"""

  /** Shared DuckDB CTE text: 60-bit SimHash signature per doc — the
    * oracle twin of [[graft.ext.Dedup.simhash]] at bits = 60 (token
    * hashes from the top 15 hex chars of md5, majority vote per bit).
    */
  private[queries] val simh60Cte =
    """tok60 AS (
         SELECT DISTINCT doc_id, w FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE w <> ''),
       h60 AS (
         SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv FROM tok60),
       sbits AS (
         SELECT doc_id, b,
                SUM(CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
         FROM h60, range(60) t(b) GROUP BY doc_id, b),
       simh AS (
         SELECT doc_id,
                SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
         FROM sbits GROUP BY doc_id)"""

  /** Shared DuckDB CTE text: distinct word-trigram shingles per doc.
    * The token position comes from zip-unnesting the split list with
    * `range(len(...))` in the SELECT list (DuckDB runs parallel
    * unnests in lockstep) — `range` as a lateral table function over a
    * column is not supported.
    */
  private[queries] val shingleCte =
    """tp AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                unnest(range(len(string_split(text, ' ')))) AS pos
         FROM documents),
       sh0 AS (
         SELECT doc_id,
                w || ' ' || LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                  || ' ' || LEAD(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle
         FROM tp),
       sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL)"""

  /** Shared DuckDB CTE text: hashed shingles with the df > DfCap
    * stop-shingles dropped, plus per-doc cardinality — the oracle twin
    * of [[Dedup.cappedShingleHashes]].
    */
  private[queries] def cappedShingleCte =
    s"""$shingleCte,
       shh AS (
         SELECT DISTINCT doc_id,
                CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS sh
         FROM sh),
       kept AS (SELECT sh FROM shh GROUP BY sh HAVING COUNT(*) <= $DfCap),
       fsh AS (SELECT doc_id, sh FROM shh JOIN kept USING (sh)),
       card AS (SELECT doc_id, COUNT(*) AS n FROM fsh GROUP BY doc_id)"""

  /** Shared DuckDB CTE text: MinHash band signatures (k=16 minhashes,
    * 4 bands × 4 rows) — twin of [[Dedup.minhashSignatures]] +
    * [[Dedup.lshBands]].
    */
  private[queries] val minhashSigCte =
    s"""$tokCte,
       mh AS (
         SELECT doc_id, i,
                MIN(((2*i + 3) * hv + (5*i + 7)) % 2147483647) AS minh
         FROM h, range(16) t(i) GROUP BY doc_id, i),
       sigs AS (
         SELECT doc_id, CAST(i // 4 AS INT) AS band,
                string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS sig
         FROM mh GROUP BY doc_id, band)"""

  /** Shared DuckDB CTE text: sign-random-projection LSH buckets, 4
    * tables × 8 planes over 64-dim embeddings — twin of
    * [[Similarity.lshBuckets]] (global plane i ⇒ table i//8, bit i%8;
    * plane components from the same md5 formula as
    * [[Similarity.planeComponent]]).
    */
  private[queries] val lshBuckCte =
    """planes AS (
         SELECT i, j,
                (CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 8) AS BIGINT)
                   % 1001 - 500) / 500.0 AS pc
         FROM range(32) t(i), range(64) u(j)),
       vx AS (
         SELECT vec_id, unnest(embedding::DOUBLE[]) AS x, unnest(range(64)) AS j
         FROM embeddings),
       proj AS (
         SELECT vec_id, i, SUM(x * pc) AS p
         FROM vx JOIN planes USING (j) GROUP BY vec_id, i),
       buck AS (
         SELECT vec_id, i // 8 AS tbl,
                SUM(CASE WHEN p >= 0 THEN (CAST(1 AS BIGINT) << (i % 8)) ELSE 0 END) AS bucket
         FROM proj GROUP BY vec_id, tbl)"""


  /** Tie-safe integer projection of a top-k listing (query_id,
    * neighbor_id, cos): per query — the row count, the count of
    * neighbors clearing the engine's OWN k-th score by ≥ 1e-9, and
    * the neighbor-id checksum of that clear-cut set. Cross-engine
    * double noise (~1e-15, summation order) cannot move a neighbor
    * across the 1e-9 margin, so the projection hashes identically on
    * both engines even when rank-k ties make the raw listing
    * engine-dependent (scores within 1e-9 of the k-th are excluded on
    * BOTH sides by each engine's own threshold).
    */
  private[queries] def topkChecksum(listing: DataFrame): DataFrame = {
    // the k-th score via a window over the SAME partition key the
    // listing's rank window used — one pass, no added shuffle; a
    // groupBy+self-join would execute the (expensive) listing subtree
    // twice at scale
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
    val clear = col("cos") >= col("__kth") + 1e-9
    listing
      .withColumn("__kth", min(col("cos")).over(w))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(clear, 1L).otherwise(0L)).as("n_clear"),
        sum(when(clear, col("neighbor_id")).otherwise(0L)).as("id_checksum"))
      .orderBy("query_id")
  }

  /** DuckDB CTE text: brute-force scored pairs for the vec_id < 3
    * query panel — `sc(query_id, neighbor_id, cos)` + rank/top/kth.
    */
  private[queries] def bruteTopCte =
    s"""sc AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
         FROM embeddings q JOIN embeddings c
           ON q.vec_id < 3 AND q.vec_id <> c.vec_id),
       $rankTopKthCte"""

  /** DuckDB CTE text: rank an `sc(query_id, neighbor_id, cos)` set,
    * keep the top 5 per query, derive each query's k-th score.
    */
  private[queries] def rankTopKthCte =
    """rk AS (
         SELECT query_id, neighbor_id, cos,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS rnk
         FROM sc),
       top AS (SELECT * FROM rk WHERE rnk <= 5),
       kth AS (SELECT query_id, MIN(cos) AS kc FROM top GROUP BY query_id)"""

  /** DuckDB twin of [[topkChecksum]]'s final aggregate. */
  private[queries] def topkChecksumSql =
    """SELECT query_id, COUNT(*) AS n_rows,
              CAST(SUM(CASE WHEN cos >= kc + 1e-9 THEN 1 ELSE 0 END) AS BIGINT) AS n_clear,
              CAST(SUM(CASE WHEN cos >= kc + 1e-9 THEN neighbor_id ELSE 0 END) AS BIGINT) AS id_checksum
       FROM top JOIN kth USING (query_id)
       GROUP BY query_id ORDER BY query_id"""

  /** Shared DuckDB CTE text: the full curation-pipeline chain —
    * language gate (lid/lang_kept), quality gate (qual/qual_kept),
    * exact dedup (ex/surv), MinHash bands + bucket cap (sigs/okb/
    * bigc/sig2/cand), shingle-Jaccard verification (sh/shh/fsh/card/
    * inter/ver). Both curation oracles (min-id pair policy and
    * quality-survivor policy) append their drop/fin selection to this
    * chain; the caps interpolate [[MaxBucket]] and [[DfCap]].
    */
  private[queries] def curationCoreCte =
    s"""lid AS (
                 SELECT doc_id, text,
                   len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS en,
                   len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','que','y'))) AS es,
                   len(list_filter(string_split(text,' '), x -> x IN ('der','die','und','ist','das'))) AS de,
                   len(list_filter(string_split(text,' '), x -> x IN ('le','la','et','les','des'))) AS fr
                 FROM documents),
               lang_kept AS (
                 SELECT doc_id, text FROM lid
                 WHERE en > 0 AND en >= es AND en >= de AND en >= fr),
               qual AS (
                 SELECT doc_id, text, len(string_split(text,' ')) AS n_tokens,
                        (len(list_distinct(string_split(text,' '))) * 10)
                          // len(string_split(text,' ')) AS ttr
                 FROM lang_kept),
               qual_kept AS (
                 SELECT doc_id, text, n_tokens FROM qual
                 WHERE n_tokens >= 30 AND ttr >= 3),
               ex AS (SELECT MIN(doc_id) AS doc_id FROM qual_kept GROUP BY md5(text)),
               surv AS (SELECT q.* FROM qual_kept q JOIN ex USING (doc_id)),
               tok AS (
                 SELECT DISTINCT doc_id, w FROM (
                   SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM surv)
                 WHERE w <> ''),
               h AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS hv FROM tok),
               mh AS (
                 SELECT doc_id, i, MIN(((2*i + 3) * hv + (5*i + 7)) % 2147483647) AS minh
                 FROM h, range(16) t(i) GROUP BY doc_id, i),
               sigs AS (
                 SELECT doc_id, CAST(i // 4 AS INT) AS band,
                        string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS sig
                 FROM mh GROUP BY doc_id, band),
               okb AS (SELECT band, sig FROM sigs GROUP BY band, sig HAVING COUNT(*) <= $MaxBucket),
               bigc AS (
                 SELECT DISTINCT s.doc_id FROM sigs s
                 JOIN (SELECT band, sig, MIN(doc_id) AS rep FROM sigs
                       GROUP BY band, sig HAVING COUNT(*) > $MaxBucket) b
                   ON s.band = b.band AND s.sig = b.sig AND s.doc_id <> b.rep),
               sig2 AS (SELECT sigs.* FROM sigs JOIN okb USING (band, sig)),
               cand AS (
                 SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM sig2 a JOIN sig2 b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
               tp AS (
                 SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                        unnest(range(len(string_split(text, ' ')))) AS pos
                 FROM surv),
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
                 SELECT doc_a, doc_b, COUNT(*) AS inter FROM cand
                 JOIN fsh fa ON fa.doc_id = doc_a
                 JOIN fsh fb ON fb.doc_id = doc_b AND fa.sh = fb.sh
                 GROUP BY doc_a, doc_b),
               ver AS (
                 SELECT doc_a, doc_b, inter, ca.n + cb.n - inter AS uni
                 FROM inter JOIN card ca ON doc_a = ca.doc_id
                 JOIN card cb ON doc_b = cb.doc_id
                 WHERE inter * 5 >= (ca.n + cb.n - inter) * 4)"""

}
