package graft.queries

import java.util.concurrent.atomic.AtomicLong

import graft.Tables
import graft.ext.{Dedup, Hashing}
import graft.streaming.{Sessionize, StreamingQueries}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger


/** Streaming family: gated `Trigger.AvailableNow` replays of the
  * streaming operators — the rows that put Structured Streaming under
  * the driver's DuckDB correctness gate instead of spec-only
  * batch-differential coverage.
  *
  * Shape: the fixture is replayed as a REAL file-source stream
  * (`Tables.loadStream` — same `@k` scaled-dir convention as the
  * batch loader), the streaming operator under test runs to
  * completion under `Trigger.AvailableNow` into a memory sink, and
  * the settled result is aggregated into arrival-order-INDEPENDENT
  * checksums a batch oracle can replay. That last part is the design
  * constraint unique to this family: a streaming dedup keeps the
  * FIRST arrival per key and file-source arrival order is not
  * contractual, so the gated projection pins the kept fingerprint
  * SET (count + fingerprint-sum), which is deterministic, rather
  * than kept doc_ids, which are not. The batch twin
  * (`ext_dedup_incremental`) separately pins its min-id kept rows.
  */
object ExtStreamQueries {

  /** Memory-sink names must be unique per execution (Bench replays
    * each query up to 4×; a clashing registration would read a stale
    * table).
    */
  private val runSeq = new AtomicLong()

  /** Fresh sink name for `base`, RELEASING the previous run's sink of
    * the same query first. A memory sink's settled rows live in the
    * driver for as long as its temp view stays registered, and Bench
    * replays every row up to 6× (2 warm + up to 4 timed) in one JVM —
    * leaving each replay's full output registered retains, at @32,
    * several GB of dead sink rows (the enrich sink alone is 3.2 M
    * enriched events per replay). That accumulation OOM-killed an
    * executor thread mid-@32-run and took the whole SparkContext with
    * it (local mode: an uncaught OOM on any task thread stops the
    * context). Dropping at the START of the next run — never at the
    * end of the current one — keeps the contract that the caller
    * consumes the returned DataFrame (which reads the sink lazily)
    * before invoking the query again, which both Verify and Bench do.
    */
  private val lastSink = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def freshSink(s: org.apache.spark.sql.SparkSession, base: String): String = {
    val name = s"${base}_${runSeq.incrementAndGet()}"
    Option(lastSink.put(base, name)).foreach(s.catalog.dropTempView(_))
    name
  }

  /** Run `body` (a streaming replay) with 8 shuffle/state partitions,
    * restoring the session's count after. Stateful microbatch cost is
    * per-partition per-trigger — every trigger commits every state
    * store instance — and the fixture replays ~16 file-sized
    * microbatches whose state is kilobytes, so 32 partitions pay 512
    * near-empty state commits per operator: measured 6.2 s → 2.9 s on
    * the interval join at sf0.1, and still 11.2 s → 7.4 s at @32. A
    * production continuous job sizes state partitions to sustained
    * throughput (state volume ÷ per-task memory), not to the session
    * default; 8 holds that role for the fixture replay. The restore
    * happens before the returned batch aggregation executes, so only
    * the stream itself runs narrow.
    */
  private[queries] def statePartitions[A](s: org.apache.spark.sql.SparkSession)(body: => A): A =
    graft.Session.withConf(s, "spark.sql.shuffle.partitions" -> "8")(body)

  val all: Seq[Declared] = declared.map(q =>
    q.copy(df = (s, dir) => statePartitions(s)(q.df(s, dir))))

  private def declared: Seq[Declared] = Seq(

    // Streaming ingest dedup ([[StreamingQueries.incrementalDedup]])
    // under the correctness gate: the 20% ingest slice streams from
    // the fixture, anti-joins the standing corpus's fingerprint store
    // (stream-static, re-planned per microbatch), and first-arrival
    // dedups within the stream via watermark-bounded state. Event
    // time is synthetic (timestamp_millis(doc_id)) — the documents
    // fixture carries no timestamp, and the dedup contract only needs
    // event time to bound state, not to order survivors. The oracle
    // is the same DuckDB formulation ext_dedup_incremental uses, with
    // the kept set projected to its fingerprint checksum (see object
    // doc: kept ids are arrival-order-dependent, the kept fp SET is
    // not).
    Declared(
      "ext_stream_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // same PlanCache'd store artifact (and tag) as the batch twin
        // ext_dedup_incremental: one corpus fingerprint relation per
        // session serves both, and the stream-static join sees a
        // cached leaf instead of the corpus scan tree
        val store = graft.ext.PlanCache.cached(
          "incExact/store/text", docs)(dd =>
            Dedup.fingerprintStore(dd.where(col("doc_id") % 5 =!= 0), "text"))
        // synthetic event time OFFSET from epoch 0: a streaming
        // query's initial watermark IS 1970-01-01T00:00:00, and the
        // late-row filter drops events at-or-before it — so doc_id=0
        // mapped to epoch 0 exactly would be silently discarded as
        // late in the very first microbatch (measured: kept 99/100
        // at sf0.01 without the offset)
        val stream = Tables.loadStream(s, d, "documents")
          .where(col("doc_id") % 5 === 0)
          .withColumn("ts", timestamp_millis(col("doc_id") + 86400000L))
        val kept = StreamingQueries.incrementalDedup(stream, store,
          watermark = "365 days") // AvailableNow replay: nothing expires
        val sink = freshSink(s, "graft_stream_dedup")
        val q = kept.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        docs.where(col("doc_id") % 5 === 0)
          .agg(count(lit(1)).as("n_batch"))
          .crossJoin(s.table(sink).agg(
            count(lit(1)).as("n_new"),
            // h60 values approach 2^60, so a raw sum over even ~10
            // kept rows overflows Long (ANSI: loud failure); summing
            // the mod-p residues keeps the checksum in range at any
            // corpus size while still pinning the SET (a changed
            // member shifts the residue sum with probability 1-1/p)
            coalesce(sum(Hashing.h60(col("text")) % 1000000007L), lit(0L))
              .as("fp_checksum")))
      },
      Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
              batch AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
              store AS (SELECT DISTINCT md5(text) AS fp FROM corpus),
              fresh AS (SELECT b.* FROM batch b ANTI JOIN store s ON md5(b.text) = s.fp),
              fps AS (SELECT DISTINCT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp
                      FROM fresh)
              SELECT (SELECT COUNT(*) FROM batch) AS n_batch,
                     COUNT(*) AS n_new,
                     CAST(COALESCE(SUM(fp % 1000000007), 0) AS BIGINT) AS fp_checksum
              FROM fps""")),

    // Streaming tumbling-window aggregation under the gate
    // ([[StreamingQueries.tumblingWindow]], the twin of DQ14): the
    // REAL events stream (Tables.loadStream — ts-normalized like the
    // batch loader) aggregated into 1-hour event-time windows with a
    // 30-minute watermark in APPEND mode. Append emits a window
    // exactly once, when the watermark passes its end — so under
    // Trigger.AvailableNow the settled sink holds precisely the
    // windows with end ≤ final watermark = max(ts) − 30 min (the
    // stateful-op flush batch that AvailableNow runs after the last
    // data batch). The oracle replays DQ14's aggregation FILTERED by
    // that same predicate — pinning not just the aggregates but the
    // append-mode emission contract itself; the last partial windows
    // are exactly the rows a correct watermark must still hold back.
    Declared(
      "ext_stream_window",
      (s, d) => {
        val stream = Tables.loadStream(s, d, "events")
        val agg = StreamingQueries.tumblingWindow(stream,
          every = "1 hour", watermark = "30 minutes")
        val sink = freshSink(s, "graft_stream_window")
        val q = agg.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(sink).orderBy("h", "event_type")
      },
      Some("""WITH m AS (SELECT MAX(ts) AS mx FROM events),
              w AS (
                SELECT date_trunc('hour', ts) AS h0, event_type,
                       COUNT(*) AS n,
                       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS v
                FROM events GROUP BY h0, event_type)
              SELECT strftime(h0, '%Y-%m-%d %H:%M:%S') AS h, event_type, n, v
              FROM w, m
              WHERE h0 + INTERVAL 1 HOUR <= mx - INTERVAL 30 MINUTE
              ORDER BY h, event_type""")),

    // Streaming sessionization under the gate ([[Sessionize.sessions]],
    // the flatMapGroupsWithState twin of ext_rel_sessionize): the real
    // events stream sessionized per user with a 30-minute gap and a
    // 30-minute watermark in APPEND mode. A session is emitted exactly
    // once, when the watermark passes its end + gap (no admissible
    // event can extend or bridge it any more), so the settled sink
    // holds precisely the sessions with end + gap < max(ts) − 30 min —
    // the custom-state emission contract itself is what the oracle
    // pins, on top of the segmentation. Session semantics are
    // order-independent (state merges out-of-order arrivals), so the
    // full session rows — not just checksums — are gate-stable.
    //
    // Precision contract: the state handler works on
    // java.sql.Timestamp#getTime epochs and Spark's watermark on
    // ms-truncated event-time stats, so the oracle segments and seals
    // on epoch_ms(ts) — DuckDB's identical ms truncation of the µs
    // fixture timestamps. (The BATCH sessionize gate deliberately
    // keeps µs precision; the 13 sub-ms gap boundaries at sf0.01 where
    // the two could diverge are part of each contract, not noise.)
    Declared(
      "ext_stream_sessionize",
      (s, d) => {
        val stream = Tables.loadStream(s, d, "events")
          .select(col("user_id").cast("string").as("key"), col("ts"))
        val sess = Sessionize.sessions(stream, gapMs = 1800000L,
          watermark = "30 minutes")
        val sink = freshSink(s, "graft_stream_sessionize")
        val q = sess.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(sink).select(
            col("key").cast("long").as("user_id"),
            unix_millis(col("start")).as("start_ms"),
            unix_millis(col("end")).as("end_ms"),
            col("n_events"))
          .orderBy("user_id", "start_ms")
      },
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS tms FROM events),
              m AS (SELECT MAX(tms) AS mx FROM e),
              g AS (
                SELECT user_id, tms,
                       CASE WHEN tms - LAG(tms) OVER w > 1800000
                            OR LAG(tms) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
                FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY tms)
              ), s AS (
                SELECT user_id, tms,
                       SUM(new_s) OVER (PARTITION BY user_id ORDER BY tms
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM g
              ), agg AS (
                SELECT user_id, sid, MIN(tms) AS start_ms, MAX(tms) AS end_ms,
                       COUNT(*) AS n_events
                FROM s GROUP BY user_id, sid
              )
              SELECT user_id, start_ms, end_ms, n_events
              FROM agg, m
              WHERE end_ms + 1800000 < mx - 1800000
              ORDER BY user_id, start_ms""")),

    // Stream-STREAM interval join under the gate
    // ([[StreamingQueries.intervalJoin]], the symmetric-state shape —
    // the fourth and last stateful streaming surface after dedup
    // state, windowed aggregation, and flatMapGroupsWithState): click
    // events joined to same-user purchase events within [0, 6h), both
    // sides REAL streams from the events fixture with 30-minute
    // watermarks. An INNER stream-stream join emits a pair exactly
    // when both rows are present (the watermark only bounds state,
    // it never holds back an emission), and AvailableNow replays
    // every row, so the settled pair SET equals the batch interval
    // join — which is precisely what the oracle replays. Grouped
    // per-user pair counts + an order-independent pair checksum pin
    // which (click, purchase) pairs the join state actually produced.
    Declared(
      "ext_stream_interval_join",
      (s, d) => {
        val ev = Tables.loadStream(s, d, "events")
        val clicks = ev.where(col("event_type") === "click")
          .select("user_id", "ts", "event_id")
        val purchases = ev.where(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id")
        val joined = StreamingQueries.intervalJoin(
          clicks, purchases, Seq("user_id"), "ts", "ts",
          lowerMs = 0L, upperMs = 21600000L, watermark = "30 minutes")
        val sink = freshSink(s, "graft_stream_ij")
        val q = joined.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(sink)
          .groupBy(col("l_user_id").as("user_id"))
          .agg(count(lit(1)).as("n_pairs"),
            (sum((col("l_event_id") * 31 + col("r_event_id")) % 1000000007L)
              % 1000000007L).as("pair_checksum"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (SELECT user_id, ts, event_id FROM events
                         WHERE event_type = 'click'),
              p AS (SELECT user_id, ts, event_id FROM events
                    WHERE event_type = 'purchase'),
              j AS (
                SELECT c.user_id, c.event_id AS cid, p.event_id AS pid
                FROM c JOIN p ON c.user_id = p.user_id
                 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 6 HOUR)
              SELECT user_id, COUNT(*) AS n_pairs,
                     CAST(SUM((cid * 31 + pid) % 1000000007) % 1000000007 AS BIGINT)
                       AS pair_checksum
              FROM j GROUP BY user_id ORDER BY user_id""")),

    // COMPLETE-mode streaming aggregation under the gate
    // ([[StreamingQueries.wordCount]], the streaming twin of DQ2):
    // the documents stream word-counted with the running per-word
    // totals in the state store, emitted in COMPLETE mode — the third
    // output mode, previously spec-only (the four r10 rows all pin
    // APPEND). Complete mode rewrites the memory sink's table every
    // trigger, so after AvailableNow settles the sink IS the full
    // final aggregation — no watermark, no emission predicate: the
    // contract pinned here is that the LAST rewrite equals the batch
    // aggregation of every row replayed (a state store that dropped
    // or double-counted a group across microbatch rewrites diverges).
    // Scale note: complete mode retains every group in state by
    // definition — it is the right mode exactly when result
    // cardinality is small (a vocabulary, a dashboard), and this row
    // uses it that way; unbounded-key streams belong to the append
    // rows above.
    Declared(
      "ext_stream_wordcount",
      (s, d) => {
        val stream = Tables.loadStream(s, d, "documents")
        val wc = StreamingQueries.wordCount(stream, "text")
        val sink = freshSink(s, "graft_stream_wc")
        val q = wc.writeStream.format("memory").queryName(sink)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(sink).orderBy("word")
      },
      Some("""SELECT w AS word, COUNT(*) AS c
              FROM (SELECT unnest(string_split_regex(text, '[^a-zA-Z]+')) AS w
                    FROM documents)
              WHERE w <> '' GROUP BY w ORDER BY word""")),

    // Stream-STATIC enrichment under the gate
    // ([[StreamingQueries.enrich]]): the events stream left-joined to
    // the customer dimension — the stateless streaming shape (no
    // watermark, no state store; the static side is re-planned and
    // broadcast per microbatch). Every event must survive exactly
    // once with its dimension columns attached: n_unmatched pins the
    // LEFT contract (an inner join would silently drop dimension
    // misses; here every user_id resolves, so any nonzero value means
    // the broadcast join dropped or failed to match rows), and the
    // per-nation counts + event checksum pin that each replayed event
    // was enriched with the RIGHT row. Aggregation happens after the
    // sink on the settled table, so the streaming plan under test is
    // pure enrich.
    Declared(
      "ext_stream_enrich",
      (s, d) => {
        val ev = Tables.loadStream(s, d, "events")
          .select("event_id", "user_id", "value")
        val dim = Tables.customer(s, d)
          .select(col("c_custkey").as("user_id"), col("c_nationkey"))
        val enriched = StreamingQueries.enrich(ev, dim, Seq("user_id"))
        val sink = freshSink(s, "graft_stream_enrich")
        val q = enriched.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(sink)
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            (sum(col("event_id") % 1000000007L) % 1000000007L).as("event_checksum"),
            sum(when(col("c_nationkey").isNull, 1L).otherwise(0L)).as("n_unmatched"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT c.c_nationkey,
                     COUNT(*) AS n_events,
                     COUNT(DISTINCT e.user_id) AS n_users,
                     CAST(SUM(e.event_id % 1000000007) % 1000000007 AS BIGINT)
                       AS event_checksum,
                     CAST(SUM(CASE WHEN c.c_nationkey IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_unmatched
              FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
              GROUP BY c.c_nationkey
              ORDER BY c.c_nationkey NULLS FIRST""")),

    // UPDATE-mode streaming aggregation under the gate — the third
    // and last output mode (r10 gated APPEND's watermark-held
    // emission, ext_stream_wordcount gated COMPLETE's full rewrite).
    // Update emits a (window, type) group every trigger its RUNNING
    // aggregate changes in — without waiting for the watermark to
    // seal the window (append's contract) and without rewriting
    // unchanged groups (complete's contract). So the settled sink
    // holds one row per (group, changed-batch); n is strictly
    // monotone within a group (a group re-emits only when new events
    // arrive), so the max-n row per group IS its final state, and
    // that must equal the full batch aggregation with NO watermark
    // filter — the sink's inclusion of the last partial windows
    // (exactly the rows append held back) is what distinguishes the
    // two modes in data, not just config. Per-group emission COUNTS
    // are microbatch-layout-dependent (how the file source splits
    // the replay) and deliberately not pinned.
    Declared(
      "ext_stream_update",
      (s, d) => {
        val stream = Tables.loadStream(s, d, "events")
        val agg = StreamingQueries.tumblingWindow(stream,
          every = "1 hour", watermark = "30 minutes")
        val sink = freshSink(s, "graft_stream_update")
        val q = agg.writeStream.format("memory").queryName(sink)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(sink).groupBy("h", "event_type")
          .agg(max(col("n")).as("n"), max_by(col("v"), col("n")).as("v"))
          .orderBy("h", "event_type")
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
                     event_type, COUNT(*) AS n,
                     ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS v
              FROM events GROUP BY 1, 2 ORDER BY h, event_type""")),

    // LEFT_OUTER stream-stream interval join under the gate — the
    // subtle half of the contract the inner row can't see: a click
    // that never matched must surface as a NULL-padded row, but only
    // once the WATERMARK PROVES no future purchase can still land in
    // its [ts, ts+6h) interval (an unbounded-buffer outer join could
    // never declare that). Matched pairs emit unconditionally (both
    // rows present — AvailableNow replays everything); unmatched
    // clicks emit in the stateful-op flush batch iff evicted, i.e.
    // ts + 6h is behind the final GLOBAL watermark — the MIN over the
    // two join inputs of (max event time − 30 min), NOT the whole
    // table's max: the slower side (purchases here) holds the
    // watermark back for both, measured directly at sf0.01 (a click
    // 6h43m old stayed buffered because max purchase ts trailed max
    // event ts by 32 min).
    // Spark's exact eviction boundary sits within ~1 ms of that
    // cutoff (ms-floored watermark arithmetic), so BOTH engines apply
    // the same 1-minute-stricter predicate to the unmatched side:
    // every null row the watermark clearly proves must exist is
    // pinned present-and-correct, and sub-ms boundary rows can't
    // flip the gate on a fixture refresh. A missing null-pad path, a
    // wrong eviction rule, or a spurious unmatched row all flip the
    // checksums.
    Declared(
      "ext_stream_interval_join_left",
      (s, d) => {
        val ev = Tables.loadStream(s, d, "events")
        val clicks = ev.where(col("event_type") === "click")
          .select("user_id", "ts", "event_id")
        val purchases = ev.where(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id")
        val joined = StreamingQueries.intervalJoin(
          clicks, purchases, Seq("user_id"), "ts", "ts",
          lowerMs = 0L, upperMs = 21600000L, watermark = "30 minutes",
          joinType = "left_outer")
        val sink = freshSink(s, "graft_stream_ijl")
        val q = joined.writeStream.format("memory").queryName(sink)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val mx = Tables.events(s, d)
          .where(col("event_type").isin("click", "purchase"))
          .groupBy(col("event_type")).agg(max(col("ts")).as("__m"))
          .agg(min(col("__m")).as("__mx"))
        s.table(sink).crossJoin(mx)
          .where(col("r_event_id").isNotNull ||
            col("l_ts") + expr("INTERVAL 6 HOURS") <
              col("__mx") - expr("INTERVAL 31 MINUTES"))
          .groupBy(col("l_user_id").as("user_id"))
          .agg(
            sum(when(col("r_event_id").isNotNull, 1L).otherwise(0L)).as("n_pairs"),
            sum(when(col("r_event_id").isNull, 1L).otherwise(0L)).as("n_unmatched"),
            (coalesce(sum(when(col("r_event_id").isNotNull,
                (col("l_event_id") * 31 + col("r_event_id")) % 1000000007L)),
              lit(0L)) % 1000000007L).as("pair_checksum"),
            (coalesce(sum(when(col("r_event_id").isNull,
                col("l_event_id") % 1000000007L)),
              lit(0L)) % 1000000007L).as("unmatched_checksum"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (SELECT user_id, ts, event_id FROM events
                         WHERE event_type = 'click'),
              p AS (SELECT user_id, ts, event_id FROM events
                    WHERE event_type = 'purchase'),
              m AS (SELECT LEAST((SELECT MAX(ts) FROM c),
                                 (SELECT MAX(ts) FROM p)) AS mx),
              j AS (
                SELECT c.user_id, c.event_id AS cid, c.ts AS cts,
                       p.event_id AS pid
                FROM c LEFT JOIN p ON c.user_id = p.user_id
                 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 6 HOUR),
              keep AS (
                SELECT user_id, cid, pid FROM j WHERE pid IS NOT NULL
                UNION ALL
                SELECT user_id, cid, pid FROM j, m
                WHERE pid IS NULL
                  AND cts + INTERVAL 6 HOUR < mx - INTERVAL 31 MINUTE)
              SELECT user_id,
                     CAST(SUM(CASE WHEN pid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pairs,
                     CAST(SUM(CASE WHEN pid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_unmatched,
                     CAST(COALESCE(SUM(CASE WHEN pid IS NOT NULL
                            THEN (cid * 31 + pid) % 1000000007 END), 0)
                          % 1000000007 AS BIGINT) AS pair_checksum,
                     CAST(COALESCE(SUM(CASE WHEN pid IS NULL
                            THEN cid % 1000000007 END), 0)
                          % 1000000007 AS BIGINT) AS unmatched_checksum
              FROM keep GROUP BY user_id ORDER BY user_id"""))

  )
}
