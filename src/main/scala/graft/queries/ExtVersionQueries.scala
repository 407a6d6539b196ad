package graft.queries

import graft.Tables
import graft.ext.{Changelog, Hashing}
import graft.streaming.{BucketStore, StreamMerge}
import org.apache.spark.sql.functions._

/** Corpus-versioning family: CDC merge, snapshot diff, SCD-2
  * history, time travel — the [[graft.ext.Changelog]] rows, split out
  * of ExtPipelineQueries (round 12, mechanical — blocks moved
  * verbatim) to keep the per-family registries under the ~900-line
  * ceiling. The streaming twin (`ext_stream_merge`) lives with the
  * other replay-gated rows in [[ExtStreamQueries]].
  */
object ExtVersionQueries {

  /** Same narrow-state-partition discipline as the replay families
    * (ExtStreamQueries/ExtStoreQueries scaladocs carry the
    * measurements), with the width DERIVED from the changelog's input
    * size instead of a tuned constant (guide §2 scale-adaptive
    * partitioning; round 16): the EAGER store-fold rows below (the
    * matview rows' per-batch winner and fold checkpoints; forget's
    * store commits) shuffle at most one fold batch — a quarter of the
    * events table — per exchange, and every groupBy partial-aggregates
    * map-side, so parquet batch bytes bound what crosses. Parquet is
    * ~3-4× lighter than its in-flight rows, so the per-partition
    * target is 32 MB of parquet (≈ 100+ MB of rows — §2.2's
    * partition-size band). The session's own count stays the ceiling,
    * so a narrow session is never widened. Only the work a row runs
    * inside the call sees the scope: what stays lazy (the count/sum
    * view's last fold) executes at the sink, after the restore. The
    * matview rows additionally run with AQE off (`extra`), for the
    * reason [[graft.streaming.BucketStore.maintain]] gives: all their
    * joins are hint-pinned or dim-bounded, and the eager folds gate
    * their recompute branch themselves instead of relying on AQE's
    * empty-relation propagation.
    */
  private def statePartitions[A](s: org.apache.spark.sql.SparkSession, dir: String,
                                 extra: (String, String)*)(body: => A): A = {
    val target = 32L << 20
    val batchBytes = Tables.tableBytes(s, dir, "events") / 4
    val n = math.max(1L, math.min(
      s.sessionState.conf.numShufflePartitions.toLong,
      (batchBytes + target - 1) / target))
    graft.Session.withConf(s, ("spark.sql.shuffle.partitions" -> n.toString) +: extra: _*)(body)
  }

  val all: Seq[Declared] = declared.map { q =>
    q.name match {
      case n if n.startsWith("ext_pipeline_matview") =>
        q.copy(df = (s, dir) => statePartitions(s, dir,
          "spark.sql.adaptive.enabled" -> "false")(q.df(s, dir)))
      case "ext_pipeline_forget" =>
        q.copy(df = (s, dir) => statePartitions(s, dir)(q.df(s, dir)))
      case _ => q
    }
  }

  /** The batch matview rows' one body, over view fold `f`: the store
    * and the view start from the customer snapshot, then the events
    * changelog folds in 4 deterministic batches (`event_id mod 4`). Per
    * batch the winners are built ONCE over the pre-batch store
    * ([[Changelog.storeWinners]]) and checkpointed, and feed both the
    * view fold ([[Changelog.foldWinners]]; an eager flavour checkpoints
    * its own state and recomputes from the pre-batch store) and the
    * next store (`merged`). The broadcast pre-count is off: the fixture
    * bounds the batch sizes. The served view (a sketch's hidden state
    * dropped) must equal the full recompute over the final store.
    */
  private def matview(name: String, f: Changelog.ViewFold): Declared =
    Declared(name, (s, d) => {
      val log = ExtShared.eventsChangelog(Tables.events(s, d))
      val seed = ExtShared.customerSeed(s, d)
      val (view, _) = (0 until 4).foldLeft((f.snapshot(seed), seed)) {
        case ((agg, store), i) =>
          val w = Changelog.storeWinners(store, log.where(pmod(col("event_id"), lit(4)) === i),
            "c_custkey", Seq("ts", "event_id"), maxBroadcastKeys = 0L, Some(f))
          val built = w.copy(rows = w.rows.localCheckpoint(true))
          (Changelog.foldWinners(f, agg, built, () => store), built.merged)
      }
      view.drop(Changelog.SketchCols: _*).orderBy("c_mktsegment")
    }, Some(ExtShared.matviewOracle(f)))

  private def declared: Seq[Declared] = Seq(

    // CDC merge ([[Changelog.applyLog]]): a changelog derived from
    // the events stream (key = user_id + 1450, so the log spans
    // updates to existing customers AND inserts past the snapshot's
    // key range; latest 'error' event ⇒ delete) applied to the
    // customer snapshot. Latest-per-key is max_by over the (ts,
    // event_id) seq — partial-aggregated map-side, so a
    // million-change hot key collapses before the exchange — and the
    // snapshot crosses exactly one anti-join. The full merged table
    // is the gated output (balances as cents), so insert, update,
    // delete, and passthrough rows are all pinned by value.
    Declared(
      "ext_pipeline_merge",
      (s, d) => {
        val snap = Tables.customer(s, d)
        val k = col("user_id") + 1450
        val log = Tables.events(s, d).select(
          k.as("c_custkey"),
          concat(lit("u"), k.cast("string")).as("c_name"),
          (k % 25).cast("int").as("c_nationkey"),
          col("value").as("c_acctbal"),
          col("event_type").as("c_mktsegment"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          col("ts"), col("event_id"))
        Changelog.applyLog(snap, log, "c_custkey", "op", Seq("ts", "event_id"))
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            round(col("c_acctbal") * 100).cast("long").as("bal_cents"),
            col("c_mktsegment"))
          .orderBy("c_custkey")
      },
      Some("""WITH log AS (
                SELECT user_id + 1450 AS k,
                       'u' || CAST(user_id + 1450 AS VARCHAR) AS c_name,
                       CAST((user_id + 1450) % 25 AS INTEGER) AS c_nationkey,
                       value AS c_acctbal, event_type AS c_mktsegment,
                       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                       ts, event_id
                FROM events),
              latest AS (
                SELECT k, c_name, c_nationkey, c_acctbal, c_mktsegment, op FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                    ORDER BY ts DESC, event_id DESC) AS rn FROM log)
                WHERE rn = 1),
              merged AS (
                SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
                       c.c_mktsegment
                FROM customer c ANTI JOIN latest l ON c.c_custkey = l.k
                UNION ALL
                SELECT k, c_name, c_nationkey, c_acctbal, c_mktsegment
                FROM latest WHERE op <> 'D')
              SELECT c_custkey, c_name, c_nationkey,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
                     c_mktsegment
              FROM merged ORDER BY c_custkey""")),

    // Snapshot diff ([[Changelog.diff]]): version B of the documents
    // corpus is a deterministic perturbation of version A (doc_id %
    // 13 removed, % 7 text-modified, % 11 re-added under shifted
    // ids), and the diff labels every key added / removed / changed /
    // unchanged. Rows compare by 8-byte content fingerprints computed
    // map-side — the one shuffle carries (key, fp) pairs, never text;
    // the full labeled table is the gated output.
    Declared(
      "ext_pipeline_snapshot_diff",
      (s, d) => {
        val a = Tables.documents(s, d).select("doc_id", "text")
        val b = a.where(col("doc_id") % 13 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
          .unionByName(a.where(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
        Changelog.diff(a, b, "doc_id", Hashing.h60(col("text")))
          .orderBy("doc_id")
      },
      Some("""WITH a AS (SELECT doc_id, text FROM documents),
              b AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
                FROM documents WHERE doc_id % 13 <> 0
                UNION ALL
                SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 11 = 0),
              fa AS (SELECT doc_id, CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS f FROM a),
              fb AS (SELECT doc_id, CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS f FROM b)
              SELECT COALESCE(fa.doc_id, fb.doc_id) AS doc_id,
                     CASE WHEN fa.f IS NULL THEN 'added'
                          WHEN fb.f IS NULL THEN 'removed'
                          WHEN fa.f = fb.f THEN 'unchanged'
                          ELSE 'changed' END AS status
              FROM fa FULL OUTER JOIN fb ON fa.doc_id = fb.doc_id
              ORDER BY doc_id""")),


    // SCD-type-2 history ([[Changelog.scd2]]) of the same events
    // changelog ext_pipeline_merge applies: every non-delete entry
    // becomes a version row valid [its ts, next entry's ts), deletes
    // close without opening, null valid_to = current. The full
    // history table is the gated output — validity chaining,
    // delete-closure, and the current flag are all pinned by value
    // (applyLog ≡ this history filtered to is_current, which makes
    // the two rows mutual audits).
    Declared(
      "ext_pipeline_scd2",
      (s, d) => {
        val log = Tables.events(s, d).select(
          col("user_id").as("k"), col("event_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"),
          col("event_type"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"))
        Changelog.scd2(log, "k", "op", Seq("ts", "event_id"), "ts")
          .select(col("k"), col("event_id"), col("cents"), col("event_type"),
            date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("vf"),
            date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("vt"),
            col("is_current").cast("int").as("cur"))
          .orderBy("event_id")
      },
      Some("""WITH log AS (
                SELECT user_id AS k, event_id, ts,
                       CAST(round(value * 100) AS BIGINT) AS cents, event_type,
                       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
                FROM events),
              v AS (
                SELECT *, LEAD(ts) OVER (PARTITION BY k ORDER BY ts, event_id) AS vto
                FROM log)
              SELECT k, event_id, cents, event_type,
                     strftime(ts, '%Y-%m-%d %H:%M:%S') AS vf,
                     strftime(vto, '%Y-%m-%d %H:%M:%S') AS vt,
                     CASE WHEN vto IS NULL THEN 1 ELSE 0 END AS cur
              FROM v WHERE op <> 'D' ORDER BY event_id""")),

    // Time travel ([[Changelog.asOf]]): the snapshot visible at
    // 2024-01-16T00:00Z, read straight off the same SCD-2 history as
    // ext_pipeline_scd2 with ONE map-side interval filter — no join,
    // no window. Keys whose last pre-instant entry was a delete must
    // be absent (the delete capped the previous version's valid_to);
    // per-type counts plus id/cents checksums pin exactly which
    // version of every key the instant sees.
    Declared(
      "ext_pipeline_time_travel",
      (s, d) => {
        val log = Tables.events(s, d).select(
          col("user_id").as("k"), col("event_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"),
          col("event_type"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"))
        val hist = Changelog.scd2(log, "k", "op", Seq("ts", "event_id"), "ts")
        Changelog.asOf(hist, to_timestamp(lit("2024-01-16 00:00:00")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_keys"),
            sum(col("k")).as("key_checksum"),
            sum(col("event_id")).as("version_checksum"),
            sum(col("cents")).as("cents_checksum"))
          .orderBy("event_type")
      },
      Some("""WITH log AS (
                SELECT user_id AS k, event_id, ts,
                       CAST(round(value * 100) AS BIGINT) AS cents, event_type,
                       CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
                FROM events),
              v AS (
                SELECT *, LEAD(ts) OVER (PARTITION BY k ORDER BY ts, event_id) AS vto
                FROM log),
              snap AS (
                SELECT * FROM v
                WHERE op <> 'D'
                  AND ts <= TIMESTAMP '2024-01-16 00:00:00'
                  AND (vto IS NULL OR TIMESTAMP '2024-01-16 00:00:00' < vto))
              SELECT event_type, COUNT(*) AS n_keys,
                     CAST(SUM(k) AS BIGINT) AS key_checksum,
                     CAST(SUM(event_id) AS BIGINT) AS version_checksum,
                     CAST(SUM(cents) AS BIGINT) AS cents_checksum
              FROM snap GROUP BY 1 ORDER BY event_type""")),

    // Incremental materialized-view maintenance ([[matview]] over
    // [[Changelog.CountSum]]): the per-segment (count, balance-cents
    // sum) view of the SAME merged table as ext_pipeline_merge,
    // maintained incrementally — seeded from the customer snapshot,
    // then folded through 4 changelog batches ALONGSIDE the store
    // merge, each batch's change computed from the batch and the
    // pre-batch store only. The gate pins the telescoping law on real
    // data: the folded aggregate must equal the full recompute over the
    // final merged table (which is what the oracle runs). 100 TB shape:
    // per batch, the store is touched only via broadcast joins on the
    // batch's keys; the corpus is NEVER rescanned to refresh the view —
    // that full rescan is exactly what this operator exists to avoid.
    matview("ext_pipeline_matview", ExtShared.SegCountSum),

    // NON-self-maintainable view maintenance ([[matview]] over
    // [[Changelog.MinMax]]): the same per-segment view widened with
    // MIN/MAX, folded through the same 4 changelog batches. count/sum
    // telescope as above; min/max cannot survive a boundary retraction
    // incrementally, so the fold recomputes EXACTLY the dims where a
    // leaving pre-image value tied the current min or max (flagged in
    // the fold's one groupBy by dims; the recompute reads the live rows
    // of those dims only — the operator's honest, documented cost). The
    // gate: folded view == full MIN/MAX recompute over the final merged
    // table, on real data where the error-typed deletes DO retract
    // segment boundaries.
    matview("ext_pipeline_matview_minmax", ExtShared.SegMinMax),

    // SKETCHED MIN/MAX view maintenance ([[matview]] over
    // [[Changelog.Sketch]]): the same 4-batch fold as
    // ext_pipeline_matview_minmax, but each dim carries its k=8
    // smallest/largest live values, so a boundary retraction is an
    // O(1) sketch pop — the per-retraction store recompute the plain
    // minmax fold pays becomes RARE (only a dim whose sketch side
    // DRAINS while untracked values remain rebuilds, i.e. at least k
    // boundary deletions per side between rebuilds; ChangelogSpec pins
    // both the rarity and the drain correctness at k=2). Served
    // (n, sum, min, max) must equal the same full recompute oracle —
    // the sketch is internal state, invisible to the answer.
    matview("ext_pipeline_matview_sketch", ExtShared.SegSketch),

    // Right-to-be-forgotten ([[BucketStore.purgeKeys]]): the merged
    // customer store — seeded snapshot + one applied changelog batch,
    // persisted in the bucketed version store — physically forgets
    // every key ≡ 0 (mod 89): live rows, tombstones, AND superseded
    // bucket copies of older versions. The gated output is the
    // post-purge serving snapshot census PLUS a `__residual` row that
    // counts forgotten-key rows across EVERY parquet file still on
    // disk anywhere under the store — the oracle pins it to ZERO, so
    // the erasure itself (not just the snapshot view) is under the
    // gate. 100 TB shape: the key list broadcasts once, only the
    // buckets it hashes into are read and rewritten, and the scrub is
    // driver-side fs metadata.
    Declared(
      "ext_pipeline_forget",
      (s, d) => {
        val seed = ExtShared.customerSeed(s, d)
        val log = ExtShared.eventsChangelog(Tables.events(s, d))
        val storeDir = java.nio.file.Files
          .createTempDirectory("graft_forget_store").toString
        StreamMerge.seed(seed, storeDir, "c_custkey")
        StreamMerge.applyBatch(log, 0L, storeDir, "c_custkey", "op",
          Seq("ts", "event_id"))
        val keys = ExtShared.forgetKeys(seed, log)
        BucketStore.purgeKeys(s, storeDir, keys, "c_custkey")
        // the erasure probe reads every parquet file still under the
        // store dir, of any provenance
        ExtShared.withResidual(
          ExtShared.census(StreamMerge.snapshot(s, storeDir, "op", Seq("ts", "event_id"))),
          BucketStore.allBytes(s, storeDir), keys)
      },
      Some(s"""WITH ${ExtShared.mergedCte},
              kept AS (SELECT * FROM merged WHERE k % 89 <> 0)
              ${ExtShared.residualOracle("kept", ExtShared.censusAggs)}"""))
  )

}
