package graft.queries

import graft.Tables
import graft.ext.{Curation, Hashing, PlanCache}
import graft.ext.Changelog.ViewFold
import graft.streaming.{BucketStore, StreamIngest, StreamMatview, StreamMerge}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import ExtShared._

/** Versioned-STORE-backed continuous rows: the gated replays whose
  * state lives in our own [[BucketStore]] layout rather than Spark's
  * checkpoint — CDC merge, ingest dedup, epoch-composed near-dedup
  * ingest, matview maintenance ([[streamMatview]]), and erasure
  * ([[twoPhaseForget]]). Same replay discipline as the streaming
  * family (file-source `Trigger.AvailableNow`, settled result under a
  * batch DuckDB oracle); the difference is the durability story under
  * test: `_SUCCESS`-gated versions, manifest bucket maps, batch
  * watermarks, and maintenance commits.
  */
object ExtStoreQueries {

  /** Fresh on-disk working dirs for one row, keyed `base`, RELEASING
    * the previous run's: Bench replays each query up to 6x in one JVM,
    * and leaving every replay's store versions + offset log behind
    * accumulates unboundedly.
    */
  private val lastDirs = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private def freshDirs(base: String, n: Int): Seq[String] = {
    val dirs = (1 to n).map(i => java.nio.file.Files
      .createTempDirectory(s"graft_${base}_$i").toString)
    Option(lastDirs.put(base, dirs)).foreach(_.foreach(p =>
      org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(p))))
    dirs
  }

  /** The streamed matview rows' one body, over view fold `f`: the
    * store and the view start from the customer snapshot
    * ([[StreamMatview.seedView]]), then the 8-file events changelog
    * ([[matviewSource]]) replays `filesPerTrigger` files per trigger
    * ([[StreamMatview.startView]]). The settled served view must equal
    * the full recompute over the one-shot batch merge
    * ([[matviewOracle]], shared with the batch rows).
    */
  private def streamMatview(name: String, f: ViewFold, filesPerTrigger: Int): Declared =
    Declared(name, (s, d) => {
      val srcDir = matviewSource(s, d)
      val Seq(storeDir, aggDir, ckpt) = freshDirs(name, 3)
      StreamMatview.seedView(customerSeed(s, d), storeDir, aggDir, "c_custkey", f)
      val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString).parquet(srcDir)
      StreamMatview.startView(stream, storeDir, aggDir, ckpt, "c_custkey",
        Seq("ts", "event_id"), f).awaitTermination()
      StreamMatview.viewSnapshotServed(s, aggDir).orderBy("c_mktsegment")
    }, Some(matviewOracle(f)))

  /** How one streamed forget row drives its stores through
    * [[twoPhaseForget]].
    */
  private trait ForgetStores {
    /** Seed the stores from the customer snapshot. */
    def seed(snapshot: DataFrame): Unit
    /** Drive one phase's file stream to completion on the row's checkpoint. */
    def replay(stream: DataFrame): Unit
    /** Erase `keys` (`c_custkey`), the stream stopped. */
    def forget(keys: DataFrame): Unit
    /** The settled answer, per segment `(c_mktsegment, n, …)`. */
    def served: DataFrame
  }

  /** The streamed forget rows' one lifecycle — the operational sequence
    * a real right-to-be-forgotten request runs: ingest the even event
    * ids of the events changelog (`files` ts-ranged files, one per
    * trigger) over the customer seed, STOP, forget every key ≡ 0
    * (mod 89) ([[forgetKeys]]), append the odd half to the SAME source
    * dir and replay the SAME checkpoint (the file source picks up only
    * the appended files — the purge's maintenance version must neither
    * skip nor trip the stream's reset guard), settle. `stores` builds
    * the row's store driver over its `nDirs` fresh working dirs, the
    * store dir first. The answer is the driver's served rows plus
    * the `__residual` probe ([[withResidual]]) over the store's rows of
    * phase-1 provenance, the seed's and the even event ids'.
    */
  private def twoPhaseForget(name: String, files: Int, nDirs: Int, oracle: String)
                            (stores: (SparkSession, Seq[String]) => ForgetStores): Declared =
    Declared(name, (s, d) => {
      val ev = Tables.events(s, d)
      // fresh (non-memoized) source dir: phase 2 APPENDS to it mid-run,
      // so a shared artifact would leak phase-2 files into a rerun's
      // phase 1
      val srcDir +: dirs = freshDirs(name, 1 + nDirs)
      def write(parity: Int, mode: String): Unit =
        eventsChangelog(ev.where(pmod(col("event_id"), lit(2)) === parity))
          .repartitionByRange(files, col("ts"))
          .write.mode(mode).parquet(srcDir)
      write(0, "overwrite")
      val st = stores(s, dirs)
      val seed = customerSeed(s, d)
      st.seed(seed)
      val schema = s.read.parquet(srcDir).schema
      def replay(): Unit = st.replay(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir))
      replay() // phase 1 settles
      val keys = forgetKeys(seed, eventsChangelog(ev))
      st.forget(keys)
      write(1, "append")
      replay() // phase 2: same checkpoint, only the new files
      withResidual(st.served, BucketStore.allBytes(s, dirs.head)
        .where(col("event_id") === -1L || pmod(col("event_id"), lit(2)) === 0), keys)
    }, Some(oracle))

  /** The two streamed view-forget rows' one body, over view fold `f`:
    * [[twoPhaseForget]] driving BOTH stores through [[StreamMatview]]
    * (3 files per phase), served view against [[forgetOracle]].
    */
  private def streamMatviewForget(name: String, f: ViewFold): Declared =
    twoPhaseForget(name, files = 3, nDirs = 3, forgetOracle(viewAggs(f))) { (s, dirs) =>
      val Seq(storeDir, aggDir, ckpt) = dirs
      new ForgetStores {
        def seed(snapshot: DataFrame): Unit =
          StreamMatview.seedView(snapshot, storeDir, aggDir, "c_custkey", f)
        def replay(stream: DataFrame): Unit = StreamMatview.startView(stream, storeDir, aggDir,
          ckpt, "c_custkey", Seq("ts", "event_id"), f).awaitTermination()
        def forget(keys: DataFrame): Unit =
          StreamMatview.purgeView(s, storeDir, aggDir, keys, "c_custkey", f)
        def served: DataFrame = StreamMatview.viewSnapshotServed(s, aggDir)
      }
    }

  // the narrow-state-partition discipline of ExtStreamQueries'
  // replays: the store replays run ~8-16 file-sized microbatches, so 8
  // shuffle partitions hold the per-trigger cost floor down
  val all: Seq[Declared] = declared.map(q =>
    q.copy(df = (s, dir) => ExtStreamQueries.statePartitions(s)(q.df(s, dir))))

  private def declared: Seq[Declared] = Seq(

    // Continuous CDC merge ([[StreamMerge]]) — the streaming twin of
    // ext_pipeline_merge, and the deployment shape of an
    // incrementally-maintained corpus: the SAME events-derived
    // changelog, split into 8 ts-ranged files and replayed as a file
    // stream, is foreachBatch-folded into a persisted versioned
    // snapshot store seeded with the customer table. The settled
    // store, tombstones elided, must equal the one-shot batch merge —
    // the oracle IS ext_pipeline_merge's, verbatim: insert, update,
    // delete, and passthrough rows all pinned by value through the
    // incremental fold. Store versions commit via Spark's own
    // _SUCCESS markers (self-describing — no pointer file to lose);
    // [[graft.ext.Changelog.mergeBatch]]'s tombstone-retaining
    // max_by makes the fold order-independent and idempotent, which
    // StreamRecoverySpec separately proves under a mid-replay kill.
    Declared(
      "ext_stream_merge",
      (s, d) => {
        val k = col("user_id") + 1450
        val ev = Tables.events(s, d)
        // source prep memoized per (session, events plan): the replay
        // (not the changelog export) is what the timings measure
        val srcDir = PlanCache.artifact("streamMerge/src/8/1450", ev) { e =>
          val p = java.nio.file.Files
            .createTempDirectory("graft_smerge_src").toString
          e.select(
              k.as("c_custkey"),
              concat(lit("u"), k.cast("string")).as("c_name"),
              (k % 25).cast("int").as("c_nationkey"),
              col("value").as("c_acctbal"),
              col("event_type").as("c_mktsegment"),
              when(col("event_type") === "error", "D").otherwise("U").as("op"),
              col("ts"), col("event_id"))
            .repartitionByRange(8, col("ts"))
            .write.mode("overwrite").parquet(p)
          p
        }
        val Seq(storeDir, ckpt, stageDir) = freshDirs("smerge", 3)
        // seed = the standing snapshot, with bookkeeping columns below
        // any log entry's seq so every streamed change outranks it
        StreamMerge.seed(Tables.customer(s, d).select(
          col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"),
          lit("U").as("op"), timestamp_millis(lit(0L)).as("ts"),
          lit(-1L).as("event_id")), storeDir, "c_custkey")
        // single-phase replay (the pre-round-14 shape, restored so this
        // row's floor is trend-comparable again): the rebucket-crossing
        // variant moved to its own gated row, ext_store_rebucket
        val schema = s.read.parquet(srcDir).schema
        new java.io.File(srcDir).listFiles.toIndexedSeq
          .map(_.getName).filter(_.endsWith(".parquet")).foreach { f =>
            java.nio.file.Files.copy(java.nio.file.Paths.get(srcDir, f),
              java.nio.file.Paths.get(stageDir, f))
          }
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(stageDir)
        StreamMerge.start(stream, storeDir, ckpt,
          "c_custkey", "op", Seq("ts", "event_id")).awaitTermination()
        StreamMerge.snapshot(s, storeDir, "op", Seq("ts", "event_id"))
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

    // Bucket-count MIGRATION under a live stream
    // ([[BucketStore.rebucket]]) — the store-growth maintenance op,
    // gated alone (round 15; it rode inside ext_stream_merge in round
    // 14, which muddied that row's floor trend): half the changelog
    // folds at the creation-time count (16), the stream stops, the
    // store rebuckets 16 -> 32 (one full rewrite — the honest,
    // once-per-growth cost), and the remaining files resume from the
    // SAME checkpoint at the migrated count. The settled snapshot must
    // hash-equal the one-shot batch merge (the bucket layout is
    // invisible to merge semantics), the batch watermark must hold
    // across the maintenance version (no skipped/dropped trigger), and
    // the `__manifest` row pins the migrated layout itself: 32 buckets,
    // all 32 owned by post-migration versions (stale 16-count owner
    // entries would double-read rows).
    Declared(
      "ext_store_rebucket",
      (s, d) => {
        val k = col("user_id") + 1450
        val ev = Tables.events(s, d)
        val srcDir = PlanCache.artifact("streamMerge/src/8/1450", ev) { e =>
          val p = java.nio.file.Files
            .createTempDirectory("graft_smerge_src").toString
          e.select(
              k.as("c_custkey"),
              concat(lit("u"), k.cast("string")).as("c_name"),
              (k % 25).cast("int").as("c_nationkey"),
              col("value").as("c_acctbal"),
              col("event_type").as("c_mktsegment"),
              when(col("event_type") === "error", "D").otherwise("U").as("op"),
              col("ts"), col("event_id"))
            .repartitionByRange(8, col("ts"))
            .write.mode("overwrite").parquet(p)
          p
        }
        val Seq(storeDir, ckpt, stageDir) = freshDirs("srebucket", 3)
        StreamMerge.seed(Tables.customer(s, d).select(
          col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"),
          lit("U").as("op"), timestamp_millis(lit(0L)).as("ts"),
          lit(-1L).as("event_id")), storeDir, "c_custkey", nBuckets = 16)
        val schema = s.read.parquet(srcDir).schema
        def run(): Unit = {
          val stream = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(stageDir)
          StreamMerge.start(stream, storeDir, ckpt,
            "c_custkey", "op", Seq("ts", "event_id")).awaitTermination()
        }
        val parts = new java.io.File(srcDir).listFiles.toIndexedSeq
          .map(_.getName).filter(_.endsWith(".parquet")).sorted
        def stage(names: Seq[String]): Unit = names.foreach { f =>
          java.nio.file.Files.copy(java.nio.file.Paths.get(srcDir, f),
            java.nio.file.Paths.get(stageDir, f))
        }
        val (first, rest) = parts.splitAt(parts.size / 2)
        stage(first)
        run()
        val preWm = BucketStore.latestBatch(s, storeDir)
        BucketStore.rebucket(s, storeDir, "c_custkey", newBuckets = 32)
        val postWm = BucketStore.latestBatch(s, storeDir)
        stage(rest)
        run()
        // layout census off the migrated manifest: bucket count, owner
        // coverage (every bucket owned, every owner id in range — a
        // stale pre-migration entry would read as out-of-range), and
        // the watermark held across the maintenance version
        val m = BucketStore.snapshot(s, storeDir).committed
        val ownersSane = m.owners.keySet.forall(b => b >= 0 && b < m.nBuckets)
        val wmHeld = preWm == postWm
        val manifestRow = s.range(1).select(
          lit(-1L).as("c_custkey"), lit("__manifest").as("c_name"),
          lit(m.nBuckets).cast("int").as("c_nationkey"),
          lit(if (ownersSane && wmHeld) m.owners.size.toLong else -1L)
            .as("bal_cents"),
          lit("__m").as("c_mktsegment"))
        StreamMerge.snapshot(s, storeDir, "op", Seq("ts", "event_id"))
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            round(col("c_acctbal") * 100).cast("long").as("bal_cents"),
            col("c_mktsegment"))
          .unionByName(manifestRow)
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
              FROM merged
              UNION ALL
              SELECT CAST(-1 AS BIGINT), '__manifest', CAST(32 AS INTEGER),
                     CAST(32 AS BIGINT), '__m'
              ORDER BY c_custkey""")),

    // Store-backed continuous ingest dedup ([[StreamIngest]]) — the
    // UNBOUNDED-horizon twin of ext_stream_dedup: same 20% slice
    // streamed (8 doc_id-ranged files), same standing-corpus
    // fingerprints, same oracle — but the dedup state is the durable
    // versioned fingerprint STORE rolled forward per batch, not
    // Spark's watermark-bounded state store. A duplicate arriving
    // any number of batches later is still dropped (no watermark
    // horizon), restarts rebuild nothing (the store IS the state),
    // and each batch costs one anti-join against the 8-byte store
    // column — the batch incremental path's exact shape, continuous.
    // The settled corpus (accepted docs of committed batches) must
    // produce the same kept-fingerprint SET as the one-shot batch
    // dedup, which is what the oracle replays.
    Declared(
      "ext_stream_ingest",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcDir = PlanCache.artifact("streamIngest/src/8/mod5", docs) { dd =>
          val p = java.nio.file.Files
            .createTempDirectory("graft_singest_src").toString
          dd.where(col("doc_id") % 5 === 0)
            .repartitionByRange(8, col("doc_id"))
            .write.mode("overwrite").parquet(p)
          p
        }
        val Seq(storeDir, ckpt) = freshDirs("singest", 2)
        StreamIngest.seed(docs.where(col("doc_id") % 5 =!= 0), "text", storeDir)
        val schema = s.read.parquet(srcDir).schema
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        val q = StreamIngest.start(stream, storeDir, ckpt, "doc_id", "text")
        q.awaitTermination()
        docs.where(col("doc_id") % 5 === 0)
          .agg(count(lit(1)).as("n_batch"))
          .crossJoin(StreamIngest.corpus(s, storeDir).agg(
            count(lit(1)).as("n_new"),
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

    // Epoch-composed near-dedup ingest ([[Curation.epochIngest]]):
    // the composition [[StreamIngest]]'s scaladoc promises but
    // deliberately does not stream (greedy near-dedup is
    // arrival-order-dependent — the gateable contract is PER-EPOCH).
    // Three ordered epochs fold into the standing quarter of the
    // corpus; each epoch runs exact-fp dedup against the rolling
    // fingerprint store, then LSH near-dedup of the exact survivors
    // against the rolling BAND store (bucket-capped candidates,
    // n-gram-Jaccard ≥ 4/5 verification), and the accepted docs roll
    // both stores forward. The oracle replays the same greedy fold
    // epoch by epoch — so a doc accepted in epoch 1 correctly KILLS
    // its near-dup arriving in epoch 2, which is exactly the
    // order-dependence contract under pin. Per-epoch accepted
    // id-checksums gate the exact accept SETS, not just counts; the
    // epoch=-1 row pins the settled corpus.
    Declared(
      "ext_pipeline_epoch_ingest",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val standing = docs.where(col("doc_id") % 4 === 0)
        val eps = Seq(1, 2, 3).map(e => docs.where(col("doc_id") % 4 === e))
        val res = Curation.epochIngest(standing, eps, docs, "doc_id", "text",
          cacheTag = s"epochIngest/mod4/$MaxBucket/$DfCap",
          maxBucket = MaxBucket, dfCap = DfCap)
        val epochRows = res.zipWithIndex.map { case (r, i) =>
          r.nBatch.crossJoin(r.nExact).crossJoin(
            r.accepted.agg(count(lit(1)).as("n_accepted"),
              coalesce(sum(col("doc_id")), lit(0L)).as("id_checksum")))
            .select(lit(i + 1L).as("epoch"), col("n_batch"), col("n_exact"),
              col("n_accepted"), col("id_checksum"))
        }
        val finalCorpus = res.map(_.accepted.select("doc_id"))
          .foldLeft(standing.select("doc_id"))(_ unionByName _)
        epochRows.reduce(_ unionByName _)
          .unionByName(finalCorpus.agg(count(lit(1)).as("n_accepted"),
              coalesce(sum(col("doc_id")), lit(0L)).as("id_checksum"))
            .select(lit(-1L).as("epoch"), lit(-1L).as("n_batch"),
              lit(-1L).as("n_exact"), col("n_accepted"), col("id_checksum")))
          .orderBy("epoch")
      },
      Some(s"""WITH $minhashSigCte,
               $cappedShingleCte,
               fpt AS (SELECT doc_id,
                              CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp
                       FROM documents),
               c0 AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0),

               b1 AS (SELECT doc_id, fp FROM fpt WHERE doc_id % 4 = 1),
               cf1 AS (SELECT DISTINCT f.fp FROM fpt f JOIN c0 USING (doc_id)),
               s1 AS (SELECT doc_id FROM (
                        SELECT b.doc_id,
                               ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
                        FROM b1 b
                        WHERE NOT EXISTS (SELECT 1 FROM cf1
                                          WHERE cf1.fp IS NOT DISTINCT FROM b.fp))
                      WHERE rn = 1),
               sb1 AS (SELECT g.* FROM sigs g JOIN c0 USING (doc_id)),
               ok1 AS (SELECT band, sig FROM sb1
                       GROUP BY band, sig HAVING COUNT(*) <= $MaxBucket),
               cd1 AS (SELECT DISTINCT n.doc_id AS doc_a, st.doc_id AS doc_b
                       FROM (SELECT g.* FROM sigs g JOIN s1 USING (doc_id)) n
                       JOIN (SELECT sb1.* FROM sb1 JOIN ok1 USING (band, sig)) st
                         ON n.band = st.band AND n.sig = st.sig
                        AND n.doc_id <> st.doc_id),
               i1 AS (SELECT doc_a, doc_b, COUNT(*) AS inter FROM cd1
                      JOIN fsh fa ON fa.doc_id = doc_a
                      JOIN fsh fb ON fb.doc_id = doc_b AND fa.sh = fb.sh
                      GROUP BY doc_a, doc_b),
               dr1 AS (SELECT DISTINCT i.doc_a FROM i1 i
                       JOIN card ca ON i.doc_a = ca.doc_id
                       JOIN card cb ON i.doc_b = cb.doc_id
                       WHERE inter * 5 >= (ca.n + cb.n - inter) * 4),
               a1 AS (SELECT s1.doc_id FROM s1 ANTI JOIN dr1 ON s1.doc_id = dr1.doc_a),
               c1 AS (SELECT doc_id FROM c0 UNION ALL SELECT doc_id FROM a1),

               b2 AS (SELECT doc_id, fp FROM fpt WHERE doc_id % 4 = 2),
               cf2 AS (SELECT DISTINCT f.fp FROM fpt f JOIN c1 USING (doc_id)),
               s2 AS (SELECT doc_id FROM (
                        SELECT b.doc_id,
                               ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
                        FROM b2 b
                        WHERE NOT EXISTS (SELECT 1 FROM cf2
                                          WHERE cf2.fp IS NOT DISTINCT FROM b.fp))
                      WHERE rn = 1),
               sb2 AS (SELECT g.* FROM sigs g JOIN c1 USING (doc_id)),
               ok2 AS (SELECT band, sig FROM sb2
                       GROUP BY band, sig HAVING COUNT(*) <= $MaxBucket),
               cd2 AS (SELECT DISTINCT n.doc_id AS doc_a, st.doc_id AS doc_b
                       FROM (SELECT g.* FROM sigs g JOIN s2 USING (doc_id)) n
                       JOIN (SELECT sb2.* FROM sb2 JOIN ok2 USING (band, sig)) st
                         ON n.band = st.band AND n.sig = st.sig
                        AND n.doc_id <> st.doc_id),
               i2 AS (SELECT doc_a, doc_b, COUNT(*) AS inter FROM cd2
                      JOIN fsh fa ON fa.doc_id = doc_a
                      JOIN fsh fb ON fb.doc_id = doc_b AND fa.sh = fb.sh
                      GROUP BY doc_a, doc_b),
               dr2 AS (SELECT DISTINCT i.doc_a FROM i2 i
                       JOIN card ca ON i.doc_a = ca.doc_id
                       JOIN card cb ON i.doc_b = cb.doc_id
                       WHERE inter * 5 >= (ca.n + cb.n - inter) * 4),
               a2 AS (SELECT s2.doc_id FROM s2 ANTI JOIN dr2 ON s2.doc_id = dr2.doc_a),
               c2 AS (SELECT doc_id FROM c1 UNION ALL SELECT doc_id FROM a2),

               b3 AS (SELECT doc_id, fp FROM fpt WHERE doc_id % 4 = 3),
               cf3 AS (SELECT DISTINCT f.fp FROM fpt f JOIN c2 USING (doc_id)),
               s3 AS (SELECT doc_id FROM (
                        SELECT b.doc_id,
                               ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
                        FROM b3 b
                        WHERE NOT EXISTS (SELECT 1 FROM cf3
                                          WHERE cf3.fp IS NOT DISTINCT FROM b.fp))
                      WHERE rn = 1),
               sb3 AS (SELECT g.* FROM sigs g JOIN c2 USING (doc_id)),
               ok3 AS (SELECT band, sig FROM sb3
                       GROUP BY band, sig HAVING COUNT(*) <= $MaxBucket),
               cd3 AS (SELECT DISTINCT n.doc_id AS doc_a, st.doc_id AS doc_b
                       FROM (SELECT g.* FROM sigs g JOIN s3 USING (doc_id)) n
                       JOIN (SELECT sb3.* FROM sb3 JOIN ok3 USING (band, sig)) st
                         ON n.band = st.band AND n.sig = st.sig
                        AND n.doc_id <> st.doc_id),
               i3 AS (SELECT doc_a, doc_b, COUNT(*) AS inter FROM cd3
                      JOIN fsh fa ON fa.doc_id = doc_a
                      JOIN fsh fb ON fb.doc_id = doc_b AND fa.sh = fb.sh
                      GROUP BY doc_a, doc_b),
               dr3 AS (SELECT DISTINCT i.doc_a FROM i3 i
                       JOIN card ca ON i.doc_a = ca.doc_id
                       JOIN card cb ON i.doc_b = cb.doc_id
                       WHERE inter * 5 >= (ca.n + cb.n - inter) * 4),
               a3 AS (SELECT s3.doc_id FROM s3 ANTI JOIN dr3 ON s3.doc_id = dr3.doc_a),
               c3 AS (SELECT doc_id FROM c2 UNION ALL SELECT doc_id FROM a3)

               SELECT CAST(1 AS BIGINT) AS epoch,
                      (SELECT COUNT(*) FROM b1) AS n_batch,
                      (SELECT COUNT(*) FROM s1) AS n_exact,
                      (SELECT COUNT(*) FROM a1) AS n_accepted,
                      CAST((SELECT COALESCE(SUM(doc_id), 0) FROM a1) AS BIGINT) AS id_checksum
               UNION ALL
               SELECT CAST(2 AS BIGINT),
                      (SELECT COUNT(*) FROM b2), (SELECT COUNT(*) FROM s2),
                      (SELECT COUNT(*) FROM a2),
                      CAST((SELECT COALESCE(SUM(doc_id), 0) FROM a2) AS BIGINT)
               UNION ALL
               SELECT CAST(3 AS BIGINT),
                      (SELECT COUNT(*) FROM b3), (SELECT COUNT(*) FROM s3),
                      (SELECT COUNT(*) FROM a3),
                      CAST((SELECT COALESCE(SUM(doc_id), 0) FROM a3) AS BIGINT)
               UNION ALL
               SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
                      (SELECT COUNT(*) FROM c3),
                      CAST((SELECT COALESCE(SUM(doc_id), 0) FROM c3) AS BIGINT)
               ORDER BY epoch""")),

    // Continuous incremental materialized-view maintenance
    // ([[streamMatview]] over [[graft.ext.Changelog.CountSum]]) — the
    // streaming twin of ext_pipeline_matview, and the completion of the
    // CDC story: the SAME events changelog replayed over 8 triggers
    // maintains BOTH the bucketed snapshot store and the per-segment
    // (count, balance-cents) view, aggregate-first exactly-once. The
    // settled view must equal the full recompute over the one-shot
    // batch merge — the oracle IS ext_pipeline_matview's, verbatim,
    // which makes the three rows (batch fold, streamed fold, recompute)
    // mutual audits. Per trigger the view refresh is a batch-keys
    // broadcast against touched store buckets plus batch-sized
    // aggregations; the corpus is never rescanned after the seed.
    streamMatview("ext_stream_matview", SegCountSum, filesPerTrigger = 1),

    // Continuous MIN/MAX view maintenance ([[streamMatview]] over
    // [[graft.ext.Changelog.MinMax]]) — the streaming twin of
    // ext_pipeline_matview_minmax, completing the non-self-
    // maintainable story: the same changelog replay maintains the
    // per-segment (count, sum, MIN, MAX) view aggregate-first
    // exactly-once. Per trigger the pre-images come from the touched
    // buckets; a trigger that retracts a dim's boundary (the
    // error-typed deletes do) recomputes EXACTLY that dim from the full
    // store read, and one that doesn't commits straight from the fold's
    // checkpoint, whose job also counts the recompute flags (an
    // `Observation`), so the recompute branch is never planned. 2 files
    // per trigger (4 triggers over the same 8-file log the other two
    // rows replay 1-by-1): this refresh carries the widest per-trigger
    // plan in the suite (pre-image probe + fold checkpoint + boundary
    // recompute), so the replay halves the trigger count — the
    // maintained semantics, the retraction recomputes, and the settled
    // view are identical. Settled view == the MIN/MAX-widened recompute
    // oracle shared with the batch twin — the three rows stay mutual
    // audits.
    streamMatview("ext_stream_matview_minmax", SegMinMax, filesPerTrigger = 2),

    // SKETCH-backed continuous MIN/MAX view maintenance
    // ([[streamMatview]] over [[graft.ext.Changelog.Sketch]]) — the
    // SCALE PATH for the row above: the view store carries each dim's
    // k=8 smallest/largest live values
    // ([[graft.ext.Changelog.SketchCols]] — internal state, dropped
    // from the served snapshot), so a trigger whose boundary
    // retractions stay inside the sketch commits WITHOUT the
    // full-store recompute read the min/max fold pays on every
    // retracting trigger (the error-typed deletes retract per trigger
    // here); the full store is referenced only as the lazy
    // drain-rebuild source (PlanShapeSpec pins the no-drain plan
    // carries no store scan, via a poisoned source). 1 file per
    // trigger — the per-trigger plan is NARROWER than the min/max
    // row's (no recompute branch). Settled served view == the same
    // MIN/MAX recompute oracle: batch sketch fold, plain min/max folds,
    // and this row stay mutual audits.
    streamMatview("ext_stream_matview_sketch", SegSketch, filesPerTrigger = 1),

    // Erasure INSIDE the streaming lifecycle ([[BucketStore.purgeKeys]]
    // between the two phases of [[twoPhaseForget]]) — semantics under
    // pin: a purge is not a delete — a forgotten key legitimately
    // REAPPEARS if post-purge changes arrive for it, while its
    // pre-purge rows are gone from disk. The settled store's census
    // must equal the oracle's two-phase fold: latest-per-key over
    // seed+evens, drop forgotten keys, fold odds on top.
    twoPhaseForget("ext_stream_forget", files = 4, nDirs = 2,
        forgetOracle(censusAggs)) { (s, dirs) =>
      val Seq(storeDir, ckpt) = dirs
      new ForgetStores {
        def seed(snapshot: DataFrame): Unit = StreamMerge.seed(snapshot, storeDir, "c_custkey")
        def replay(stream: DataFrame): Unit = StreamMerge.start(stream, storeDir, ckpt,
          "c_custkey", "op", Seq("ts", "event_id")).awaitTermination()
        def forget(keys: DataFrame): Unit = BucketStore.purgeKeys(s, storeDir, keys, "c_custkey")
        def served: DataFrame = census(StreamMerge.snapshot(s, storeDir, "op", Seq("ts", "event_id")))
      }
    },

    // Erasure from a store WITH a maintained view
    // ([[streamMatviewForget]] over [[graft.ext.Changelog.CountSum]]) —
    // the view-consistent twin of ext_stream_forget, on the DELTA purge
    // path: the view refresh subtracts the purged keys' live
    // contributions read from the pre-purge snapshot's TOUCHED BUCKETS
    // ONLY (BucketStoreSpec pins the read set), committed view-first
    // with a crash-recoverable intent note. The settled VIEW must equal
    // the recompute over the two-phase fold (forgotten keys'
    // contributions gone, post-purge changes for them legitimately
    // re-counted).
    streamMatviewForget("ext_stream_matview_forget", SegCountSum),

    // Erasure from a store with a maintained MIN/MAX view
    // ([[streamMatviewForget]] over [[graft.ext.Changelog.Sketch]]) —
    // erasure from a min/max view without the full view rebuild: the
    // same view-first delta and intent note as the count/sum row, where
    // the purged keys' n/sum contributions subtract and their live
    // values POP out of each dim's sketch, all read from the pre-purge
    // snapshot's touched buckets; only a dim whose sketch side drains
    // reads the full store (anti-joined with the purged keys — correct
    // before the snapshot purge lands). The settled SERVED view must
    // equal the MIN/MAX recompute over the two-phase fold (min/max
    // boundaries re-answered).
    streamMatviewForget("ext_stream_matview_minmax_forget", SegSketch)
  )
}
