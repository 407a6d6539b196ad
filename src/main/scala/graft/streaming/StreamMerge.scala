package graft.streaming

import graft.ext.Changelog
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous CDC merge: apply a CHANGE STREAM to a persisted
  * snapshot store — the deployment shape of [[Changelog.applyLog]]
  * (which merges one batch log into one snapshot) for an
  * incrementally-maintained corpus. The reference's own execution
  * model is continuous re-execution to convergence
  * (/root/reference/src/mr/coordinator.go:114-138 — re-run until the
  * output settles); this is that model's mutable-state analogue on
  * Structured Streaming: every microbatch folds into the store, and
  * the settled store equals the one-shot batch merge of the whole
  * log (gated: `ext_stream_merge` hash-matches `ext_pipeline_merge`'s
  * oracle).
  *
  * Store layout: the key-hash-BUCKETED versioned store
  * ([[BucketStore]] — `v<id>/data/__b=<k>/` bucket dirs + a
  * bucket→owner manifest per version, committed by a `_SUCCESS`
  * marker written last). The 100 TB consequence, and the reason the
  * layout is bucketed at all: a microbatch REWRITES ONLY THE BUCKETS
  * ITS KEYS TOUCH and references every other bucket from the previous
  * version — per-trigger I/O is O(batch keys × store/B), where the
  * flat predecessor layout rewrote the entire store every trigger
  * (O(store) write amplification; a minutes-level trigger against a
  * 100 TB store never keeps up). The COMPUTE plan tightens the same
  * way: only the touched buckets are even read — the anti/semi joins
  * of [[Changelog.mergeBatch]] run against store/B-sized relations,
  * and the untouched store is never opened.
  *
  * Exactly-once under crash/restart, case by case (the window the
  * gated recovery spec kills into):
  *  - crash mid-version write (data, manifest, or between) → no
  *    `_SUCCESS`, version invisible; the replayed batch deletes the
  *    partial dir and recomputes from `v<latest>`;
  *  - crash after the version committed but before the streaming
  *    offset log did → the replayed batch sees the manifest's BATCH
  *    WATERMARK at `id` and SKIPS (already applied — the watermark,
  *    not the version id, is the exactly-once sequence: maintenance
  *    commits advance versions without advancing it);
  *  - and independently of both, [[Changelog.mergeBatch]] itself is
  *    idempotent (re-offered entries lose the max_by at equal seq),
  *    so even a skip-logic bug degrades to a no-op re-merge, not a
  *    double-apply.
  *
  * Version-level snapshot isolation falls out of the layout exactly
  * as before: a reader binds only to COMMITTED manifests, and a
  * version that still owns buckets for any retained manifest is
  * never vacuumed ([[BucketStore.vacuum]]) — size `retain` above the
  * longest reader. ONE writer per storeDir remains the (unchecked)
  * caller obligation; the batch-id-reset guard in [[applyBatch]]
  * catches the common slip of re-pointing a FRESH checkpoint at an
  * old store.
  */
object StreamMerge {

  /** Serving snapshot: current store with tombstones elided and the
    * changelog bookkeeping columns dropped — [[Changelog.applyLog]]'s
    * output shape. One map-side filter over the current buckets.
    */
  def snapshot(spark: SparkSession, storeDir: String, opCol: String,
               seqCols: Seq[String], deleteOp: String = "D"): DataFrame = {
    val store = BucketStore.read(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no committed store version under $storeDir"))
    store.where(col(opCol) =!= deleteOp).drop((opCol +: seqCols): _*)
  }

  /** Seed the store with an initial snapshot BEFORE streaming begins —
    * the "existing 100 TB corpus, now switch to incremental" entry
    * point. `snapshot` must already carry `opCol` (any non-delete
    * value) and `seqCols` BELOW any future log entry's seq, so every
    * streamed change outranks its seed row. Written as version -1
    * (batch ids start at 0), bucketed on `keyCol` — the bucket count
    * is FIXED here for the store's lifetime. Refuses a store that
    * already has committed ingest versions: version -1 would sort
    * below them, never be read, and be vacuumed on the next batch — a
    * silent no-op where the caller intended a reset (delete the
    * storeDir first for that).
    */
  def seed(snapshot: DataFrame, storeDir: String, keyCol: String,
           nBuckets: Int = BucketStore.DefaultBuckets): Unit = {
    // a seed-ONLY store may be re-seeded: the bootstrap "seed; start"
    // script must be rerunnable after a crash between the seed commit
    // and the first batch commit (nothing has consumed the store
    // yet). Post-ingest versions make the guard fire — there the
    // seed WOULD be invisible.
    val snap = BucketStore.snapshot(snapshot.sparkSession, storeDir)
    val existing = snap.versions.filter(_ != -1L)
    require(existing.isEmpty,
      s"seed: store $storeDir already has committed ingest versions " +
        s"(${existing.mkString(", ")}) — the seed would be invisible; " +
        "delete the store first to reset it")
    BucketStore.commit(snapshot, snap, -1L, col(keyCol), nBuckets)
  }

  /** Shared exactly-once bookkeeping for versioned-store foreachBatch
    * sinks ([[applyBatch]], [[StreamIngest.applyBatch]]), on the
    * store state `snap` the trigger resolved: returns
    * true if the batch must be SKIPPED (exact replay of the last
    * committed version — crash between the version commit and the
    * offset-log commit), throws on a batch-id reset (a fresh
    * checkpoint pointed at an old store: ids restart at 0, and
    * silently skipping until the stream caught up would drop real
    * changes with healthy-looking progress).
    */
  private[streaming] def replaySkip(snap: BucketStore.Snapshot, id: Long): Boolean = {
    // keyed on the manifest's ingest BATCH watermark, not the version
    // id: a maintenance commit (BucketStore.purgeKeys) advances the
    // version without advancing the watermark, and comparing against
    // the version id there would read the next real batch as "already
    // applied" and silently drop it
    val latest = snap.batch
    if (latest.exists(_ > id))
      throw new IllegalStateException(
        s"store ${snap.dir} has absorbed batch ${latest.get} but batch $id " +
          "arrived — a new checkpoint was pointed at an existing store " +
          "(batch ids restart at 0). Keep the storeDir<->checkpoint " +
          "mapping 1:1, or reset the store alongside the checkpoint.")
    latest.contains(id)
  }

  /** Apply one changelog microbatch to the store — the foreachBatch
    * body, public for reuse and for direct testing. Skips batches at
    * or below the committed version (restart replay); reads and
    * rewrites ONLY the buckets the batch's keys touch; vacuums
    * versions no retained manifest references. `maxBroadcastKeys`
    * caps the batch's distinct keys (the merge broadcasts them against
    * the store; 0 = no cap).
    */
  def applyBatch(batch: DataFrame, id: Long, storeDir: String,
                 keyCol: String, opCol: String, seqCols: Seq[String],
                 retain: Int = 2,
                 nBuckets: Int = BucketStore.DefaultBuckets,
                 maxBroadcastKeys: Long = 10000000L): Unit = {
    require(retain >= 1,
      s"retain=$retain: the vacuum must keep at least the version just written")
    val spark = batch.sparkSession
    val snap = BucketStore.snapshot(spark, storeDir)
    if (replaySkip(snap, id)) return // already applied before the crash
    val staged = BucketStore.maintain(snap, batch, col(keyCol), nBuckets,
        maxBroadcastKeys, "batch", Some(s"merge b$id: probe"),
        empty = Some(batch.limit(0))) { (cur, _, nb) =>
      // cur, the touched buckets' pre-image, is persisted: mergeBatch
      // references it under TWO exchanges (the anti-joined untouched
      // rows feed the write directly, the semi-joined touched rows feed
      // the max_by) — one touched-bucket scan, not two
      spark.sparkContext.setJobDescription(s"merge b$id: store commit")
      BucketStore.publishVersion(spark, storeDir, stageMerge(snap,
        Changelog.mergeBatch(cur, batch, keyCol, opCol, seqCols,
          maxBroadcastKeys = 0L), // guarded by the probe job
        id, keyCol, nb))
    }
    BucketStore.vacuum(spark, snap, retain, staged)
  }

  /** The one merge stage: stage `merged`, batch `id` folded into the
    * touched buckets of store state `snap` (at bucket count `nb`) —
    * [[Changelog.mergeBatch]] here, a view trigger's shared
    * [[Changelog.Winners]] in [[StreamMatview]] — as the store's next
    * version ([[BucketStore.Snapshot.next]]), and return that version's
    * id and manifest for [[BucketStore.publishVersion]] and the vacuum.
    * The batch id lands in the manifest as the exactly-once watermark.
    */
  private[streaming] def stageMerge(snap: BucketStore.Snapshot, merged: DataFrame,
                                    id: Long, keyCol: String,
                                    nb: Int): (Long, BucketStore.Manifest) =
    BucketStore.stageVersion(merged, snap, snap.next(id), col(keyCol), nb, batch = Some(id))

  /** Start the continuous merge of a streaming `changelog` into
    * `storeDir`. `Trigger.AvailableNow()` (the default) replays the
    * available log and settles — the gated-replay shape; a production
    * tail passes a processing-time trigger.
    */
  def start(changelog: DataFrame, storeDir: String, checkpointDir: String,
            keyCol: String, opCol: String, seqCols: Seq[String],
            retain: Int = 2,
            nBuckets: Int = BucketStore.DefaultBuckets,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startStream(changelog, checkpointDir, retain, trigger)(
      applyBatch(_, _, storeDir, keyCol, opCol, seqCols, retain, nBuckets))

  /** The one stream starter every store stream shares (this merge,
    * [[StreamIngest.start]], [[StreamMatview.startView]]): check
    * `retain` up front, then run `apply` on each microbatch of
    * `source` with its batch id, checkpointed at `checkpointDir` and
    * fired by `trigger`.
    */
  private[streaming] def startStream(source: DataFrame, checkpointDir: String,
                                     retain: Int, trigger: Trigger)
                                    (apply: (DataFrame, Long) => Unit): StreamingQuery = {
    require(retain >= 1,
      s"retain=$retain: the vacuum must keep at least the version just written")
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((b: Dataset[Row], id: Long) => apply(b, id))
      .start()
  }
}
