package graft.streaming

import graft.ext.Changelog
import graft.ext.Changelog.{CountSum, MinMax, Sketch, ViewFold}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous incremental materialized-view maintenance: fold a
  * change stream into BOTH the keyed snapshot store ([[StreamMerge]])
  * and a dimensional aggregate of it — the view stays consistent with
  * the snapshot without ever rescanning it. A caller picks the view's
  * flavour by the [[Changelog.ViewFold]] it hands to the one seed
  * ([[seedView]]), trigger ([[applyView]]), stream start
  * ([[startView]]) and purge ([[purgeView]]): count/sum
  * ([[Changelog.CountSum]]), boundary-exact min/max
  * ([[Changelog.MinMax]]) or sketch-backed min/max
  * ([[Changelog.Sketch]]). Per trigger the view refresh costs one
  * batch-keys broadcast against the store's touched buckets, shared
  * with the snapshot merge, plus batch-sized aggregations; the
  * alternative a view over a 100 TB corpus otherwise forces — a full
  * recompute per refresh interval — is exactly what this operator
  * removes.
  *
  * Layout: the aggregate is its own (single-bucket — it is
  * dim-cardinality-sized) [[BucketStore]] next to the snapshot store,
  * with the same `_SUCCESS`-gated version + batch-watermark
  * discipline.
  *
  * Exactly-once is PER STORE, ordered aggregate-first:
  *
  *  - each store skips batches at or below its own manifest's batch
  *    watermark ([[StreamMerge.replaySkip]]), so a replayed batch
  *    re-applies only to the store(s) that missed it;
  *  - the aggregate commits BEFORE the snapshot. The delta must be
  *    computed against the PRE-batch snapshot; committing the
  *    snapshot first would open a crash window (snapshot at `id`,
  *    aggregate behind) where the replay's delta reads a store that
  *    already absorbed the batch — aggregate-first makes the inverse
  *    window (aggregate at `id`, snapshot behind) the only reachable
  *    one, and there the replay skips the aggregate and applies the
  *    snapshot, converging;
  *  - and independently, a fully-absorbed batch's delta is exactly
  *    ZERO (the fold's max_by winner), so even a double-applied delta
  *    of a replayed batch is a no-op, not a double-count.
  *
  * The order is kept per trigger as stage → view commit → publish,
  * which lets the two halves' work overlap: after the probe, the
  * touched buckets' pre-image is read once (persisted, tagged with the
  * batch's keys) and the batch's per-key winners are built once
  * (persisted, each with the pre-image rows it replaces) for both
  * halves; a second driver thread STAGES the snapshot merge — the
  * untouched rows plus the winners (data + manifest, no `_SUCCESS` —
  * [[BucketStore.stageVersion]]) — while the calling thread folds the
  * winners into the view and commits it; only after the view's
  * `_SUCCESS` does the trigger join the thread and publish the
  * snapshot's marker ([[BucketStore.publishVersion]]). A crash
  * before the view commit leaves the staged snapshot dir invisible
  * (the replay deletes and re-stages it); a crash between the two
  * markers is the aggregate-ahead window above.
  *
  * Erasure follows ONE view-first protocol for all three flavours
  * ([[purgeView]]): the view subtracts the purged keys first, with an
  * intent note, then the snapshot store purges — both halves in ONE
  * maintenance scope, so the key list is probed once and the touched
  * buckets are read once for both.
  */
object StreamMatview {

  /** The current maintained aggregate: `(dims..., nCol, sumCol)`, plus
    * the flavour's own columns.
    */
  def viewSnapshot(spark: SparkSession, aggDir: String): DataFrame =
    BucketStore.read(spark, aggDir).getOrElse(
      throw new IllegalStateException(s"no committed view version under $aggDir"))

  /** The maintained view's serving projection, any flavour: a
    * [[Changelog.Sketch]] view with its internal state
    * ([[Changelog.SketchCols]]) dropped — `(dims..., n, sum, min,
    * max)`, directly comparable to the plain [[viewSnapshot]] and the
    * recompute oracle — and a count/sum or min/max view unchanged (it
    * has no such columns).
    */
  def viewSnapshotServed(spark: SparkSession, aggDir: String): DataFrame =
    viewSnapshot(spark, aggDir).drop(Changelog.SketchCols: _*)

  private def tag(f: ViewFold): String = f match {
    case _: CountSum => "matview"
    case _: MinMax => "matview-minmax"
    case _: Sketch => "matview-sketch"
  }

  /** Seed BOTH stores from an initial snapshot — the snapshot store
    * via [[StreamMerge.seed]] (same contract: `f.opCol` present,
    * `seqCols` below any future entry), the aggregate store with the
    * fold's full recompute over the seed (the one full pass, paid once
    * at bootstrap).
    */
  def seedView(snapshot: DataFrame, storeDir: String, aggDir: String,
               keyCol: String, f: ViewFold,
               nBuckets: Int = BucketStore.DefaultBuckets): Unit = {
    StreamMerge.seed(snapshot, storeDir, keyCol, nBuckets)
    // the aggregate is single-bucket: it is dim-cardinality-sized
    StreamMerge.seed(f.snapshot(snapshot), aggDir, f.dims.head, nBuckets = 1)
  }

  /** Apply one changelog microbatch to the view and the snapshot store
    * — the foreachBatch body of [[startView]], public for reuse and
    * direct testing: the two-store, aggregate-first, exactly-once
    * protocol of the object doc, folding with `f`.
    *
    * The flavour's cost surfaces in the fold. Count/sum is pure delta
    * arithmetic. Min/max reads the batch's pre-images from the TOUCHED
    * buckets, but a batch that retracts a dim's boundary recomputes
    * that dim from the FULL store read (an affected dim's other rows
    * live in every bucket); a batch that retracts nothing commits a
    * plan with no store scan at all. A sketch keeps each dim's k
    * smallest/largest live values IN the view store (invisible state,
    * the served columns are identical), so boundary retractions are
    * O(1) array pops and the full-store scan happens only when a dim's
    * sketch side DRAINS — at least k boundary deletions per side
    * between rebuilds.
    *
    * Each store is resolved once ([[BucketStore.snapshot]]), the view
    * first: its watermark decides the replay skip, and the two
    * snapshots feed the intent and order guards, the reads, both
    * stages and both vacuums. The trigger runs in
    * [[BucketStore.maintain]]'s scope: one probe
    * job (touched buckets, broadcast-guard pre-count and the
    * exchange-sizing key count), then ONE persisted read of the
    * touched buckets' pre-batch content, tagged with the batch's keys
    * ([[Changelog.tagTouched]]), and ONE persisted winner set
    * ([[Changelog.batchWinners]]), both materialized by this trigger's
    * first two `<tag> b<id>: fold` jobs (the key broadcast, the
    * winners). A second driver thread then stages the snapshot merge
    * from them ([[StreamMerge.stageMerge]] — data + manifest, no
    * marker) while this thread folds the winners into the view
    * ([[Changelog.foldWinners]]) and commits it; then the trigger
    * joins the thread, publishes the snapshot's marker, and vacuums.
    * The thread inherits this thread's local properties (the stream's
    * job group, so a query stop cancels its jobs too, and any caller
    * tags), runs inside this trigger's scope (AQE off, the trigger's
    * exchange width), and labels its one write job `<tag> b<id>:
    * snapshot merge`. The eager checkpoint of the min/max and sketch
    * folds (which also counts the recompute flags) runs as a third
    * `fold` job; the lazy count/sum fold's runs inside the `view
    * commit` write.
    *
    * A view already at `id` (a crash between the two commits) replays
    * the snapshot half alone through [[StreamMerge.applyBatch]].
    */
  def applyView(batch: DataFrame, id: Long, storeDir: String,
                aggDir: String, keyCol: String, seqCols: Seq[String],
                f: ViewFold, retain: Int = 2,
                nBuckets: Int = BucketStore.DefaultBuckets,
                maxBroadcastKeys: Long = 10000000L): Unit = {
    require(retain >= 1,
      s"retain=$retain: the vacuum must keep at least the version just written")
    val spark = batch.sparkSession
    val view = BucketStore.snapshot(spark, aggDir)
    if (StreamMerge.replaySkip(view, id)) {
      StreamMerge.applyBatch(batch, id, storeDir, keyCol, f.opCol, seqCols,
        retain, nBuckets, maxBroadcastKeys)
      return
    }
    val sc = spark.sparkContext
    val store = BucketStore.snapshot(spark, storeDir)
    // an ordinary commit over a pending purge intent would erase the
    // record: re-run the interrupted purge to completion first
    view.manifest.flatMap(pendingPurge(_, store.version)).foreach { case (snapv, fp) =>
      throw new IllegalArgumentException(
        s"view $aggDir carries an incomplete purge intent (fp $fp: view " +
          s"delta committed, snapshot purge to version $snapv never " +
          "landed) — an ordinary commit would erase the record and a " +
          "later delete of those keys would double-subtract; re-run the " +
          "purge to completion first")
    }
    // the fold needs the PRE-batch snapshot — guaranteed by the
    // aggregate-first commit order; a snapshot already at/above this
    // batch means the two stores were driven independently
    require(!store.batch.exists(_ >= id),
      s"snapshot store $storeDir already absorbed batch $id but the view " +
        s"$aggDir has not — the stores were driven out of order; drive " +
        "both through StreamMatview only")
    // the scope persists the batch (it feeds the probe, the key tag and
    // the winners) and storeTouched, the touched buckets' pre-image
    // tagged with the batch's keys (one broadcast): the winners read
    // its hit rows and the merge its untouched rows — one touched-bucket
    // scan and no further join for either
    val staged = BucketStore.maintain(store, batch, col(keyCol), nBuckets,
        maxBroadcastKeys, "batch", Some(s"${tag(f)} b$id: probe"),
        empty = Some(batch.limit(0)),
        shape = Changelog.tagTouched(_, batch, keyCol)) { (storeTouched, _, nb) =>
      // ONE winner set for both halves, persisted: building its RDD runs
      // the key tag's broadcast, and the job materializing it is
      // submitted, both from this thread (so both carry its `fold`
      // label) before the merge thread starts; the halves plan while it
      // runs, and their jobs share its stages instead of rebuilding it
      sc.setJobDescription(s"${tag(f)} b$id: fold")
      val (touched, untouched) = Changelog.splitTouched(storeTouched)
      val w = Changelog.batchWinners(touched, untouched, batch, keyCol, seqCols, Some(f))
      w.rows.persist()
      val built = w.rows.rdd.foreachPartitionAsync(_ => ())
      try {
        val staged = alongside(spark, s"${tag(f)} b$id: snapshot merge") {
          StreamMerge.stageMerge(store, w.merged, id, keyCol, nb)
        } {
          val agg = BucketStore.read(spark, view, None).getOrElse {
            // both stores unseeded: start the view empty (right shape).
            // A SEEDED snapshot with an unseeded view must fail loudly:
            // the empty fallback would start the fold at zero and the
            // seed's contributions would be missing from every state
            // the telescoping invariant can ever reach.
            require(store.version.isEmpty,
              s"snapshot store $storeDir has committed versions but the view " +
                s"$aggDir has none — an empty-view fallback would permanently " +
                "drop the snapshot seed's contributions; seed both stores " +
                "through StreamMatview.seed (or its flavour's seed twin)")
            f.snapshot(batch.limit(0))
          }
          // the recompute source is the full PRE-batch store (the merge
          // alongside is staged, not published), read only on the
          // recompute path
          val folded = Changelog.foldWinners(f, agg, w,
            () => BucketStore.read(spark, store, None).getOrElse(batch.limit(0)))
          sc.setJobDescription(s"${tag(f)} b$id: view commit")
          // claim bucket 0 (the aggregate's only bucket): a batch that
          // drives every dim's n to 0 writes NO rows, and an unclaimed
          // commit would leave the previous version as bucket owner —
          // viewSnapshot would silently serve the stale pre-batch
          // aggregate and every later delta would fold onto wrong state
          // (the EmptyOwner hazard BucketStore.purgeKeys claims against)
          val committed = BucketStore.commit(folded, view, view.next(id), col(f.dims.head),
            nBuckets = 1, batch = Some(id), claim = Set(0L))
          BucketStore.vacuum(spark, view, retain, committed)
        }
        scala.concurrent.Await.result(built, scala.concurrent.duration.Duration.Inf)
        // strictly after the view's marker: aggregate-first
        BucketStore.publishVersion(spark, storeDir, staged)
      } finally {
        if (!built.isCompleted) built.cancel()
        w.rows.unpersist(false)
      }
    }
    BucketStore.vacuum(spark, store, retain, staged)
  }

  /** Run `side` on a new driver thread whose jobs carry the description
    * `label` while `main` runs on this one, and return `side`'s result
    * once both are done. The thread is joined even when `main` throws
    * (then `main`'s exception wins, `side`'s result is dropped and its
    * failure, if any, is attached as suppressed), and even when this
    * thread is interrupted meanwhile (the interrupt is re-asserted
    * after the join), so no job of the trigger outlives it.
    *
    * Why a second thread, although the two halves then share the
    * cores in FIFO job order: a same-box A/B (4 cores, otherwise idle;
    * `scripts/ab_pairs.py`, `view_maintenance`, seeds 911–913, 3 pairs,
    * every run correct, 0 ops failed) of this trigger against one that
    * ran [[applyView]] on a single thread — fold, view commit, then
    * stage and publish the merge, winners persisted, every guard kept —
    * read the single thread's `op_p50_s` 3.302 → 4.409 s (+33.5 %, it
    * won 1 of 3 pairs) and its `ops_per_s` 16.8 % lower.
    */
  private def alongside[A](spark: SparkSession, label: String)(side: => A)
                          (main: => Unit): A = {
    val sc = spark.sparkContext
    @volatile var result: Either[Throwable, A] = null
    val t = new Thread(() => {
      sc.setJobDescription(label)
      try result = Right(side)
      catch { case e: Throwable => result = Left(e) }
      finally sc.setJobDescription(null)
    }, label)
    t.setDaemon(true)
    t.start()
    def join(): Unit = {
      var interrupted = false
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
    }
    try main catch {
      case e: Throwable =>
        join()
        result.left.foreach(e.addSuppressed)
        throw e
    }
    join()
    result.fold(e => throw e, identity)
  }

  /** Start the continuous maintenance of `storeDir` + `aggDir` from a
    * streaming `changelog`, folding with `f`: each microbatch runs
    * [[applyView]] through [[StreamMerge.startStream]].
    */
  def startView(changelog: DataFrame, storeDir: String, aggDir: String,
                checkpointDir: String, keyCol: String,
                seqCols: Seq[String], f: ViewFold, retain: Int = 2,
                nBuckets: Int = BucketStore.DefaultBuckets,
                maxBroadcastKeys: Long = 10000000L,
                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamMerge.startStream(changelog, checkpointDir, retain, trigger)(
      applyView(_, _, storeDir, aggDir, keyCol, seqCols, f, retain, nBuckets,
        maxBroadcastKeys))

  /** Order-independent fingerprint of a purge's DISTINCT key list
    * `kdf` (`__pk`) — the token that lets a crash-interrupted
    * [[purgeView]] recognize its own replay (and refuse a DIFFERENT
    * purge until the first completes). One small job over the purge
    * scope's persisted list; null keys hash as an ordinary value.
    */
  private def keyFingerprint(kdf: DataFrame): String = {
    val p = 1000000007L
    val r = kdf.agg(coalesce(sum(pmod(xxhash64(col("__pk")), lit(p))), lit(0L)),
      count(lit(1))).head()
    s"${r.getLong(1)}x${r.getLong(0)}"
  }

  private val PurgeNote = "^purge:snapv=(-?\\d+):fp=(.+)$".r

  /** The purge intent `view` (the view's latest manifest) still
    * carries: `(snapshot version the purge will create, key-list
    * fingerprint)` while that version is past the snapshot's latest
    * `sv` — the view already subtracted contributions whose rows still
    * live in the snapshot. Manifest notes are not carried forward (each
    * version writes its own), so an ordinary commit over a pending
    * intent would silently erase the only record that a purge is
    * half-applied, and a later delete of those keys would
    * double-subtract with no guard able to fire.
    */
  private def pendingPurge(view: BucketStore.Manifest,
                           sv: Option[Long]): Option[(Long, String)] =
    view.note.collect {
      case PurgeNote(snapv, fp) if !sv.exists(_ >= snapv.toLong) => (snapv.toLong, fp)
    }

  /** Erase keys from BOTH stores consistently through fold `f` — the
    * right-to-be-forgotten op for a store with a maintained view, one
    * protocol for all three flavours. Calling [[BucketStore.purgeKeys]]
    * directly on the snapshot store would silently corrupt the view:
    * the purged rows' contributions stay in the aggregate forever (and
    * remain derivable from it — defeating the erasure), with no guard
    * able to notice because a purge deliberately does not advance the
    * batch watermark.
    *
    * Cost shape: ONE [[BucketStore.maintain]] scope over the distinct
    * key list — one probe, one persisted read of the pre-purge
    * snapshot's TOUCHED BUCKETS, shared by both halves. In order: the
    * probe; the intent (the list's fingerprint); the view half — the
    * purged keys' live contributions folded OUT of the view
    * ([[Changelog.foldPurge]]) from that pre-image and committed as a
    * maintenance version with the intent note — skipped when a pending
    * note names the same list (the crash window: the view already
    * subtracted it); then the snapshot half, [[BucketStore.erase]]
    * over the same persisted pre-image, and its scrub. O(touched
    * buckets) throughout; only a min/max dim whose bound a purged
    * value ties, or a sketch side that drains, recomputes from the
    * full store anti-joined with the keys (the survivors). Jobs carry
    * `<tag> purge: probe | intent | fold | view commit | snapshot
    * purge`.
    *
    * Crash discipline, view-first with an INTENT NOTE: the delta must
    * be computed from the PRE-purge store, so the view version
    * commits first, carrying `purge:snapv=<the snapshot version the
    * purge will create>:fp=<key-list fingerprint>` in its manifest.
    * A re-run finds the note pointing PAST the snapshot's latest
    * version and redoes ONLY the snapshot purge (same fingerprint
    * required — a different key list fails loudly until the
    * interrupted purge is re-run to completion), and [[applyView]]
    * refuses to commit over it; once the snapshot commit lands, the
    * note is satisfied and later purges take the normal path. A crash
    * below the view commit leaves nothing applied. Run with the stream
    * stopped, like any maintenance.
    */
  def purgeView(spark: SparkSession, storeDir: String, aggDir: String,
                keys: DataFrame, keyCol: String, f: ViewFold,
                maxBroadcastKeys: Long = 10000000L): BucketStore.PurgeStats = {
    val view = BucketStore.snapshot(spark, aggDir)
    val store = BucketStore.snapshot(spark, storeDir)
    val vm = view.committed
    // the snapshot version the erase below commits as
    val purgedSv = store.next(store.committed.batch)
    val sc = spark.sparkContext
    val kdf = keys.select(col(keyCol).as("__pk")).distinct()
    // storeTouched is persisted: the fold's pre-image and the snapshot
    // erase's count and rewrite all read it
    BucketStore.maintain(store, kdf, col("__pk"), BucketStore.DefaultBuckets,
        maxBroadcastKeys, "purge list", Some(s"${tag(f)} purge: probe")) {
      (storeTouched, touched, _) =>
        sc.setJobDescription(s"${tag(f)} purge: intent")
        val fp = keyFingerprint(kdf)
        pendingPurge(vm, store.version) match {
          case Some((_, noteFp)) =>
            require(noteFp == fp,
              s"view $aggDir carries an incomplete purge of a DIFFERENT key " +
                s"list (fp $noteFp vs $fp) — re-run that purge to completion " +
                "before issuing a new one")
          case None =>
            sc.setJobDescription(s"${tag(f)} purge: fold")
            val folded = Changelog.foldPurge(f, BucketStore.read(spark, view, None).get,
              storeTouched, keys, keyCol, 0L, () => BucketStore.read(spark, store, None).get)
            sc.setJobDescription(s"${tag(f)} purge: view commit")
            // claim bucket 0 for the same stale-owner reason as the trigger:
            // a purge that erases every contributing row commits an EMPTY view
            BucketStore.commit(folded, view, view.next(vm.batch), col(f.dims.head),
              nBuckets = 1, batch = Some(vm.batch), claim = Set(0L),
              note = Some(s"purge:snapv=$purgedSv:fp=$fp"))
        }
        // strictly after the view's marker: view-first
        sc.setJobDescription(s"${tag(f)} purge: snapshot purge")
        BucketStore.erase(store, storeTouched, kdf, keyCol, touched)
    }
  }

  // The flavour twins below are one-line forwards to the ViewFold entry
  // points above, kept because perfbench's view_maintenance workload
  // and the specs call them by name; a new caller picks a flavour by
  // its ViewFold instead.

  /** [[seedView]] over [[Changelog.CountSum]]: `(dims..., nCol, sumCol)`. */
  def seed(snapshot: DataFrame, storeDir: String, aggDir: String,
           keyCol: String, opCol: String, dims: Seq[String], valCol: String,
           nCol: String = "n", sumCol: String = "sum",
           nBuckets: Int = BucketStore.DefaultBuckets): Unit =
    seedView(snapshot, storeDir, aggDir, keyCol,
      CountSum(opCol, dims, valCol, nCol = nCol, sumCol = sumCol), nBuckets)

  /** [[applyView]] over [[Changelog.CountSum]]. */
  def applyBatch(batch: DataFrame, id: Long, storeDir: String, aggDir: String,
                 keyCol: String, opCol: String, seqCols: Seq[String],
                 dims: Seq[String], valCol: String,
                 nCol: String = "n", sumCol: String = "sum",
                 retain: Int = 2,
                 nBuckets: Int = BucketStore.DefaultBuckets,
                 maxBroadcastKeys: Long = 10000000L): Unit =
    applyView(batch, id, storeDir, aggDir, keyCol, seqCols,
      CountSum(opCol, dims, valCol, nCol = nCol, sumCol = sumCol), retain,
      nBuckets, maxBroadcastKeys)

  /** [[purgeView]] over [[Changelog.CountSum]]. */
  def purgeKeys(spark: SparkSession, storeDir: String, aggDir: String,
                keys: DataFrame, keyCol: String, opCol: String,
                dims: Seq[String], valCol: String,
                nCol: String = "n", sumCol: String = "sum",
                maxBroadcastKeys: Long = 10000000L): BucketStore.PurgeStats =
    purgeView(spark, storeDir, aggDir, keys, keyCol,
      CountSum(opCol, dims, valCol, nCol = nCol, sumCol = sumCol),
      maxBroadcastKeys)

  /** [[seedView]] over [[Changelog.MinMax]]: `(dims..., n, sum, min, max)`. */
  def seedMinMax(snapshot: DataFrame, storeDir: String, aggDir: String,
                 keyCol: String, opCol: String, dims: Seq[String],
                 valCol: String,
                 nCol: String = "n", sumCol: String = "sum",
                 minCol: String = "min", maxCol: String = "max",
                 nBuckets: Int = BucketStore.DefaultBuckets): Unit =
    seedView(snapshot, storeDir, aggDir, keyCol,
      MinMax(opCol, dims, valCol, "D", nCol, sumCol, minCol, maxCol), nBuckets)

  /** [[applyView]] over [[Changelog.MinMax]]. */
  def applyBatchMinMax(batch: DataFrame, id: Long, storeDir: String,
                       aggDir: String, keyCol: String, opCol: String,
                       seqCols: Seq[String], dims: Seq[String],
                       valCol: String,
                       nCol: String = "n", sumCol: String = "sum",
                       minCol: String = "min", maxCol: String = "max",
                       retain: Int = 2,
                       nBuckets: Int = BucketStore.DefaultBuckets,
                       maxBroadcastKeys: Long = 10000000L): Unit =
    applyView(batch, id, storeDir, aggDir, keyCol, seqCols,
      MinMax(opCol, dims, valCol, "D", nCol, sumCol, minCol, maxCol), retain,
      nBuckets, maxBroadcastKeys)

  /** [[purgeView]] over [[Changelog.MinMax]]. */
  def purgeKeysMinMax(spark: SparkSession, storeDir: String, aggDir: String,
                      keys: DataFrame, keyCol: String, opCol: String,
                      dims: Seq[String], valCol: String,
                      nCol: String = "n", sumCol: String = "sum",
                      minCol: String = "min", maxCol: String = "max",
                      maxBroadcastKeys: Long = 10000000L)
      : BucketStore.PurgeStats =
    purgeView(spark, storeDir, aggDir, keys, keyCol,
      MinMax(opCol, dims, valCol, "D", nCol, sumCol, minCol, maxCol),
      maxBroadcastKeys)

  /** [[seedView]] over [[Changelog.Sketch]]: `(dims..., n, sum, min,
    * max, sketch state)` — the scale path for deletes-bearing
    * changelogs, where min/max's per-retraction full-store recompute
    * becomes an O(1) sketch pop.
    */
  def seedSketch(snapshot: DataFrame, storeDir: String, aggDir: String,
                 keyCol: String, opCol: String, dims: Seq[String],
                 valCol: String, k: Int,
                 nCol: String = "n", sumCol: String = "sum",
                 minCol: String = "min", maxCol: String = "max",
                 nBuckets: Int = BucketStore.DefaultBuckets): Unit =
    seedView(snapshot, storeDir, aggDir, keyCol,
      Sketch(opCol, dims, valCol, k, "D", nCol, sumCol, minCol, maxCol), nBuckets)

  /** [[applyView]] over [[Changelog.Sketch]]. */
  def applyBatchSketch(batch: DataFrame, id: Long, storeDir: String,
                       aggDir: String, keyCol: String, opCol: String,
                       seqCols: Seq[String], dims: Seq[String],
                       valCol: String, k: Int,
                       nCol: String = "n", sumCol: String = "sum",
                       minCol: String = "min", maxCol: String = "max",
                       retain: Int = 2,
                       nBuckets: Int = BucketStore.DefaultBuckets,
                       maxBroadcastKeys: Long = 10000000L): Unit =
    applyView(batch, id, storeDir, aggDir, keyCol, seqCols,
      Sketch(opCol, dims, valCol, k, "D", nCol, sumCol, minCol, maxCol), retain,
      nBuckets, maxBroadcastKeys)

  /** [[purgeView]] over [[Changelog.Sketch]]: the purged keys' live
    * values pop out of each dim's sketch, and only a drained side
    * reads the full store.
    */
  def purgeKeysSketch(spark: SparkSession, storeDir: String, aggDir: String,
                      keys: DataFrame, keyCol: String, opCol: String,
                      dims: Seq[String], valCol: String, k: Int,
                      nCol: String = "n", sumCol: String = "sum",
                      minCol: String = "min", maxCol: String = "max",
                      maxBroadcastKeys: Long = 10000000L)
      : BucketStore.PurgeStats =
    purgeView(spark, storeDir, aggDir, keys, keyCol,
      Sketch(opCol, dims, valCol, k, "D", nCol, sumCol, minCol, maxCol),
      maxBroadcastKeys)
}
