package graft.streaming

import graft.ext.Changelog
import graft.ext.Changelog.{CountSum, MinMax, Sketch, ViewFold}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous incremental materialized-view maintenance: fold a
  * change stream into BOTH the keyed snapshot store ([[StreamMerge]])
  * and a dimensional aggregate of it — the view stays consistent with
  * the snapshot without ever rescanning it. Three view flavours share
  * one driver: count/sum ([[seed]], [[applyBatch]], [[start]],
  * [[purgeKeys]]), boundary-exact min/max (the `*MinMax` twins) and
  * sketch-backed min/max (the `*Sketch` twins); each is a
  * [[Changelog.ViewFold]] handed to the one seed, trigger, start and
  * purge below. Per trigger the view refresh costs the fold's
  * batch-keys broadcast against the store's touched buckets plus
  * batch-sized aggregations; the alternative a view over a 100 TB
  * corpus otherwise forces — a full recompute per refresh interval —
  * is exactly what this operator removes.
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
  * touched buckets' pre-image is read once (persisted) for both; a
  * second driver thread STAGES the snapshot merge from it (data +
  * manifest, no `_SUCCESS` — [[BucketStore.stageVersion]]) while the
  * calling thread folds and commits the view; only after the view's
  * `_SUCCESS` does the trigger join the thread and publish the
  * snapshot's marker ([[BucketStore.publishVersion]]). A crash
  * before the view commit leaves the staged snapshot dir invisible
  * (the replay deletes and re-stages it); a crash between the two
  * markers is the aggregate-ahead window above.
  *
  * Erasure follows ONE view-first protocol for all three flavours
  * ([[purgeKeys]]): the view subtracts the purged keys first, with an
  * intent note, then the snapshot store purges.
  */
object StreamMatview {

  /** The current maintained aggregate: `(dims..., nCol, sumCol)`, plus
    * the flavour's own columns.
    */
  def viewSnapshot(spark: SparkSession, aggDir: String): DataFrame =
    BucketStore.read(spark, aggDir).getOrElse(
      throw new IllegalStateException(s"no committed view version under $aggDir"))

  /** The maintained SKETCHED view with its internal state dropped —
    * the serving projection of a view kept by [[applyBatchSketch]]:
    * `(dims..., n, sum, min, max)`, directly comparable to the plain
    * [[viewSnapshot]] and the recompute oracle.
    */
  def viewSnapshotServed(spark: SparkSession, aggDir: String): DataFrame =
    viewSnapshot(spark, aggDir).drop(Changelog.SketchCols: _*)

  private def tag(f: ViewFold): String = f match {
    case _: CountSum => "matview"
    case _: MinMax => "matview-minmax"
    case _: Sketch => "matview-sketch"
  }

  /** Seed BOTH stores from an initial snapshot — the snapshot store
    * via [[StreamMerge.seed]] (same contract: `opCol` present,
    * `seqCols` below any future entry), the aggregate store with the
    * fold's full recompute over the seed (the one full pass, paid once
    * at bootstrap).
    */
  private def seedView(snapshot: DataFrame, storeDir: String, aggDir: String,
                       keyCol: String, f: ViewFold, nBuckets: Int): Unit = {
    val spark = snapshot.sparkSession
    StreamMerge.seed(snapshot, storeDir, keyCol, nBuckets)
    val existing = BucketStore.versions(spark, aggDir).filter(_ != -1L)
    require(existing.isEmpty,
      s"seed: view store $aggDir already has committed ingest versions " +
        s"(${existing.mkString(", ")}) — the seed would be invisible; " +
        "delete the store first to reset it")
    BucketStore.writeVersion(f.snapshot(snapshot), aggDir, -1L,
      col(f.dims.head), nBuckets = 1)
  }

  /** The trigger every applyBatch flavour shares: the two-store,
    * aggregate-first, exactly-once protocol of the object doc, folding
    * with `f`.
    *
    * One probe job (touched buckets, broadcast-guard pre-count and the
    * exchange-sizing key count), then ONE persisted read of the
    * touched buckets' pre-batch content, shared by both halves: a
    * second driver thread stages the snapshot merge from it
    * ([[StreamMerge.stageMerge]] — data + manifest, no marker) while
    * this thread folds and commits the view; then the trigger joins
    * the thread, publishes the snapshot's marker, and vacuums. The
    * thread inherits this thread's local properties (the stream's job
    * group, so a query stop cancels its jobs too, and any caller
    * tags), runs inside this trigger's `noAqe`/`withShufflePartitions`
    * bracket, and labels its jobs `<tag> b<id>: snapshot merge`. The
    * fold's own jobs (the eager checkpoint and flag test of the
    * min/max and sketch folds) run as `<tag> b<id>: fold`; the lazy
    * count/sum fold's run inside the `view commit` write.
    *
    * A view already at `id` (a crash between the two commits) replays
    * the snapshot half alone through [[StreamMerge.applyBatch]].
    */
  private def applyView(batch: DataFrame, id: Long, storeDir: String,
                        aggDir: String, keyCol: String, seqCols: Seq[String],
                        f: ViewFold, retain: Int, nBuckets: Int,
                        maxBroadcastKeys: Long): Unit = {
    require(retain >= 1,
      s"retain=$retain: the vacuum must keep at least the version just written")
    val spark = batch.sparkSession
    if (StreamMerge.replaySkip(spark, aggDir, id)) {
      StreamMerge.applyBatch(batch, id, storeDir, keyCol, f.opCol, seqCols,
        retain, nBuckets, maxBroadcastKeys)
      return
    }
    val sc = spark.sparkContext
    // one persist for the WHOLE trigger: the batch feeds the probe,
    // the fold and the merge — re-reading the source slice per
    // consumer is the repeated I/O this removes
    batch.persist()
    try BucketStore.noAqe(spark) {
      requirePurgeSettled(spark, storeDir, aggDir)
      // the fold needs the PRE-batch snapshot — guaranteed by the
      // aggregate-first commit order; a snapshot already at/above
      // this batch means the two stores were driven independently
      require(!BucketStore.latestBatch(spark, storeDir).exists(_ >= id),
        s"snapshot store $storeDir already absorbed batch $id but the view " +
          s"$aggDir has not — the stores were driven out of order; drive " +
          "both through StreamMatview only")
      val sv = BucketStore.latestVersion(spark, storeDir)
      val nb = StreamMerge.bucketCount(spark, storeDir, nBuckets)
      sc.setJobDescription(s"${tag(f)} b$id: probe")
      val (touched, nKeys) =
        BucketStore.touchedBucketsAndKeys(batch, col(keyCol), nb)
      require(maxBroadcastKeys <= 0 || nKeys <= maxBroadcastKeys,
        s"batch has more than $maxBroadcastKeys distinct keys — too large " +
          "to broadcast against the store; split the batch (or raise " +
          "maxBroadcastKeys)")
      BucketStore.withShufflePartitions(spark,
        BucketStore.microbatchPartitions(spark, nKeys)) {
        val storeTouched = BucketStore.read(spark, storeDir, Some(touched))
          .getOrElse(batch.limit(0))
        // trigger-scoped persist: the fold references the pre-image under
        // two exchanges (winner max_by + the -1 side of the signed
        // union) and the merge under two more (anti + semi join) — one
        // touched-bucket scan for all four
        storeTouched.persist()
        try {
          val staged = alongside(spark, s"${tag(f)} b$id: snapshot merge") {
            StreamMerge.stageMerge(storeTouched, batch, id, storeDir, keyCol,
              f.opCol, seqCols, nb)
          } {
            val agg = BucketStore.read(spark, aggDir).getOrElse {
              // both stores unseeded: start the view empty (right shape).
              // A SEEDED snapshot with an unseeded view must fail loudly:
              // the empty fallback would start the fold at zero and the
              // seed's contributions would be missing from every state
              // the telescoping invariant can ever reach.
              require(sv.isEmpty,
                s"snapshot store $storeDir has committed versions but the view " +
                  s"$aggDir has none — an empty-view fallback would permanently " +
                  "drop the snapshot seed's contributions; seed both stores " +
                  "through StreamMatview.seed (or its flavour's seed twin)")
              f.snapshot(batch.limit(0))
            }
            val av = BucketStore.latestVersion(spark, aggDir)
            sc.setJobDescription(s"${tag(f)} b$id: fold")
            // the recompute source is the full PRE-batch store (the
            // merge alongside is staged, not published), read only on
            // the recompute path
            val folded = Changelog.foldBatch(f, agg, storeTouched, batch, keyCol,
              seqCols, 0L, // guarded by the probe job
              () => BucketStore.read(spark, storeDir).getOrElse(batch.limit(0)))
            sc.setJobDescription(s"${tag(f)} b$id: view commit")
            // claim bucket 0 (the aggregate's only bucket): a batch that
            // drives every dim's n to 0 writes NO rows, and an unclaimed
            // commit would leave the previous version as bucket owner —
            // viewSnapshot would silently serve the stale pre-batch
            // aggregate and every later delta would fold onto wrong state
            // (the EmptyOwner hazard BucketStore.purgeKeys claims against)
            BucketStore.writeVersion(folded, aggDir, av.map(_ + 1L).getOrElse(id),
              col(f.dims.head), nBuckets = 1, batch = Some(id), claim = Set(0L))
            BucketStore.vacuum(spark, aggDir, retain)
          }
          // strictly after the view's marker: aggregate-first
          BucketStore.publishVersion(spark, storeDir, staged)
        } finally storeTouched.unpersist(false)
      }
    } finally {
      // clear the thread-local phase label HERE, not on the success
      // path: a throwing fold would otherwise leak a stale label onto
      // every later job scheduled from this stream thread
      sc.setJobDescription(null)
      batch.unpersist(false)
    }
    BucketStore.vacuum(spark, storeDir, retain)
  }

  /** Run `side` on a new driver thread whose jobs carry the description
    * `label` while `main` runs on this one, and return `side`'s result
    * once both are done. The thread is joined even when `main` throws
    * (then `main`'s exception wins, `side`'s result is dropped and its
    * failure, if any, is attached as suppressed), and even when this
    * thread is interrupted meanwhile (the interrupt is re-asserted
    * after the join), so no job of the trigger outlives it.
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
    * streaming `changelog`, folding with `f`.
    */
  private def startView(changelog: DataFrame, storeDir: String, aggDir: String,
                        checkpointDir: String, keyCol: String,
                        seqCols: Seq[String], f: ViewFold, retain: Int,
                        nBuckets: Int, maxBroadcastKeys: Long,
                        trigger: Trigger): StreamingQuery = {
    require(retain >= 1,
      s"retain=$retain: the vacuum must keep at least the version just written")
    changelog.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        applyView(b, id, storeDir, aggDir, keyCol, seqCols, f, retain,
          nBuckets, maxBroadcastKeys)
      }
      .start()
  }

  /** Order-independent fingerprint of a purge's distinct key list —
    * the token that lets a crash-interrupted [[purgeKeys]] recognize
    * its own replay (and refuse a DIFFERENT purge until the first
    * completes). One small job; null keys hash as an ordinary value.
    */
  private def keyFingerprint(keys: DataFrame, keyCol: String): String = {
    val p = 1000000007L
    val r = keys.select(col(keyCol).as("__pk")).distinct()
      .agg(coalesce(sum(pmod(xxhash64(col("__pk")), lit(p))), lit(0L)),
        count(lit(1)))
      .head()
    s"${r.getLong(1)}x${r.getLong(0)}"
  }

  private val PurgeNote = "^purge:snapv=(-?\\d+):fp=(.+)$".r

  /** Refuse to run an ordinary view commit over an UNSATISFIED purge
    * intent. Manifest notes are not carried forward (each version
    * writes its own), so an ordinary commit would silently erase the
    * only record that a purge is half-applied. A [[PurgeNote]] is
    * unsatisfied while it points PAST the snapshot's latest version —
    * the view already subtracted contributions whose rows still live
    * in the snapshot, and a later delete of those keys would
    * double-subtract with no guard able to fire. The fix is to re-run
    * the interrupted purge to completion first.
    */
  private def requirePurgeSettled(spark: SparkSession, storeDir: String,
                                  aggDir: String): Unit =
    BucketStore.latestVersion(spark, aggDir).foreach { av =>
      BucketStore.readManifest(spark, aggDir, av).note.foreach {
        case PurgeNote(snapv, fp) =>
          val sv = BucketStore.latestVersion(spark, storeDir)
          require(sv.exists(_ >= snapv.toLong),
            s"view $aggDir carries an incomplete purge intent (fp $fp: view " +
              s"delta committed, snapshot purge to version $snapv never " +
              "landed) — an ordinary commit would erase the record and a " +
              "later delete of those keys would double-subtract; re-run the " +
              "purge to completion first")
        case _ => ()
      }
    }

  /** Erase keys from BOTH stores consistently through fold `f` — see
    * [[purgeKeys]].
    */
  private def purgeView(spark: SparkSession, storeDir: String, aggDir: String,
                        keys: DataFrame, keyCol: String, f: ViewFold,
                        maxBroadcastKeys: Long): BucketStore.PurgeStats = {
    val av = BucketStore.latestVersion(spark, aggDir).getOrElse(
      throw new IllegalStateException(s"no committed view version under $aggDir"))
    val sv = BucketStore.latestVersion(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no committed store version under $storeDir"))
    BucketStore.readManifest(spark, aggDir, av).note match {
      case Some(PurgeNote(snapv, noteFp)) if snapv.toLong > sv =>
        // crash window: the view already subtracted a purge whose
        // snapshot commit never landed — redo ONLY the snapshot purge
        val fp = keyFingerprint(keys, keyCol)
        require(noteFp == fp,
          s"view $aggDir carries an incomplete purge of a DIFFERENT key " +
            s"list (fp $noteFp vs $fp) — re-run that purge to completion " +
            "before issuing a new one")
      case _ =>
        purgeViewCommit(spark, storeDir, aggDir, keys, keyCol, f, maxBroadcastKeys)
    }
    BucketStore.purgeKeys(spark, storeDir, keys, keyCol, maxBroadcastKeys)
  }

  /** The view-side half of a purge — the purged keys' live
    * contributions folded OUT of the view ([[Changelog.foldPurge]]),
    * committed with the intent note BEFORE the snapshot purge. The
    * fold reads the pre-purge snapshot's TOUCHED BUCKETS only; a
    * min/max dim whose bound a purged value ties, or a sketch side
    * that drains, recomputes from the full store anti-joined with the
    * keys (the survivors). private[graft] so the crash-window spec
    * can stop exactly between the two commits.
    */
  private[graft] def purgeViewCommit(spark: SparkSession, storeDir: String,
                                     aggDir: String, keys: DataFrame,
                                     keyCol: String, f: ViewFold,
                                     maxBroadcastKeys: Long = 10000000L): Unit =
      BucketStore.noAqe(spark) {
    val av = BucketStore.latestVersion(spark, aggDir).getOrElse(
      throw new IllegalStateException(s"no committed view version under $aggDir"))
    val avm = BucketStore.readManifest(spark, aggDir, av)
    val sv = BucketStore.latestVersion(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no committed store version under $storeDir"))
    val fp = keyFingerprint(keys, keyCol)
    // probe + broadcast guard + exchange-sizing key count in ONE job
    val (touched, nKeys) = BucketStore.touchedBucketsAndKeys(
      keys.select(col(keyCol).as("__pk")).distinct(), col("__pk"),
      BucketStore.readManifest(spark, storeDir, sv).nBuckets)
    require(maxBroadcastKeys <= 0 || nKeys <= maxBroadcastKeys,
      s"purge list has more than $maxBroadcastKeys distinct keys — too " +
        "large to broadcast against the store; split the list (or raise " +
        "maxBroadcastKeys)")
    BucketStore.withShufflePartitions(spark,
      BucketStore.microbatchPartitions(spark, nKeys)) {
      val storeTouched = BucketStore.read(spark, storeDir, Some(touched)).get
      // same double-reference as the trigger's fold
      storeTouched.persist()
      // claim bucket 0 for the same stale-owner reason as the trigger: a
      // purge that erases every contributing row commits an EMPTY view
      try BucketStore.writeVersion(
        Changelog.foldPurge(f, viewSnapshot(spark, aggDir), storeTouched, keys,
          keyCol, 0L, () => BucketStore.read(spark, storeDir).get),
        aggDir, av + 1L, col(f.dims.head), nBuckets = 1,
        batch = Some(avm.batch), claim = Set(0L),
        note = Some(s"purge:snapv=${sv + 1}:fp=$fp"))
      finally storeTouched.unpersist(false)
    }
  }

  /** Seed a count/sum view `(dims..., nCol, sumCol)` and its snapshot
    * store ([[seedView]]).
    */
  def seed(snapshot: DataFrame, storeDir: String, aggDir: String,
           keyCol: String, opCol: String, dims: Seq[String], valCol: String,
           nCol: String = "n", sumCol: String = "sum",
           nBuckets: Int = BucketStore.DefaultBuckets): Unit =
    seedView(snapshot, storeDir, aggDir, keyCol,
      CountSum(opCol, dims, valCol, nCol = nCol, sumCol = sumCol), nBuckets)

  /** Apply one changelog microbatch to the count/sum view and the
    * snapshot store — the view published first ([[applyView]]) — as
    * the foreachBatch body, public for reuse and direct testing.
    */
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

  /** Start the continuous count/sum maintenance ([[startView]]). */
  def start(changelog: DataFrame, storeDir: String, aggDir: String,
            checkpointDir: String, keyCol: String, opCol: String,
            seqCols: Seq[String], dims: Seq[String], valCol: String,
            nCol: String = "n", sumCol: String = "sum",
            retain: Int = 2,
            nBuckets: Int = BucketStore.DefaultBuckets,
            maxBroadcastKeys: Long = 10000000L,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startView(changelog, storeDir, aggDir, checkpointDir, keyCol, seqCols,
      CountSum(opCol, dims, valCol, nCol = nCol, sumCol = sumCol), retain,
      nBuckets, maxBroadcastKeys, trigger)

  /** Erase keys from BOTH stores consistently — the
    * right-to-be-forgotten op for a store with a maintained view, one
    * protocol for all three flavours (this and the `*MinMax`/`*Sketch`
    * twins). Calling [[BucketStore.purgeKeys]] directly on the
    * snapshot store would silently corrupt the view: the purged rows'
    * contributions stay in the aggregate forever (and remain derivable
    * from it — defeating the erasure), with no guard able to notice
    * because a purge deliberately does not advance the batch
    * watermark.
    *
    * Cost shape: the view refresh is a DELTA — the purged keys' live
    * contributions, read from the pre-purge snapshot's TOUCHED BUCKETS
    * only ([[purgeViewCommit]]), folded out of the maintained aggregate
    * as a maintenance version. O(touched buckets), like the snapshot
    * purge itself; only a min/max bound a purged value held, or a
    * drained sketch side, reads the full store.
    *
    * Crash discipline, view-first with an INTENT NOTE: the delta must
    * be computed from the PRE-purge store, so the view version
    * commits first, carrying `purge:snapv=<the snapshot version the
    * purge will create>:fp=<key-list fingerprint>` in its manifest.
    * A re-run finds the note pointing PAST the snapshot's latest
    * version and redoes ONLY the snapshot purge (same fingerprint
    * required — a different key list fails loudly until the
    * interrupted purge is re-run to completion), and the applyBatch
    * family refuses to commit over it; once the snapshot commit lands,
    * the note is satisfied and later purges take the normal path. A
    * crash below the view commit leaves nothing applied. Run with the
    * stream stopped, like any maintenance.
    */
  def purgeKeys(spark: SparkSession, storeDir: String, aggDir: String,
                keys: DataFrame, keyCol: String, opCol: String,
                dims: Seq[String], valCol: String,
                nCol: String = "n", sumCol: String = "sum",
                maxBroadcastKeys: Long = 10000000L): BucketStore.PurgeStats =
    purgeView(spark, storeDir, aggDir, keys, keyCol,
      CountSum(opCol, dims, valCol, nCol = nCol, sumCol = sumCol),
      maxBroadcastKeys)

  /** [[seed]]'s MIN/MAX twin: the aggregate store holds `(dims..., n,
    * sum, min, max)` ([[Changelog.MinMax]]).
    */
  def seedMinMax(snapshot: DataFrame, storeDir: String, aggDir: String,
                 keyCol: String, opCol: String, dims: Seq[String],
                 valCol: String,
                 nCol: String = "n", sumCol: String = "sum",
                 minCol: String = "min", maxCol: String = "max",
                 nBuckets: Int = BucketStore.DefaultBuckets): Unit =
    seedView(snapshot, storeDir, aggDir, keyCol,
      MinMax(opCol, dims, valCol, "D", nCol, sumCol, minCol, maxCol), nBuckets)

  /** [[applyBatch]]'s MIN/MAX twin. The non-self-maintainable cost
    * surfaces exactly where the operator's contract says: the batch's
    * pre-images come from the TOUCHED buckets, but a batch that
    * retracts a dim's boundary recomputes that dim from the FULL store
    * read (an affected dim's other rows live in every bucket); a batch
    * that retracts nothing commits a plan with no store scan at all.
    */
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

  /** [[start]]'s MIN/MAX twin. */
  def startMinMax(changelog: DataFrame, storeDir: String, aggDir: String,
                  checkpointDir: String, keyCol: String, opCol: String,
                  seqCols: Seq[String], dims: Seq[String], valCol: String,
                  nCol: String = "n", sumCol: String = "sum",
                  minCol: String = "min", maxCol: String = "max",
                  retain: Int = 2,
                  nBuckets: Int = BucketStore.DefaultBuckets,
                  maxBroadcastKeys: Long = 10000000L,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startView(changelog, storeDir, aggDir, checkpointDir, keyCol, seqCols,
      MinMax(opCol, dims, valCol, "D", nCol, sumCol, minCol, maxCol), retain,
      nBuckets, maxBroadcastKeys, trigger)

  /** [[purgeKeys]]' MIN/MAX twin — the same view-first protocol. */
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

  /** [[seed]]'s SKETCHED twin: the aggregate store holds `(dims..., n,
    * sum, min, max, sketch state)` ([[Changelog.Sketch]]) — the scale
    * path for deletes-bearing changelogs, where [[applyBatchMinMax]]'s
    * per-retraction full-store recompute becomes an O(1) sketch pop.
    */
  def seedSketch(snapshot: DataFrame, storeDir: String, aggDir: String,
                 keyCol: String, opCol: String, dims: Seq[String],
                 valCol: String, k: Int,
                 nCol: String = "n", sumCol: String = "sum",
                 minCol: String = "min", maxCol: String = "max",
                 nBuckets: Int = BucketStore.DefaultBuckets): Unit =
    seedView(snapshot, storeDir, aggDir, keyCol,
      Sketch(opCol, dims, valCol, k, "D", nCol, sumCol, minCol, maxCol), nBuckets)

  /** [[applyBatchMinMax]]'s SKETCHED twin: each dim's sketch (k
    * smallest/largest live values, persisted IN the view store —
    * invisible state, the served columns are identical) absorbs
    * boundary retractions as O(1) array pops, so a trigger whose
    * retractions stay inside every sketch commits a plan with NO
    * full-store scan at all; the scan happens only when a dim's sketch
    * side DRAINS — at least k boundary deletions per side between
    * rebuilds.
    */
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

  /** [[start]]'s SKETCHED twin. */
  def startSketch(changelog: DataFrame, storeDir: String, aggDir: String,
                  checkpointDir: String, keyCol: String, opCol: String,
                  seqCols: Seq[String], dims: Seq[String], valCol: String,
                  k: Int,
                  nCol: String = "n", sumCol: String = "sum",
                  minCol: String = "min", maxCol: String = "max",
                  retain: Int = 2,
                  nBuckets: Int = BucketStore.DefaultBuckets,
                  maxBroadcastKeys: Long = 10000000L,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startView(changelog, storeDir, aggDir, checkpointDir, keyCol, seqCols,
      Sketch(opCol, dims, valCol, k, "D", nCol, sumCol, minCol, maxCol), retain,
      nBuckets, maxBroadcastKeys, trigger)

  /** [[purgeKeys]]' SKETCHED twin — the same view-first protocol: the
    * purged keys' live values pop out of each dim's sketch, and only a
    * drained side reads the full store.
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
