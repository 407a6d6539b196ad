package graft.streaming

import graft.ext.Changelog
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous incremental materialized-view maintenance: fold a
  * change stream into BOTH the keyed snapshot store ([[StreamMerge]])
  * and a dimensional (count, sum) aggregate of it — the view stays
  * consistent with the snapshot without ever rescanning it. Per
  * trigger the aggregate refresh costs [[Changelog.aggDelta]]'s
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
  *    ZERO ([[Changelog.aggDelta]]'s max_by argument), so even a
  *    double-applied delta of a replayed batch is a no-op, not a
  *    double-count.
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
  */
object StreamMatview {

  /** The current maintained aggregate: `(dims..., nCol, sumCol)`. */
  def viewSnapshot(spark: SparkSession, aggDir: String): DataFrame =
    BucketStore.read(spark, aggDir).getOrElse(
      throw new IllegalStateException(s"no committed view version under $aggDir"))

  /** Seed BOTH stores from an initial snapshot — the snapshot store
    * via [[StreamMerge.seed]] (same contract: `opCol` present,
    * `seqCols` below any future entry), the aggregate store with the
    * full recompute over the seed ([[Changelog.aggSnapshot]] — the
    * one full pass, paid once at bootstrap).
    */
  def seed(snapshot: DataFrame, storeDir: String, aggDir: String,
           keyCol: String, opCol: String, dims: Seq[String], valCol: String,
           nCol: String = "n", sumCol: String = "sum",
           nBuckets: Int = BucketStore.DefaultBuckets): Unit = {
    val spark = snapshot.sparkSession
    StreamMerge.seed(snapshot, storeDir, keyCol, nBuckets)
    val existing = BucketStore.versions(spark, aggDir).filter(_ != -1L)
    require(existing.isEmpty,
      s"seed: view store $aggDir already has committed ingest versions " +
        s"(${existing.mkString(", ")}) — the seed would be invisible; " +
        "delete the store first to reset it")
    BucketStore.writeVersion(
      Changelog.aggSnapshot(snapshot, opCol, dims, valCol, nCol = nCol,
        sumCol = sumCol),
      aggDir, -1L, col(dims.head), nBuckets = 1)
  }

  /** Apply one changelog microbatch to the view and the snapshot
    * store — the view published first — as the foreachBatch body,
    * public for reuse and direct testing.
    */
  def applyBatch(batch: DataFrame, id: Long, storeDir: String, aggDir: String,
                 keyCol: String, opCol: String, seqCols: Seq[String],
                 dims: Seq[String], valCol: String,
                 nCol: String = "n", sumCol: String = "sum",
                 retain: Int = 2,
                 nBuckets: Int = BucketStore.DefaultBuckets,
                 maxBroadcastKeys: Long = 10000000L): Unit =
    trigger(batch, id, storeDir, aggDir, keyCol, opCol, seqCols, dims.head,
      retain, nBuckets, maxBroadcastKeys, "matview", "view commit", "seed",
      Changelog.aggSnapshot(batch.limit(0), opCol, dims, valCol, nCol = nCol,
        sumCol = sumCol)) { (storeTouched, agg) =>
      val delta = Changelog.aggDelta(storeTouched, batch, keyCol, opCol,
        seqCols, dims, valCol, nCol = nCol, sumCol = sumCol,
        maxBroadcastKeys = 0L) // guarded by the probe job
      Changelog.mergeAggDelta(agg, delta, dims, nCol, sumCol)
    }

  /** The trigger the three applyBatch flavours share: the two-store,
    * aggregate-first, exactly-once protocol of the object doc, with
    * the flavour's view fold as `fold(storeTouched, agg)` → the view's
    * new content.
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
    * bracket, and labels its jobs `<tag> b<id>: snapshot merge`.
    *
    * A view already at `id` (a crash between the two commits) replays
    * the snapshot half alone through [[StreamMerge.applyBatch]].
    * `foldPhase` labels the fold's jobs; `emptyView` is the view of
    * an unseeded pair; `seedName` names the seed call in the error for
    * a seeded snapshot with no view.
    */
  private def trigger(batch: DataFrame, id: Long, storeDir: String,
                      aggDir: String, keyCol: String, opCol: String,
                      seqCols: Seq[String], viewKey: String, retain: Int,
                      nBuckets: Int, maxBroadcastKeys: Long, tag: String,
                      foldPhase: String, seedName: String,
                      emptyView: => DataFrame)
                     (fold: (DataFrame, DataFrame) => DataFrame): Unit = {
    require(retain >= 1,
      s"retain=$retain: the vacuum must keep at least the version just written")
    val spark = batch.sparkSession
    if (StreamMerge.replaySkip(spark, aggDir, id)) {
      StreamMerge.applyBatch(batch, id, storeDir, keyCol, opCol, seqCols,
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
      sc.setJobDescription(s"$tag b$id: probe")
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
          val staged = alongside(spark, s"$tag b$id: snapshot merge") {
            StreamMerge.stageMerge(storeTouched, batch, id, storeDir, keyCol,
              opCol, seqCols, nb)
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
                  s"through StreamMatview.$seedName")
              emptyView
            }
            val av = BucketStore.latestVersion(spark, aggDir)
            sc.setJobDescription(s"$tag b$id: $foldPhase")
            val folded = fold(storeTouched, agg)
            sc.setJobDescription(s"$tag b$id: view commit")
            // claim bucket 0 (the aggregate's only bucket): a batch that
            // drives every dim's n to 0 writes NO rows, and an unclaimed
            // commit would leave the previous version as bucket owner —
            // viewSnapshot would silently serve the stale pre-batch
            // aggregate and every later delta would fold onto wrong state
            // (the EmptyOwner hazard BucketStore.purgeKeys claims against)
            BucketStore.writeVersion(folded, aggDir, av.map(_ + 1L).getOrElse(id),
              col(viewKey), nBuckets = 1, batch = Some(id), claim = Set(0L))
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

  /** Order-independent fingerprint of a purge's distinct key list —
    * the token that lets a crash-interrupted [[purgeKeys]] recognize
    * its own replay (and refuse a DIFFERENT purge until the first
    * completes). One small job; null keys hash as an ordinary value.
    */
  private[graft] def keyFingerprint(keys: DataFrame, keyCol: String): String = {
    val p = 1000000007L
    val r = keys.select(col(keyCol).as("__pk")).distinct()
      .agg(coalesce(sum(pmod(xxhash64(col("__pk")), lit(p))), lit(0L)),
        count(lit(1)))
      .head()
    s"${r.getLong(1)}x${r.getLong(0)}"
  }

  private val PurgeNote = "^purge:snapv=(-?\\d+):fp=(.+)$".r
  private val PurgeMMNote = "^purgemm:fp=(.+)$".r

  /** Refuse to run an ordinary view commit over an UNSATISFIED purge
    * intent. Manifest notes are not carried forward (each version
    * writes its own), so an ordinary commit would silently erase the
    * only record that a purge is half-applied:
    *
    *  - a [[PurgeNote]] (count/sum and sketch views, view-first) is
    *    unsatisfied while it points PAST the snapshot's latest
    *    version — the view already subtracted contributions whose
    *    rows still live in the snapshot, and a later delete of those
    *    keys would double-subtract with no guard able to fire;
    *  - a [[PurgeMMNote]] (plain min/max views, snapshot-first) is
    *    unsatisfied by PRESENCE — it is written before the snapshot
    *    purge and cleared only by the view-rebuild commit.
    *
    * Called by every ordinary view-committing path (the applyBatch
    * family and [[rebuildView]]); the fix is to re-run the interrupted
    * purge to completion first.
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
        case PurgeMMNote(fp) =>
          throw new IllegalArgumentException(
            s"requirement failed: view $aggDir carries an incomplete min/max " +
              s"purge intent (fp $fp: snapshot purge and/or view rebuild " +
              "never completed) — re-run the purge to completion first")
        case _ => ()
      }
    }

  /** The view-side purge delta and the buckets it reads: the purged
    * keys' LIVE (count, sum) contributions, NEGATED, computed from
    * the pre-purge snapshot store's touched buckets only — one
    * broadcast semi-join, never a store scan. Factored out so the
    * plan-shape spec can pin the touched-buckets-only read.
    */
  private[graft] def purgeDelta(spark: SparkSession, storeDir: String,
                                    keys: DataFrame, keyCol: String,
                                    opCol: String, dims: Seq[String],
                                    valCol: String, nCol: String,
                                    sumCol: String)
      : (DataFrame, Set[Long], Long) = {
    val sv = BucketStore.latestVersion(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no committed store version under $storeDir"))
    val m = BucketStore.readManifest(spark, storeDir, sv)
    val kdf = keys.select(col(keyCol).as("__pk")).distinct()
    // probe + exchange-sizing key count in the same single-pass job
    val (touched, nKeys) =
      BucketStore.touchedBucketsAndKeys(kdf, col("__pk"), m.nBuckets)
    val cur = BucketStore.read(spark, storeDir, Some(touched)).get
    val purged = cur.join(broadcast(kdf), col(keyCol) <=> col("__pk"),
      "left_semi")
    // the negated sum keeps aggSnapshot's natural (sum-widened) type —
    // casting back to valCol would narrow (sum(int) is long; decimal
    // sums widen precision) and overflow a large purged contribution;
    // mergeAggDelta's union coerces against the view's own sum type,
    // the same convention aggDelta follows
    val neg = Changelog.aggSnapshot(purged, opCol, dims, valCol,
        nCol = nCol, sumCol = sumCol)
      .select((dims.map(col) :+ (col(nCol) * -1).as(nCol) :+
        (col(sumCol) * -1).as(sumCol)): _*)
    (neg, touched, nKeys)
  }

  /** [[seed]]'s MIN/MAX twin: the aggregate store holds `(dims..., n,
    * sum, min, max)` ([[Changelog.aggSnapshotMinMax]]) for a view
    * maintained by [[applyBatchMinMax]].
    */
  def seedMinMax(snapshot: DataFrame, storeDir: String, aggDir: String,
                 keyCol: String, opCol: String, dims: Seq[String],
                 valCol: String,
                 nCol: String = "n", sumCol: String = "sum",
                 minCol: String = "min", maxCol: String = "max",
                 nBuckets: Int = BucketStore.DefaultBuckets): Unit = {
    val spark = snapshot.sparkSession
    StreamMerge.seed(snapshot, storeDir, keyCol, nBuckets)
    val existing = BucketStore.versions(spark, aggDir).filter(_ != -1L)
    require(existing.isEmpty,
      s"seedMinMax: view store $aggDir already has committed ingest versions " +
        s"(${existing.mkString(", ")}) — the seed would be invisible; " +
        "delete the store first to reset it")
    BucketStore.writeVersion(
      Changelog.aggSnapshotMinMax(snapshot, opCol, dims, valCol, nCol = nCol,
        sumCol = sumCol, minCol = minCol, maxCol = maxCol),
      aggDir, -1L, col(dims.head), nBuckets = 1)
  }

  /** [[applyBatch]]'s MIN/MAX twin — same two-store aggregate-first
    * exactly-once protocol, with [[Changelog.mergeAggMinMax]] as the
    * view refresh. The non-self-maintainable cost surfaces exactly
    * where the operator's contract says: the batch's pre-images come
    * from the TOUCHED buckets, but a batch that retracts a dim's
    * boundary recomputes that dim from the FULL store read
    * (`recomputeStore` — an affected dim's other rows live in every
    * bucket); a batch that retracts nothing commits a plan with no
    * store scan at all (the fold checkpoints its state and tests for
    * retractions before it builds the recompute branch). Re-delivered batches
    * stay idempotent (count/sum delta zero; min/max recompute lands on
    * identical values — ChangelogSpec pins both).
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
    trigger(batch, id, storeDir, aggDir, keyCol, opCol, seqCols, dims.head,
      retain, nBuckets, maxBroadcastKeys, "matview-minmax", "view commit",
      "seedMinMax",
      Changelog.aggSnapshotMinMax(batch.limit(0), opCol, dims, valCol,
        nCol = nCol, sumCol = sumCol, minCol = minCol, maxCol = maxCol)) {
      (storeTouched, agg) =>
        // the RETRACTION-ONLY recompute source: a lazy plan
        // mergeAggMinMax never executes (or references) on the
        // no-retraction path. Bound to the PRE-batch version: the
        // snapshot merge running alongside is staged, not published.
        val storeFull = BucketStore.read(batch.sparkSession, storeDir)
          .getOrElse(batch.limit(0))
        Changelog.mergeAggMinMax(agg, storeTouched, batch, keyCol, opCol,
          seqCols, dims, valCol, nCol = nCol, sumCol = sumCol,
          minCol = minCol, maxCol = maxCol,
          maxBroadcastKeys = 0L, // guarded by the probe job
          recomputeStore = Some(storeFull))
    }

  /** [[start]]'s MIN/MAX twin. */
  def startMinMax(changelog: DataFrame, storeDir: String, aggDir: String,
                  checkpointDir: String, keyCol: String, opCol: String,
                  seqCols: Seq[String], dims: Seq[String], valCol: String,
                  nCol: String = "n", sumCol: String = "sum",
                  minCol: String = "min", maxCol: String = "max",
                  retain: Int = 2,
                  nBuckets: Int = BucketStore.DefaultBuckets,
                  maxBroadcastKeys: Long = 10000000L,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(retain >= 1,
      s"retain=$retain: the vacuum must keep at least the version just written")
    changelog.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        applyBatchMinMax(b, id, storeDir, aggDir, keyCol, opCol, seqCols,
          dims, valCol, nCol, sumCol, minCol, maxCol, retain, nBuckets,
          maxBroadcastKeys)
      }
      .start()
  }

  /** [[seed]]'s SKETCHED twin: the aggregate store holds `(dims..., n,
    * sum, min, max, sketch state)` ([[Changelog.aggSnapshotSketch]])
    * for a view maintained by [[applyBatchSketch]] — the scale path
    * for deletes-bearing changelogs, where [[applyBatchMinMax]]'s
    * per-retraction full-store recompute becomes an O(1) sketch pop.
    */
  def seedSketch(snapshot: DataFrame, storeDir: String, aggDir: String,
                 keyCol: String, opCol: String, dims: Seq[String],
                 valCol: String, k: Int,
                 nCol: String = "n", sumCol: String = "sum",
                 minCol: String = "min", maxCol: String = "max",
                 nBuckets: Int = BucketStore.DefaultBuckets): Unit = {
    val spark = snapshot.sparkSession
    StreamMerge.seed(snapshot, storeDir, keyCol, nBuckets)
    val existing = BucketStore.versions(spark, aggDir).filter(_ != -1L)
    require(existing.isEmpty,
      s"seedSketch: view store $aggDir already has committed ingest versions " +
        s"(${existing.mkString(", ")}) — the seed would be invisible; " +
        "delete the store first to reset it")
    BucketStore.writeVersion(
      Changelog.aggSnapshotSketch(snapshot, opCol, dims, valCol, k = k,
        nCol = nCol, sumCol = sumCol, minCol = minCol, maxCol = maxCol),
      aggDir, -1L, col(dims.head), nBuckets = 1)
  }

  /** [[applyBatchMinMax]]'s SKETCHED twin — same two-store
    * aggregate-first exactly-once protocol, with
    * [[Changelog.mergeAggSketch]] as the view refresh: each dim's
    * sketch (k smallest/largest live values, persisted IN the view
    * store — invisible state, the served columns are identical)
    * absorbs boundary retractions as O(1) array pops. The full store
    * is passed only as the LAZY rebuild source, and mergeAggSketch is
    * eager with the drain test checkpointed first — so a trigger whose
    * retractions stay inside every sketch commits a plan with NO
    * full-store scan at all (the scan [[applyBatchMinMax]] pays on
    * every boundary-retracting trigger), and the scan happens only
    * when a dim's sketch side DRAINS: at least k boundary deletions
    * per side between rebuilds, amortized away at production k.
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
    trigger(batch, id, storeDir, aggDir, keyCol, opCol, seqCols, dims.head,
      retain, nBuckets, maxBroadcastKeys, "matview-sketch", "fold",
      "seedSketch",
      Changelog.aggSnapshotSketch(batch.limit(0), opCol, dims, valCol,
        k = k, nCol = nCol, sumCol = sumCol, minCol = minCol,
        maxCol = maxCol)) { (storeTouched, agg) =>
      // the DRAIN-ONLY rebuild source: a lazy plan mergeAggSketch never
      // executes (or references) on the no-drain path; pre-batch, as
      // for the min/max fold
      val storeFull = BucketStore.read(batch.sparkSession, storeDir)
        .getOrElse(batch.limit(0))
      Changelog.mergeAggSketch(agg, storeTouched, batch,
        keyCol, opCol, seqCols, dims, valCol, k = k, nCol = nCol,
        sumCol = sumCol, minCol = minCol, maxCol = maxCol,
        maxBroadcastKeys = 0L, // guarded by the probe job
        recomputeStore = Some(storeFull))
    }

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
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(retain >= 1,
      s"retain=$retain: the vacuum must keep at least the version just written")
    changelog.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        applyBatchSketch(b, id, storeDir, aggDir, keyCol, opCol, seqCols,
          dims, valCol, k, nCol, sumCol, minCol, maxCol, retain, nBuckets,
          maxBroadcastKeys)
      }
      .start()
  }

  /** The maintained SKETCHED view with its internal state dropped —
    * the serving projection of a view kept by [[applyBatchSketch]]:
    * `(dims..., n, sum, min, max)`, directly comparable to the plain
    * [[viewSnapshot]] and the recompute oracle.
    */
  def viewSnapshotServed(spark: SparkSession, aggDir: String): DataFrame =
    viewSnapshot(spark, aggDir).drop(Changelog.SketchCols: _*)

  /** Erasure for a SKETCHED view — [[purgeKeys]]' protocol verbatim
    * (view-first with the same intent note, same crash windows, same
    * fingerprint discipline), with [[Changelog.purgeAggSketch]] as the
    * view delta: the purged keys' live contributions subtract from
    * n/sum and POP out of each dim's sketch, both computed from the
    * pre-purge snapshot's touched buckets; only a dim whose sketch
    * side drains reads the full store (anti-joined with the purged
    * keys — correct view-first). The full-view rebuild
    * [[purgeKeysMinMax]] pays per erasure is gone on this path.
    */
  def purgeKeysSketch(spark: SparkSession, storeDir: String, aggDir: String,
                      keys: DataFrame, keyCol: String, opCol: String,
                      dims: Seq[String], valCol: String, k: Int,
                      nCol: String = "n", sumCol: String = "sum",
                      minCol: String = "min", maxCol: String = "max",
                      maxBroadcastKeys: Long = 10000000L)
      : BucketStore.PurgeStats = {
    val av = BucketStore.latestVersion(spark, aggDir).getOrElse(
      throw new IllegalStateException(s"no committed view version under $aggDir"))
    val avm = BucketStore.readManifest(spark, aggDir, av)
    val sv = BucketStore.latestVersion(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no committed store version under $storeDir"))
    val fp = keyFingerprint(keys, keyCol)
    avm.note match {
      case Some(PurgeNote(snapv, noteFp)) if snapv.toLong > sv =>
        require(noteFp == fp,
          s"view $aggDir carries an incomplete purge of a DIFFERENT key " +
            s"list (fp $noteFp vs $fp) — re-run that purge to completion " +
            "before issuing a new one")
        BucketStore.purgeKeys(spark, storeDir, keys, keyCol, maxBroadcastKeys)
      case _ =>
        purgeViewCommitSketch(spark, storeDir, aggDir, keys, keyCol, opCol,
          dims, valCol, k, nCol, sumCol, minCol, maxCol, maxBroadcastKeys)
        BucketStore.purgeKeys(spark, storeDir, keys, keyCol, maxBroadcastKeys)
    }
  }

  /** [[purgeKeysSketch]]' view-side half — the sketch-popping subtract
    * committed with the intent note, BEFORE the snapshot purge.
    * private[graft] so the crash-window spec can stop exactly between
    * the two commits.
    */
  private[graft] def purgeViewCommitSketch(spark: SparkSession,
                                           storeDir: String, aggDir: String,
                                           keys: DataFrame, keyCol: String,
                                           opCol: String, dims: Seq[String],
                                           valCol: String, k: Int,
                                           nCol: String, sumCol: String,
                                           minCol: String, maxCol: String,
                                           maxBroadcastKeys: Long): Unit =
      BucketStore.noAqe(spark) {
    val av = BucketStore.latestVersion(spark, aggDir).getOrElse(
      throw new IllegalStateException(s"no committed view version under $aggDir"))
    val avm = BucketStore.readManifest(spark, aggDir, av)
    val sv = BucketStore.latestVersion(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no committed store version under $storeDir"))
    val m = BucketStore.readManifest(spark, storeDir, sv)
    val fp = keyFingerprint(keys, keyCol)
    val kdf = keys.select(col(keyCol).as("__pk")).distinct()
    // probe + broadcast guard + exchange-sizing key count in ONE job
    // (the inner purgeAggSketch skips its duplicate guard via 0)
    val (touched, nKeys) =
      BucketStore.touchedBucketsAndKeys(kdf, col("__pk"), m.nBuckets)
    require(maxBroadcastKeys <= 0 || nKeys <= maxBroadcastKeys,
      s"purge list has more than $maxBroadcastKeys distinct keys — too " +
        "large to broadcast against the store; split the list (or raise " +
        "maxBroadcastKeys)")
    BucketStore.withShufflePartitions(spark,
      BucketStore.microbatchPartitions(spark, nKeys)) {
      val storeTouched = BucketStore.read(spark, storeDir, Some(touched)).get
      // trigger-scoped persist, same double-reference as the fold path
      storeTouched.persist()
      val storeFull = BucketStore.read(spark, storeDir)
      val agg = viewSnapshot(spark, aggDir)
      try BucketStore.writeVersion(
        Changelog.purgeAggSketch(agg, storeTouched, keys, keyCol, opCol, dims,
          valCol, k = k, nCol = nCol, sumCol = sumCol, minCol = minCol,
          maxCol = maxCol, maxBroadcastKeys = 0L,
          recomputeStore = storeFull),
        aggDir, av + 1L, col(dims.head), nBuckets = 1,
        batch = Some(avm.batch), claim = Set(0L),
        note = Some(s"purge:snapv=${sv + 1}:fp=$fp"))
      finally storeTouched.unpersist(false)
    }
  }

  /** Erasure for a PLAIN MIN/MAX view: purge the snapshot, then
    * REBUILD the aggregate from the purged store as a maintenance
    * version — the full recompute [[purgeKeys]] dropped for count/sum
    * views (and [[purgeKeysSketch]] drops for sketched views) is the
    * honest cost here: erasure retracts boundaries, and a
    * non-self-maintainable aggregate without sketch state needs the
    * surviving rows to re-answer them anyway.
    *
    * Crash discipline: snapshot-first ordering is inherent (the
    * rebuild needs the post-purge store), so the intent note flips —
    * a no-op view version carrying `purgemm:fp=<fingerprint>` commits
    * BEFORE the snapshot purge and the rebuild commit clears it. A
    * crash anywhere between the two leaves the note in place, the
    * applyBatch family refuses to resume over it
    * ([[requirePurgeSettled]] — the erased keys' contributions would
    * otherwise stay derivable from the view indefinitely with nothing
    * recording the half-applied purge), and re-running THIS purge with
    * the same key list redoes both halves idempotently (the re-purge
    * drops nothing new; the rebuild recomputes from the purged store).
    */
  def purgeKeysMinMax(spark: SparkSession, storeDir: String, aggDir: String,
                      keys: DataFrame, keyCol: String, opCol: String,
                      dims: Seq[String], valCol: String,
                      nCol: String = "n", sumCol: String = "sum",
                      minCol: String = "min", maxCol: String = "max",
                      maxBroadcastKeys: Long = 10000000L)
      : BucketStore.PurgeStats = BucketStore.noAqe(spark) {
    val av = BucketStore.latestVersion(spark, aggDir).getOrElse(
      throw new IllegalStateException(s"no committed view version under $aggDir"))
    val avm = BucketStore.readManifest(spark, aggDir, av)
    val fp = keyFingerprint(keys, keyCol)
    avm.note match {
      case Some(PurgeMMNote(noteFp)) =>
        require(noteFp == fp,
          s"view $aggDir carries an incomplete min/max purge of a DIFFERENT " +
            s"key list (fp $noteFp vs $fp) — re-run that purge to " +
            "completion before issuing a new one")
      case _ =>
        // intent first: a crash after the snapshot purge but before the
        // rebuild must leave a record, or the view would keep serving
        // (and deriving) the erased keys' contributions silently
        BucketStore.writeVersion(viewSnapshot(spark, aggDir), aggDir,
          av + 1L, col(dims.head), nBuckets = 1, batch = Some(avm.batch),
          claim = Set(0L), note = Some(s"purgemm:fp=$fp"))
    }
    val stats = BucketStore.purgeKeys(spark, storeDir, keys, keyCol,
      maxBroadcastKeys)
    val store = BucketStore.read(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no committed store version under $storeDir"))
    val av2 = BucketStore.latestVersion(spark, aggDir).get
    val ab = BucketStore.readManifest(spark, aggDir, av2).batch
    // the rebuild commit writes no note — clearing the intent
    BucketStore.writeVersion(
      Changelog.aggSnapshotMinMax(store, opCol, dims, valCol, nCol = nCol,
        sumCol = sumCol, minCol = minCol, maxCol = maxCol),
      aggDir, av2 + 1L, col(dims.head), nBuckets = 1, batch = Some(ab),
      claim = Set(0L))
    stats
  }

  /** Erase keys from BOTH stores consistently — the
    * right-to-be-forgotten op for a store with a maintained view.
    * Calling [[BucketStore.purgeKeys]] directly on the snapshot store
    * would silently corrupt the view: the purged rows' (count, sum)
    * contributions stay in the aggregate forever (and remain
    * derivable from it — defeating the erasure), with no guard able
    * to notice because a purge deliberately does not advance the
    * batch watermark.
    *
    * Cost shape: the view refresh is a DELTA — the purged keys' live
    * contributions, read from the pre-purge snapshot's TOUCHED
    * BUCKETS only ([[purgeDelta]]), subtracted from the maintained
    * aggregate as a maintenance version. O(touched buckets), like the
    * snapshot purge itself; the full-store recompute the previous
    * design paid per erasure is gone (it survives as [[rebuildView]],
    * the audit/disaster tool).
    *
    * Crash discipline, view-first with an INTENT NOTE: the delta must
    * be computed from the PRE-purge store, so the view version
    * commits first, carrying `purge:snapv=<the snapshot version the
    * purge will create>:fp=<key-list fingerprint>` in its manifest.
    * A re-run finds the note pointing PAST the snapshot's latest
    * version and redoes ONLY the snapshot purge (same fingerprint
    * required — a different key list fails loudly until the
    * interrupted purge is re-run to completion); once the snapshot
    * commit lands, the note is satisfied and later purges take the
    * normal path. A crash below the view commit leaves nothing
    * applied. Run with the stream stopped, like any maintenance.
    */
  def purgeKeys(spark: SparkSession, storeDir: String, aggDir: String,
                keys: DataFrame, keyCol: String, opCol: String,
                dims: Seq[String], valCol: String,
                nCol: String = "n", sumCol: String = "sum",
                maxBroadcastKeys: Long = 10000000L): BucketStore.PurgeStats = {
    val av = BucketStore.latestVersion(spark, aggDir).getOrElse(
      throw new IllegalStateException(s"no committed view version under $aggDir"))
    val avm = BucketStore.readManifest(spark, aggDir, av)
    val sv = BucketStore.latestVersion(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no committed store version under $storeDir"))
    val fp = keyFingerprint(keys, keyCol)
    avm.note match {
      case Some(PurgeNote(snapv, noteFp)) if snapv.toLong > sv =>
        // crash window: the view already subtracted a purge whose
        // snapshot commit never landed — redo ONLY the snapshot purge
        require(noteFp == fp,
          s"view $aggDir carries an incomplete purge of a DIFFERENT key " +
            s"list (fp $noteFp vs $fp) — re-run that purge to completion " +
            "before issuing a new one")
        BucketStore.purgeKeys(spark, storeDir, keys, keyCol, maxBroadcastKeys)
      case _ =>
        purgeViewCommit(spark, storeDir, aggDir, keys, keyCol, opCol, dims,
          valCol, nCol, sumCol)
        BucketStore.purgeKeys(spark, storeDir, keys, keyCol, maxBroadcastKeys)
    }
  }

  /** [[purgeKeys]]' view-side half — the delta subtract committed with
    * the intent note, BEFORE the snapshot purge. private[graft] so the
    * crash-window spec can stop exactly between the two commits.
    */
  private[graft] def purgeViewCommit(spark: SparkSession, storeDir: String,
                                     aggDir: String, keys: DataFrame,
                                     keyCol: String, opCol: String,
                                     dims: Seq[String], valCol: String,
                                     nCol: String, sumCol: String): Unit =
      BucketStore.noAqe(spark) {
    val av = BucketStore.latestVersion(spark, aggDir).getOrElse(
      throw new IllegalStateException(s"no committed view version under $aggDir"))
    val avm = BucketStore.readManifest(spark, aggDir, av)
    val sv = BucketStore.latestVersion(spark, storeDir).get
    val fp = keyFingerprint(keys, keyCol)
    val (neg, _, nKeys) = purgeDelta(spark, storeDir, keys, keyCol, opCol,
      dims, valCol, nCol, sumCol)
    val agg = viewSnapshot(spark, aggDir)
    // claim bucket 0 for the same stale-owner reason as applyBatch: a
    // purge that erases every contributing row commits an EMPTY view,
    // and an unclaimed commit would leave the pre-purge aggregate
    // serving — the erased keys' contributions still derivable from it.
    // Exchange width sized to the purge's own key count (guide §2) —
    // the delta aggregates at most the purged keys' rows.
    BucketStore.withShufflePartitions(spark,
      BucketStore.microbatchPartitions(spark, nKeys)) {
      BucketStore.writeVersion(
        Changelog.mergeAggDelta(agg, neg, dims, nCol, sumCol),
        aggDir, av + 1L, col(dims.head), nBuckets = 1,
        batch = Some(avm.batch), claim = Set(0L),
        note = Some(s"purge:snapv=${sv + 1}:fp=$fp"))
    }
  }

  /** Rebuild the maintained aggregate from the CURRENT snapshot store
    * — the full-recompute audit/disaster tool (the telescoping
    * invariant says its output must equal [[viewSnapshot]] at any
    * quiesced point; a mismatch means a maintenance protocol was
    * violated out-of-band). Commits as a maintenance version under
    * the view's current watermark. Run with the stream stopped.
    */
  def rebuildView(spark: SparkSession, storeDir: String, aggDir: String,
                  opCol: String, dims: Seq[String], valCol: String,
                  nCol: String = "n", sumCol: String = "sum"): Unit = {
    // a rebuild over a half-applied purge would "repair" the view back
    // to the unpurged store AND clear the intent note — the purge's
    // snapshot half would then silently never happen
    requirePurgeSettled(spark, storeDir, aggDir)
    val store = BucketStore.read(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no committed store version under $storeDir"))
    val av = BucketStore.latestVersion(spark, aggDir).getOrElse(
      throw new IllegalStateException(s"no committed view version under $aggDir"))
    val ab = BucketStore.readManifest(spark, aggDir, av).batch
    BucketStore.writeVersion(
      Changelog.aggSnapshot(store, opCol, dims, valCol, nCol = nCol,
        sumCol = sumCol),
      aggDir, av + 1L, col(dims.head), nBuckets = 1, batch = Some(ab),
      claim = Set(0L))
  }

  /** Start the continuous maintenance of `storeDir` + `aggDir` from a
    * streaming `changelog`.
    */
  def start(changelog: DataFrame, storeDir: String, aggDir: String,
            checkpointDir: String, keyCol: String, opCol: String,
            seqCols: Seq[String], dims: Seq[String], valCol: String,
            nCol: String = "n", sumCol: String = "sum",
            retain: Int = 2,
            nBuckets: Int = BucketStore.DefaultBuckets,
            maxBroadcastKeys: Long = 10000000L,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(retain >= 1,
      s"retain=$retain: the vacuum must keep at least the version just written")
    changelog.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        applyBatch(b, id, storeDir, aggDir, keyCol, opCol, seqCols, dims,
          valCol, nCol, sumCol, retain, nBuckets, maxBroadcastKeys)
      }
      .start()
  }
}
