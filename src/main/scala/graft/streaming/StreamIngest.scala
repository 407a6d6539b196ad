package graft.streaming

import graft.ext.{Dedup, Hashing}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous exact-dedup corpus ingestion with an UNBOUNDED dedup
  * horizon: each microbatch is deduplicated against the versioned
  * fingerprint store ([[graft.ext.Dedup.fingerprintStore]]'s 8-byte
  * rows), the accepted documents land in the corpus, and the store
  * rolls forward with the accepted fingerprints — the "build the
  * corpus AND its dedup index in one pass" ingest topology.
  *
  * The contrast with [[StreamingQueries.incrementalDedup]] is the
  * state story, and it is the 100 TB decision:
  *
  *  - `incrementalDedup` keeps in-stream dedup state in Spark's
  *    state store, bounded by the WATERMARK — duplicates farther
  *    apart than the delay are re-admitted (the streaming contract),
  *    and state lives in executor memory/RocksDB per partition.
  *  - This operator keeps NO Spark state at all: the horizon is the
  *    whole corpus ever accepted (a duplicate of a document ingested
  *    a year ago is still dropped), state is the O(docs) fingerprint
  *    store on durable storage (~0.3% of corpus bytes), restarts are
  *    free (nothing to rebuild — the store IS the checkpointed
  *    state), and the dedup joins are the batch path's exact shape:
  *    one anti-join of the microbatch against the store column.
  *
  * Store layout: the fingerprint store is the key-hash-BUCKETED
  * versioned store ([[BucketStore]], bucketed on the fingerprint
  * itself) — a microbatch READS only the buckets its fingerprints
  * hash into (the anti-join can only match within a bucket) and
  * REWRITES only those, so per-trigger store I/O is O(batch ×
  * store/B) instead of the flat layout's O(store) rewrite (at 100 TB
  * the fingerprint store is ~300 GB — still far too much to rewrite
  * per trigger). `storeDir/docs/b<batchId>/` holds the batch's
  * ACCEPTED documents — written before the version commits, never
  * vacuumed (they are the corpus), and readable exactly-once via
  * [[corpus]] (only batches at or below the committed manifest's
  * batch watermark count; a crash between the docs write and the
  * version commit leaves an invisible docs dir that the replay
  * overwrites).
  *
  * Crash windows mirror [[StreamMerge.applyBatch]]: recompute-and-
  * overwrite below the version commit, skip at it, loud failure on a
  * batch-id reset. Re-applying a batch recomputes the same fresh set
  * (the store it dedups against is the same version), so the
  * overwrite is idempotent.
  *
  * NEAR-dedup ingest composes rather than streams: greedy near-dedup
  * is ORDER-DEPENDENT (accept A then reject B~A, vs accept B first —
  * different corpora from the same arrivals), so a continuously
  * self-updating near-dup store has no arrival-order-independent
  * contract to gate. The production pattern is this operator for the
  * exact pass, with the incremental near-dedup batch operators
  * ([[graft.ext.Dedup.incrementalLshCandidates]] /
  * [[graft.ext.Dedup.incrementalSimhashCandidates]]) run per
  * ingest epoch against the standing band/signature stores — each
  * epoch's accept set is deterministic given its batch, and the
  * stores roll forward exactly like this one's (gated end to end by
  * `ext_pipeline_epoch_ingest`).
  */
object StreamIngest {

  private def docsDir(storeDir: String, id: Long) = s"$storeDir/docs/b$id"

  /** The settled corpus: accepted documents of every COMMITTED batch
    * (docs dirs at or below the store's latest version — a docs dir
    * whose version never committed is invisible, exactly-once).
    *
    * "Nothing accepted yet" is a legitimate state of a continuous
    * pipeline (seeded store, no batches committed): pass
    * `emptySchema` to get an empty frame of the expected document
    * schema in that state — the schema cannot be derived from a
    * store holding only fingerprints. Without it the empty state
    * fails loudly with the distinction spelled out.
    */
  def corpus(spark: SparkSession, storeDir: String,
             emptySchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    // committed = docs batches at or below the manifest's BATCH
    // watermark (not the version id — a maintenance commit advances
    // the version without admitting any new batch)
    val latest = BucketStore.snapshot(spark, storeDir).committed.batch
    val (fs, docsPath) = BucketStore.fsOf(spark, s"$storeDir/docs")
    val dirs =
      if (!fs.exists(docsPath)) Seq.empty
      else fs.listStatus(docsPath)
        .toIndexedSeq.filter(_.isDirectory)
        .map(_.getPath)
        .filter(p => "^b(-?\\d+)$".r.findFirstMatchIn(p.getName)
          .exists(_.group(1).toLong <= latest))
        .map(_.toString)
    if (dirs.isEmpty) emptySchema match {
      case Some(schema) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      case None => throw new IllegalStateException(
        s"no committed ingest batches under $storeDir/docs (store at batch " +
          s"watermark $latest — seeded but nothing accepted yet); pass emptySchema " +
          "to read this state as an empty corpus")
    }
    else spark.read.parquet(dirs: _*)
  }

  /** Seed the fingerprint store with a standing corpus's fingerprints
    * (the "existing corpus, now ingest incrementally" entry point):
    * arrivals matching the standing corpus are dropped without its
    * documents ever entering this store's corpus dirs. Same
    * empty-store contract as [[StreamMerge.seed]]; the store buckets
    * on the fingerprint column.
    */
  def seed(standingCorpus: DataFrame, textCol: String, storeDir: String,
           nBuckets: Int = BucketStore.DefaultBuckets): Unit =
    StreamMerge.seed(Dedup.fingerprintStore(standingCorpus, textCol),
      storeDir, "fp", nBuckets)

  /** Apply one microbatch: dedup against the TOUCHED BUCKETS of the
    * current store ([[Dedup.incrementalExact]] — anti-join on the
    * 8-byte column; a fingerprint can only collide within its own
    * bucket, so the rest of the store is never read), append the
    * survivors to the corpus, roll only those buckets forward. Public
    * for reuse and direct testing.
    */
  def applyBatch(batch: DataFrame, id: Long, storeDir: String,
                 idCol: String, textCol: String, retain: Int = 2,
                 nBuckets: Int = BucketStore.DefaultBuckets): Unit = {
    require(retain >= 1,
      s"retain=$retain: the vacuum must keep at least the version just written")
    val spark = batch.sparkSession
    val snap = BucketStore.snapshot(spark, storeDir)
    // guard/skip are StreamMerge's (shared version machinery — one
    // implementation of the exactly-once bookkeeping, not two)
    if (StreamMerge.replaySkip(snap, id)) return
    // store buckets key on the fingerprint, so the batch's texts hash
    // straight to the buckets their duplicates must live in — and the
    // same single-pass probe counts the batch's distinct fingerprints,
    // which sizes this trigger's exchanges
    val staged = BucketStore.maintain(snap, batch, Hashing.h60(col(textCol)), nBuckets,
        maxBroadcastKeys = 0L, "batch", Some(s"ingest b$id: probe"),
        empty = Some(spark.range(0).select(col("id").as("fp")))) { (cur, _, nb) =>
      // cur feeds BOTH the dedup anti-join and the rolled-forward
      // version's union — one bucket scan, not two
      val fresh = Dedup.incrementalExact(batch, idCol, textCol, cur).persist()
      try {
        // corpus first, version second: the version commit is the
        // transaction boundary that makes the docs dir visible
        spark.sparkContext.setJobDescription(s"ingest b$id: corpus append")
        fresh.write.mode("overwrite").parquet(docsDir(storeDir, id))
        spark.sparkContext.setJobDescription(s"ingest b$id: store commit")
        BucketStore.commit(
          cur.unionByName(fresh.select(Hashing.h60(col(textCol)).as("fp"))),
          snap, snap.next(id), col("fp"), nb, batch = Some(id))
      } finally fresh.unpersist(false)
    }
    BucketStore.vacuum(spark, snap, retain, staged)
  }

  /** Start the continuous ingest of a streaming `docs` source. */
  def start(docs: DataFrame, storeDir: String, checkpointDir: String,
            idCol: String, textCol: String, retain: Int = 2,
            nBuckets: Int = BucketStore.DefaultBuckets,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamMerge.startStream(docs, checkpointDir, retain, trigger)(
      applyBatch(_, _, storeDir, idCol, textCol, retain, nBuckets))
}
