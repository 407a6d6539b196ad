package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Key-hash-BUCKETED versioned store — the shared layout under
  * [[StreamMerge]] (snapshot store) and [[StreamIngest]] (fingerprint
  * store), built so a microbatch rewrites ONLY the buckets its keys
  * touch instead of the whole store. The flat predecessor layout
  * (`v<id>/` holding the full store parquet) had the right COMPUTE
  * plan — the store never shuffles — but O(store) write amplification
  * per trigger: at a 100 TB snapshot store with a minutes-level
  * trigger the job never keeps up. Here a trigger's I/O is
  * O(touched buckets) ≈ O(batch keys × store/B), and untouched
  * buckets are carried by REFERENCE.
  *
  * Layout (one writer per storeDir, as before):
  * {{{
  *   storeDir/v<id>/data/__b=<k>/            buckets REWRITTEN by version <id>
  *   storeDir/v<id>/manifest                 bucket -> owning version (all buckets)
  *   storeDir/v<id>/_SUCCESS                 commit marker, written LAST
  * }}}
  *
  * The manifest is the version's complete bucket map: buckets the
  * batch touched point at this version's own `data/`, untouched
  * buckets point at the version that last rewrote them (transitively
  * back to the seed). It also records the bucket COUNT — fixed for
  * the store's lifetime, since a key's bucket must be stable across
  * versions — and the store SCHEMA (so an empty store still reads
  * with its declared shape, and so additive schema evolution can
  * null-backfill buckets written before a column existed).
  *
  * Cost accounting, measured at fixture scale: the layout adds one
  * touched-bucket probe JOB ([[touchedBucketsAndKeys]] — single-pass
  * collect_set, no row exchange) and one bucket-repartition stage per
  * trigger, ~0.4 s/trigger of pure job-launch floor on the 8-batch
  * gated replays (5.4 → 8.9 s; the data is tiny there). That floor
  * is flat per trigger while the rewrite it replaces is O(store):
  * the crossover is store ≈ batch × B/(B−1) — a few batches in, and
  * six orders of magnitude at a 100 TB store with minutes-level
  * triggers.
  *
  * One store SNAPSHOT per operation ([[Snapshot]]): every trigger,
  * purge and rebucket resolves each store it touches ONCE, at its
  * start — one listing of the store root, one manifest read — and
  * passes that value down through the replay/intent guards,
  * [[maintain]], the touched-bucket read, the stage, the erase and the
  * vacuum. The version the pre-image is read from is therefore the
  * version the commit builds on by construction, not by a second
  * lookup agreeing with the first (snapshot isolation, as a table
  * format's operation reads one snapshot and commits against it). A
  * snapshot lives for one call: it is never cached, so a crash replay
  * always re-resolves.
  *
  * Commit discipline (same self-describing-directory contract the
  * flat layout had): a version exists iff `v<id>/_SUCCESS` exists,
  * and that marker is written strictly after the data AND the
  * manifest — a crash anywhere below it leaves an invisible partial
  * dir that the replayed batch deletes and rewrites; a crash between
  * the marker and the streaming offset log is the replay-skip case
  * ([[StreamMerge.replaySkip]]). A commit is two calls, stage then
  * publish ([[stageVersion]] writes data + manifest, [[publishVersion]]
  * the marker; [[writeVersion]] is the two back to back), so a caller
  * that owns two stores can stage one, commit the other, and publish
  * the first only then: a [[StreamMatview]] trigger stages its
  * snapshot merge on a second driver thread while it folds and
  * commits the view, and publishes the snapshot marker strictly after
  * the view's — the aggregate-first order, with the two halves'
  * work overlapped. Versions are vacuumed only when NO retained
  * manifest references their buckets, so a seed version that still
  * owns cold buckets outlives `retain` by design (its superseded
  * buckets are the compaction story — [[graft.ext.Layout.compact]]
  * per bucket dir).
  */
object BucketStore {

  /** Default bucket count. Sizing note for real deployments: buckets
    * are the write-amplification unit (a 1-key batch rewrites
    * store/B bytes), so size B so store/B is a comfortable rewrite
    * (e.g. a 100 TB store wants B in the thousands, not 16 — the
    * fixture default keeps per-bucket file counts sane at test
    * scale).
    */
  val DefaultBuckets = 16

  private[streaming] val BucketCol = "__b"

  /** Sentinel manifest owner for a bucket a version CLAIMS but wrote
    * no data for — a bucket [[purgeKeys]] emptied entirely. A claimed-
    * empty bucket must not keep its previous owner (the stale copy is
    * exactly what the purge removed) and cannot point at a data dir
    * that does not exist, so the manifest marks it empty explicitly
    * and [[read]] skips it.
    */
  private val EmptyOwner = Long.MinValue

  /** The stable bucket of a key — pmod of the 64-bit hash, never
    * null (a null key hashes to the seed), identical on every
    * version of the store.
    */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(xxhash64(key), lit(nBuckets.toLong))

  /** Keys per reduce task of a maintenance body's exchanges: 500k
    * keys ≈ 100 MB at typical changelog row widths (guide §2.2's
    * partition-size band).
    */
  private val KeysPerPartition = 500000L

  /** The one maintenance skeleton every store trigger and purge runs
    * through ([[StreamMerge.applyBatch]], [[StreamIngest.applyBatch]],
    * the [[StreamMatview]] trigger, [[purgeKeys]], and the view-first
    * [[StreamMatview.purgeView]], whose view commit and snapshot erase
    * share one scope), over the store snapshot `snap` the caller
    * resolved at its start. Each runs it exactly once per call. In
    * order:
    *
    *  1. AQE off for the whole scope. Every data-scale join in these
    *     bodies is broadcast-pinned and the per-trigger relations are
    *     batch- or dim-bounded, so AQE has nothing structural to
    *     decide — but it MATERIALIZES EVERY QUERY STAGE AS ITS OWN
    *     SPARK JOB, ~40 jobs/trigger vs ~14 on ext_stream_matview_sketch
    *     (measured on the gated matview replays, guide §1). The min/max
    *     fold gates its recompute branch itself (eager checkpoint
    *     carrying the retraction count, pinned by PlanShapeSpec's
    *     poisoned-source test), so nothing leans on AQE's empty-relation
    *     propagation.
    *  1. `label`, if given, as the job description of the probe (the
    *     body sets its own phase labels after it).
    *  1. ONE probe job over `probe`, persisted first (the batch or key
    *     list feeds the probe and the body's joins — one read of the
    *     source, not one per consumer): the buckets `key` hashes into
    *     at the snapshot's bucket count (`nBuckets` for an empty
    *     store — a key's bucket never moves across versions, so the
    *     manifest wins), and its distinct-key count
    *     ([[touchedBucketsAndKeys]]).
    *  1. The broadcast guard: more than `maxBroadcastKeys` distinct
    *     keys (0 = no cap) fails loudly — "split the `noun`" — before
    *     anything is read.
    *  1. The exchange width: every groupBy/latest exchange in these
    *     bodies partial-aggregates map-side, so at most one row per key
    *     crosses any exchange; the width is ceil(keys /
    *     [[KeysPerPartition]]), capped by the session's own shuffle
    *     partitions (a session tuned narrow is never widened). A 10k-key
    *     trigger runs ONE reduce partition instead of fanning empty task
    *     waves across the session fan-out; a 100M-key batch gets 200.
    *  1. The touched buckets' pre-image, read from `snap` (`empty`
    *     stands in for a store with no committed version), passed
    *     through `shape` (the matview trigger tags the rows whose key
    *     the batch changes) and persisted once for every consumer in
    *     the body.
    *  1. `body(pre-image, touched buckets, bucket count)`.
    *  1. Unpersist both, clear the job label (when one was set) and
    *     restore the conf, also when the body throws — a stale label would
    *     otherwise tag every later job of the calling thread.
    *
    * AQE and the width are scoped to the body ([[graft.Session.withConf]]),
    * never left on the session: the same session serves full-size
    * batch queries between triggers. A second driver thread the body
    * starts (the matview trigger's snapshot merge) runs inside the
    * same scope.
    */
  private[graft] def maintain[A](snap: Snapshot, probe: DataFrame, key: Column,
                                 nBuckets: Int, maxBroadcastKeys: Long, noun: String,
                                 label: Option[String] = None,
                                 empty: Option[DataFrame] = None,
                                 shape: DataFrame => DataFrame = identity)
                                (body: (DataFrame, Set[Long], Int) => A): A = {
    val spark = probe.sparkSession
    val sc = spark.sparkContext
    graft.Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      probe.persist()
      try {
        label.foreach(sc.setJobDescription)
        val nb = snap.nBuckets(nBuckets)
        val (touched, nKeys) = touchedBucketsAndKeys(probe, key, nb)
        require(maxBroadcastKeys <= 0 || nKeys <= maxBroadcastKeys,
          s"$noun has more than $maxBroadcastKeys distinct keys — too large to " +
            s"broadcast against the store; split the $noun (or raise maxBroadcastKeys)")
        val width = math.max(1L, math.min(spark.sessionState.conf.numShufflePartitions.toLong,
          (nKeys + KeysPerPartition - 1) / KeysPerPartition))
        graft.Session.withConf(spark, "spark.sql.shuffle.partitions" -> width.toString) {
          val pre = shape(read(spark, snap, Some(touched)).orElse(empty).getOrElse(
            throw new IllegalStateException(s"no committed version under ${snap.dir}")))
          pre.persist()
          try body(pre, touched, nb) finally pre.unpersist(false)
        }
      } finally {
        if (label.nonEmpty) sc.setJobDescription(null)
        probe.unpersist(false)
      }
    }
  }

  /** The distinct buckets `df`'s keys hash into — the driver-side
    * probe that decides which store buckets a batch must read and
    * rewrite — plus the batch's DISTINCT KEY COUNT (null as one
    * ordinary key, matching the groupBy semantics of the merge), in ONE
    * single-pass job: collect_set partial-aggregates per partition (at
    * most `nBuckets` values each) into one reduce row — no exchange of
    * data rows, where a distinct().collect() would shuffle the
    * projection across the full shuffle-partition fan-out first — so
    * a caller that needs both the probe and a broadcast-guard
    * pre-count (every maintenance body does) pays one job per trigger.
    */
  def touchedBucketsAndKeys(df: DataFrame, key: Column,
                            nBuckets: Int): (Set[Long], Long) = {
    val r = df.agg(collect_set(bucketOf(key, nBuckets)).as("__tb"),
      count_distinct(key).as("__ck"),
      max(when(key.isNull, 1L).otherwise(0L)).as("__nk"))
      .head
    (r.getSeq[Long](0).toSet,
      r.getLong(1) + (if (r.isNullAt(2)) 0L else r.getLong(2)))
  }

  private[streaming] def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private[streaming] def versionDir(storeDir: String, id: Long) =
    s"$storeDir/v$id"

  private val VersionName = "^v(-?\\d+)$".r
  private val BucketName = s"^${BucketCol}=(\\d+)$$".r

  /** One operation's view of a store's committed state, resolved
    * ONCE by [[snapshot]] and passed down through everything the
    * operation does to that store: the store `dir`, its committed
    * version ids ascending (a version counts iff its `_SUCCESS` marker
    * exists), the latest — or pinned — `version` and its `manifest`
    * (None for an empty store). Immutable, and never cached past the
    * call that resolved it.
    */
  final case class Snapshot(dir: String, versions: Seq[Long], version: Option[Long],
                            manifest: Option[Manifest]) {
    /** The ingest batch watermark ([[latestBatch]]). */
    def batch: Option[Long] = manifest.map(_.batch)

    /** The store's fixed bucket count, or `default` for an empty store. */
    def nBuckets(default: Int): Int = manifest.fold(default)(_.nBuckets)

    /** The id the operation commits as: the next in the store's own
      * sequence (maintenance commits may have advanced it past the
      * batch ids), or `batch` for a store with no committed version.
      */
    def next(batch: Long): Long = version.fold(batch)(_ + 1L)

    /** The manifest of a store that must have a committed version. */
    def committed: Manifest = manifest.getOrElse(
      throw new IllegalStateException(s"no committed version under $dir"))
  }

  /** Resolve `dir`'s [[Snapshot]]: ONE listing of the store root and
    * ONE manifest read, of the latest committed version or of `at`,
    * which must be committed. Driver-side metadata, O(retained
    * versions).
    */
  def snapshot(spark: SparkSession, dir: String, at: Option[Long] = None): Snapshot = {
    val (fs, p) = fsOf(spark, dir)
    val vs =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toIndexedSeq
        .filter(_.isDirectory)
        .flatMap(s => s.getPath.getName match {
          case VersionName(id)
            if fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")) =>
              Some(id.toLong)
          case _ => None
        }).sorted
    at.foreach(v => require(vs.contains(v), s"version $v is not committed under $dir"))
    val v = at.orElse(vs.lastOption)
    Snapshot(dir, vs, v, v.map(readManifest(spark, dir, _)))
  }

  /** Committed version ids under `storeDir`, ascending. */
  def versions(spark: SparkSession, storeDir: String): Seq[Long] =
    snapshot(spark, storeDir).versions

  /** Latest committed version id, or None for an empty store. */
  def latestVersion(spark: SparkSession, storeDir: String): Option[Long] =
    snapshot(spark, storeDir).version

  /** The exactly-once INGEST watermark of the latest committed
    * version: the highest streaming batch id absorbed into the store.
    * Distinct from the version id — a maintenance commit
    * ([[purgeKeys]]) advances the version WITHOUT advancing the batch
    * watermark, so the stream's replay-skip logic keys on this, never
    * on the version id (against which a maintenance version would
    * read as "batch already applied" and silently swallow the next
    * real batch).
    */
  def latestBatch(spark: SparkSession, storeDir: String): Option[Long] =
    snapshot(spark, storeDir).batch

  /** A committed version's bucket map: the fixed bucket count, the
    * store schema as of that version, bucket -> owning version
    * ([[EmptyOwner]] marks a claimed-empty bucket), the ingest batch
    * watermark as of that version, and an optional single-line NOTE a
    * maintenance op attaches to make its two-store protocol
    * crash-recoverable ([[graft.streaming.StreamMatview.purgeView]]'s
    * intent record). Notes are NOT carried forward: each version
    * writes its own manifest, so the next ordinary commit clears it.
    */
  final case class Manifest(nBuckets: Int, schema: StructType,
                            owners: Map[Long, Long], batch: Long,
                            note: Option[String] = None)

  def readManifest(spark: SparkSession, storeDir: String, id: Long): Manifest = {
    val (fs, _) = fsOf(spark, storeDir)
    val p = new org.apache.hadoop.fs.Path(versionDir(storeDir, id), "manifest")
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toIndexedSeq
      finally in.close()
    val kv = lines.takeWhile(_.contains('=')).map { l =>
      val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
    }.toMap
    val owners = lines.dropWhile(_.contains('=')).filter(_.nonEmpty).map { l =>
      val Array(b, v) = l.split("\t", 2); b.toLong -> v.toLong
    }.toMap
    Manifest(kv("buckets").toInt,
      org.apache.spark.sql.types.DataType.fromJson(kv("schema"))
        .asInstanceOf[StructType],
      owners,
      // manifests written before the version/batch split carry no
      // batch key; there the two sequences were the same by
      // construction, so the version id IS the watermark
      kv.get("batch").map(_.toLong).getOrElse(id),
      kv.get("note"))
  }

  private def writeManifest(spark: SparkSession, storeDir: String, id: Long,
                            m: Manifest): Unit = {
    val (fs, _) = fsOf(spark, storeDir)
    val p = new org.apache.hadoop.fs.Path(versionDir(storeDir, id), "manifest")
    val out = fs.create(p, true)
    try {
      m.note.foreach(n => require(!n.contains('\n') && !n.contains('\r'),
        s"manifest note must be a single line: $n"))
      val txt = s"buckets=${m.nBuckets}\nbatch=${m.batch}\n" +
        m.note.map(n => s"note=$n\n").getOrElse("") +
        s"schema=${m.schema.json}\n" +
        m.owners.toSeq.sorted.map { case (b, v) => s"$b\t$v" }.mkString("\n")
      out.write(txt.getBytes("UTF-8"))
    } finally out.close()
  }

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Read the current store — all buckets, or `only` the named ones
    * (the touched-bucket subset a merge needs: a key can only match
    * rows in its own bucket, so the untouched 100 TB never enters the
    * plan at all). None for a store with no committed version; an
    * empty frame of the store schema when the selected buckets hold
    * no data.
    *
    * `at` pins the read to a specific committed version instead of
    * the latest — SNAPSHOT ISOLATION for long readers: a version
    * under any retained manifest is immutable (writers only add new
    * versions; [[vacuum]] never deletes a version a retained manifest
    * references), so a reader bound to `at` sees one consistent store
    * while the stream commits past it. Two caveats are inherent:
    * size `retain` above the longest reader, and [[purgeKeys]]
    * scrubs erased buckets out from under OLD manifests by design.
    */
  def read(spark: SparkSession, storeDir: String,
           only: Option[Set[Long]] = None,
           at: Option[Long] = None): Option[DataFrame] =
    read(spark, snapshot(spark, storeDir, at), only)

  /** [[read]] of the version `snap` resolved. */
  private[streaming] def read(spark: SparkSession, snap: Snapshot,
                              only: Option[Set[Long]]): Option[DataFrame] =
    snap.manifest.map { m =>
      val owners = only.fold(m.owners)(sel => m.owners.filter(kv => sel(kv._1)))
        .filter(_._2 != EmptyOwner) // claimed-empty buckets hold no data
      val paths = owners.toSeq.sorted.map { case (b, owner) =>
        s"${versionDir(snap.dir, owner)}/data/$BucketCol=$b"
      }
      if (paths.isEmpty) emptyOf(spark, m.schema)
      // read under the manifest's EXPLICIT schema: the parquet reader
      // null-fills columns a file lacks, so buckets written before an
      // additive evolution read back widened with zero extra work —
      // where option("mergeSchema") would re-read EVERY footer of
      // every bucket file on every call (measured 2-3x the whole
      // continuous-merge replay at fixture scale)
      else spark.read.schema(m.schema).parquet(paths: _*)
    }

  /** Bucket -> data directory of the current store version (the
    * maintenance surface: per-bucket compaction rewrites one of these
    * dirs in place).
    */
  def bucketPaths(spark: SparkSession, storeDir: String): Map[Long, String] =
    snapshot(spark, storeDir).committed.owners
      .filter(_._2 != EmptyOwner)
      .map { case (b, owner) =>
        b -> s"${versionDir(storeDir, owner)}/data/$BucketCol=$b"
      }

  /** Commit `df` as version `id`: write its rows partitioned by
    * `bucketOf(key)`, merge the bucket map (buckets actually written
    * take owner `id`, the rest keep their previous owner), then the
    * marker — [[stageVersion]] then [[publishVersion]]. `df` must hold
    * the COMPLETE new content of every bucket it touches — for a merge
    * that is `mergeBatch(touched-buckets read, batch)`. Deletes any
    * uncommitted leftover of `id` first (the replay-overwrite window).
    *
    * `batch` is the ingest watermark the manifest records (defaults
    * to `id` — the streaming case, where this version IS batch `id`);
    * a maintenance commit passes the PREVIOUS watermark so the
    * stream's replay-skip logic is unaffected. `claim` names buckets
    * this version owns even if `df` wrote no rows into them — a
    * purge that empties a bucket must not leave the stale copy as
    * owner; claimed-but-unwritten buckets are marked [[EmptyOwner]].
    */
  def writeVersion(df: DataFrame, storeDir: String, id: Long, key: Column,
                   nBuckets: Int, batch: Option[Long] = None,
                   claim: Set[Long] = Set.empty,
                   note: Option[String] = None): Unit =
    commit(df, snapshot(df.sparkSession, storeDir), id, key, nBuckets, batch, claim, note)

  /** [[writeVersion]] onto the store state `snap`; returns the version
    * published, as its id and manifest.
    */
  private[streaming] def commit(df: DataFrame, snap: Snapshot, id: Long, key: Column,
                                nBuckets: Int, batch: Option[Long] = None,
                                claim: Set[Long] = Set.empty,
                                note: Option[String] = None): (Long, Manifest) =
    publishVersion(df.sparkSession, snap.dir,
      stageVersion(df, snap, id, key, nBuckets, batch, claim, note))

  /** The first half of [[writeVersion]]: the data and the manifest of
    * version `id`, WITHOUT the marker — a staged version is invisible
    * to every reader, to [[versions]] and to [[vacuum]] until
    * [[publishVersion]] runs, and a replay that never publishes it
    * deletes it on its own stage (the leftover delete below). The
    * manifest carries the owners of `snap`'s manifest — the latest
    * COMMITTED version, resolved by the caller — so nothing may commit
    * to the store between the resolve and the publish (the one-writer
    * contract); re-staging that version itself (a re-seed of a
    * seed-only store) carries the committed version below it instead.
    * Returns `id` and the manifest written.
    *
    * `migrating = true` ([[rebucket]]'s migration commit) relaxes the
    * fixed-bucket-count invariant for ONE version and drops the
    * previous manifest's owners instead of merging them — old-count
    * bucket ids are meaningless under the new count, and carrying
    * them would make [[read]] double-read rows through stale entries.
    */
  private[graft] def stageVersion(df: DataFrame, snap: Snapshot, id: Long,
                                  key: Column, nBuckets: Int,
                                  batch: Option[Long] = None,
                                  claim: Set[Long] = Set.empty,
                                  note: Option[String] = None,
                                  migrating: Boolean = false): (Long, Manifest) = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be positive")
    val spark = df.sparkSession
    require(!df.columns.contains(BucketCol),
      s"column name $BucketCol is reserved by the bucket layout")
    val (fs, _) = fsOf(spark, snap.dir)
    // replay of an uncommitted attempt
    fs.delete(new org.apache.hadoop.fs.Path(versionDir(snap.dir, id)), true)
    val prev =
      if (!snap.version.contains(id)) snap.manifest
      else snap.versions.filter(_ < id).lastOption.map(readManifest(spark, snap.dir, _))
    if (!migrating)
      prev.foreach(m => require(m.nBuckets == nBuckets,
        s"store ${snap.dir} was created with ${m.nBuckets} buckets; a key's " +
          s"bucket must be stable across versions (got $nBuckets) — grow the " +
          "store through rebucket(), the one op allowed to move keys"))
    val dataDir = s"${versionDir(snap.dir, id)}/data"
    // repartition ON THE BUCKET before the partitioned write: without
    // it every upstream task splits its rows across every bucket dir
    // it touches — O(shuffle partitions × buckets) files per version,
    // whose footers every subsequent read then pays for (measured
    // 2-3x the continuous replay at fixture scale). One exchange of
    // the touched-bucket content buys one file per bucket per
    // version — the compact layout a table format's write bin-packing
    // produces, and the shape per-bucket maintenance compaction
    // ([[bucketPaths]]) wants to keep. The exchange is sized to the
    // BUCKET COUNT, not the session's shuffle partitions: buckets are
    // the only distinct keys, so any partition past nBuckets is
    // guaranteed empty — pure task overhead (an aggregate view store
    // has nBuckets = 1 and was paying a full shuffle fan-out per
    // trigger for one row of output).
    // nBuckets == 1 (every aggregate view store): coalesce instead of
    // repartition — a narrow merge of the final stage's partitions
    // into the single write task, no exchange stage at all
    val bucketed = df.withColumn(BucketCol, bucketOf(key, nBuckets))
    val arranged =
      if (nBuckets == 1) bucketed.coalesce(1)
      else bucketed.repartition(nBuckets, col(BucketCol))
    arranged.write.partitionBy(BucketCol).parquet(dataDir)
    val written = fs.listStatus(new org.apache.hadoop.fs.Path(dataDir))
      .toIndexedSeq.filter(_.isDirectory)
      .flatMap(s => BucketName.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toLong))
    val carried =
      if (migrating) Map.empty[Long, Long]
      else prev.map(_.owners).getOrElse(Map.empty[Long, Long])
    val owners = carried ++
      (claim -- written).map(_ -> EmptyOwner) ++
      written.map(_ -> id)
    val m = Manifest(nBuckets, df.schema, owners, batch.getOrElse(id), note)
    writeManifest(spark, snap.dir, id, m)
    id -> m
  }

  /** The second half of [[writeVersion]]: the `_SUCCESS` marker that
    * makes the `staged` version (id and manifest, as [[stageVersion]]
    * returned it) exist; returns `staged`. Refuses a version that was
    * never staged (no manifest), so a marker can never point at a
    * half-written dir.
    */
  private[graft] def publishVersion(spark: SparkSession, storeDir: String,
                                    staged: (Long, Manifest)): (Long, Manifest) = {
    val (fs, _) = fsOf(spark, storeDir)
    val vdir = new org.apache.hadoop.fs.Path(versionDir(storeDir, staged._1))
    require(fs.exists(new org.apache.hadoop.fs.Path(vdir, "manifest")),
      s"version ${staged._1} under $storeDir was never staged")
    fs.create(new org.apache.hadoop.fs.Path(vdir, "_SUCCESS"), true).close()
    staged
  }

  /** Drop version dirs that are neither among the newest `retain`
    * versions nor referenced by any of their manifests. A version
    * still OWNING buckets for a retained manifest survives however
    * old it is (deleting it would tear data out from under the
    * current store); a version fully superseded is garbage.
    */
  def vacuum(spark: SparkSession, storeDir: String, retain: Int): Unit =
    vacuum(spark, snapshot(spark, storeDir), retain)

  /** [[vacuum]] of the store `snap` resolved plus the versions the
    * operation has since published (`staged`, id -> manifest written):
    * no listing, and only the retained manifests neither holds are read.
    */
  private[streaming] def vacuum(spark: SparkSession, snap: Snapshot, retain: Int,
                                staged: (Long, Manifest)*): Unit = {
    val held = Map.from(snap.version.zip(snap.manifest)) ++ staged
    val vs = (snap.versions ++ staged.map(_._1)).distinct.sorted
    val retained = vs.takeRight(retain)
    val referenced = retained.toSet ++ retained.flatMap(v =>
      held.getOrElse(v, readManifest(spark, snap.dir, v)).owners.values.filter(_ != EmptyOwner))
    val (fs, _) = fsOf(spark, snap.dir)
    vs.filterNot(referenced).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(versionDir(snap.dir, v)), true)
    }
  }

  /** MIGRATE the store from its creation-time bucket count to
    * `newBuckets` — the store-growth maintenance op. Bucket count is
    * the write-amplification unit (see [[DefaultBuckets]]'s sizing
    * note): a store seeded small and grown 1000× eventually wants
    * thousands of buckets, and without this op the only way there is
    * an out-of-band full rewrite with no exactly-once story.
    *
    * Mechanics: ONE full-store hash re-exchange (inherent — a bucket
    *-count change moves almost every key) written as a maintenance
    * version under the standard commit discipline: same batch
    * watermark as the previous manifest (a stopped stream restarts
    * cleanly across the migration — neither skips nor trips the reset
    * guard), `_SUCCESS` last (a crash mid-rewrite leaves an invisible
    * partial dir; re-running deletes and redoes it), and the new
    * manifest owns EVERY written bucket itself, carrying none of the
    * old-count owner entries. Re-running after the commit is a no-op
    * (the manifest already reads `newBuckets`). Run with the stream
    * stopped — the one-writer contract; the NEXT trigger reads the
    * bucket count from the manifest ([[graft.streaming.StreamMerge
    * .applyBatch]]), so no caller re-configuration is needed.
    *
    * Cost: O(store) read + shuffle + write, ONCE, as scheduled
    * maintenance — amortized against every later trigger's
    * O(batch × store/B) staying useful as the store grows. Old
    * versions fall out through the normal [[vacuum]] path (`retain`
    * manifests keep serving pinned readers; after the migration the
    * new version owns every bucket, so fully-superseded versions age
    * out as usual).
    */
  def rebucket(spark: SparkSession, storeDir: String, keyCol: String,
               newBuckets: Int, retain: Int = 2): Unit = {
    require(newBuckets >= 1, s"newBuckets=$newBuckets must be positive")
    require(retain >= 1,
      s"retain=$retain: the vacuum must keep at least the version just written")
    val snap = snapshot(spark, storeDir)
    val m = snap.committed
    if (m.nBuckets == newBuckets) return // already migrated (crash re-run)
    val staged = stageVersion(read(spark, snap, None).get, snap, snap.next(m.batch),
      col(keyCol), newBuckets, batch = Some(m.batch), migrating = true)
    vacuum(spark, snap, retain, publishVersion(spark, storeDir, staged))
  }

  /** Every row readable from ANY parquet file anywhere under the
    * store dir — committed, superseded, or crashed-write leftover —
    * under the latest manifest's schema. The erasure probe
    * ([[purgeKeys]]'s gate and spec) has to scan BYTES, not
    * manifests: a manifest no longer referencing a key proves
    * nothing about what is still on disk. One implementation here,
    * next to the layout it walks, so the gate and the spec cannot
    * drift apart.
    */
  def allBytes(spark: SparkSession, storeDir: String): DataFrame = {
    val (fs, root) = fsOf(spark, storeDir)
    val files = scala.collection.mutable.ListBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) files += f.getPath.toString
    }
    val schema = snapshot(spark, storeDir).committed.schema
    if (files.isEmpty) emptyOf(spark, schema)
    else spark.read.schema(schema).parquet(files.toSeq: _*)
  }

  /** What [[purgeKeys]] did. `purgedRows` counts the keys' rows in the
    * CURRENT version's touched buckets only — the live rows (and
    * tombstones) the rewrite dropped; the same keys' rows inside
    * superseded bucket copies are erased by the scrub but NOT counted
    * (the scrub deletes whole dirs without reading them — counting
    * would mean scanning bytes the op exists to destroy), so on a
    * crash-replay re-run it reads 0 even though the replay re-scrubs.
    * `touchedBuckets` = buckets the key list hashed into (= buckets
    * rewritten); `scrubbedDirs` = superseded bucket-dir copies deleted
    * from other version dirs.
    */
  final case class PurgeStats(purgedRows: Long, touchedBuckets: Set[Long],
                              scrubbedDirs: Long)

  /** PHYSICALLY remove every row whose `keyCol` appears in `keys` from
    * the store — the right-to-be-forgotten maintenance op. A changelog
    * DELETE is the wrong tool for erasure: it retains a keyed
    * tombstone (by design — [[graft.ext.Changelog.mergeBatch]]'s
    * order-independence needs it) and leaves the key's old rows in
    * superseded bucket copies. This op removes all of it: live rows,
    * tombstones, and the stale copies.
    *
    * Mechanics: the key list hashes to its touched buckets (a key can
    * only live in its own bucket — the untouched store is never read,
    * same pruning as a merge), the touched buckets are rewritten
    * without the keys as a NEW COMMITTED VERSION claiming every
    * touched bucket (a bucket emptied entirely is claimed
    * [[EmptyOwner]], never left to its stale previous owner), and then
    * every OTHER version's copy of a touched bucket dir is scrubbed.
    * The commit is a maintenance version: it advances the version id
    * but carries the PREVIOUS ingest batch watermark, so a stopped
    * stream restarts cleanly afterwards (its next batch neither skips
    * nor trips the reset guard). Run it with the stream stopped — the
    * one-writer-per-store contract.
    *
    * Crash windows: below the version commit the partial dir is
    * invisible (standard [[writeVersion]] discipline); between the
    * commit and the scrub, re-running the purge completes the scrub
    * (the rewrite is idempotent — the keys are already gone). After
    * the purge, older manifests still NAME the scrubbed dirs, so
    * time-traveling a reader to a pre-purge version fails — inherent
    * to erasure, not a defect.
    *
    * 100 TB shape: cost is O(touched buckets) read+write + one
    * broadcast of the key list (guarded like
    * [[graft.ext.Changelog.mergeBatch]] — a list above
    * `maxBroadcastKeys` distinct keys fails loudly with "split the
    * forget list"), plus driver-side fs metadata for the scrub. A
    * forget list of any realistic size touches a bounded set of
    * buckets; the corpus never shuffles. The whole op is one
    * [[maintain]] scope around [[erase]]; its jobs carry `purge:
    * probe` and `purge: store commit`.
    *
    * DERIVED STATE: this op rewrites ONE store. A snapshot store with
    * a maintained aggregate ([[StreamMatview]]) must purge through
    * [[StreamMatview.purgeView]] instead — purging only the snapshot
    * leaves the erased keys' contributions in the view forever (and
    * derivable from it), and no watermark guard can notice. That op
    * runs the view commit and this same [[erase]] body in ONE scope:
    * one probe, one touched-bucket read for both stores.
    */
  def purgeKeys(spark: SparkSession, storeDir: String, keys: DataFrame,
                keyCol: String,
                maxBroadcastKeys: Long = 10000000L): PurgeStats = {
    val kdf = keys.select(col(keyCol).as("__pk")).distinct()
    val snap = snapshot(spark, storeDir)
    // the store exists (erase requires it), so its manifest's bucket
    // count wins over the default passed here
    maintain(snap, kdf, col("__pk"), DefaultBuckets, maxBroadcastKeys,
        "forget list", Some("purge: probe")) { (cur, touched, _) =>
      spark.sparkContext.setJobDescription("purge: store commit")
      erase(snap, cur, kdf, keyCol, touched)
    }
  }

  /** The one snapshot-erase body, run inside a [[maintain]] scope over
    * the distinct key list `kdf` (`__pk`): count the keys' rows in
    * `cur` (the touched buckets' pre-image, read from `snap`), commit
    * `cur` without them onto `snap` as the next version claiming every
    * `touched` bucket, then scrub the superseded copies — the one
    * listing of the root past the resolve, since the scrub must also
    * see uncommitted dirs. [[purgeKeys]] and the view-first
    * [[StreamMatview.purgeView]] both erase through it.
    */
  private[streaming] def erase(snap: Snapshot, cur: DataFrame, kdf: DataFrame,
                               keyCol: String, touched: Set[Long]): PurgeStats = {
    val spark = cur.sparkSession
    val m = snap.committed
    // null-safe (<=>): a null key is an ordinary key here, exactly
    // as it is in mergeBatch's anti/semi joins
    val purged = cur.join(broadcast(kdf), col(keyCol) <=> col("__pk"),
      "left_semi").count()
    val kept = cur.join(broadcast(kdf), col(keyCol) <=> col("__pk"),
      "left_anti")
    val (v, _) = commit(kept, snap, snap.next(m.batch), col(keyCol), m.nBuckets,
      batch = Some(m.batch), claim = touched)
    // scrub superseded copies of the touched buckets from EVERY
    // other version dir — committed or not (a crashed write's
    // leftover holds bytes too)
    val (fs, root) = fsOf(spark, snap.dir)
    var scrubbed = 0L
    fs.listStatus(root).foreach { s =>
      s.getPath.getName match {
        case VersionName(id) if s.isDirectory && id.toLong != v =>
          touched.foreach { b =>
            val bDir = new org.apache.hadoop.fs.Path(
              s.getPath, s"data/$BucketCol=$b")
            if (fs.exists(bDir)) { fs.delete(bDir, true); scrubbed += 1 }
          }
        case _ => ()
      }
    }
    PurgeStats(purged, touched, scrubbed)
  }
}
