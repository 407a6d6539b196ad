package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Changelog
import graft.streaming.{BucketStore, StreamIngest, StreamMerge}

/** The bucketed version store's 100 TB contract, pinned on files —
  * not just results: a microbatch must REWRITE ONLY THE BUCKETS ITS
  * KEYS TOUCH (the whole point of the layout; the flat predecessor
  * rewrote the entire store every trigger), while the settled store
  * stays hash-identical to the flat full-merge fold.
  */
class BucketStoreSpec extends SparkSpec {
  import spark.implicits._

  private def bucketDirs(storeDir: String, id: Long): Set[Long] = {
    val d = new java.io.File(s"$storeDir/v$id/data")
    if (!d.isDirectory) Set.empty
    else d.listFiles.toIndexedSeq.filter(_.isDirectory)
      .map(_.getName).collect { case s if s.startsWith("__b=") =>
        s.stripPrefix("__b=").toLong
      }.toSet
  }

  private def mergeBatchDf(keys: Seq[Long], name: String, seq: Long): DataFrame =
    keys.map(k => (k, s"$name-$k", "U", seq)).toDF("k", "name", "op", "seq")

  test("a 1-key merge batch rewrites exactly 1 bucket; the rest are carried by reference") {
    val storeDir = Files.createTempDirectory("graft_bks_store").toString
    val nb = 8
    // seed 100 keys — with B=8 every bucket is populated
    StreamMerge.seed(
      spark.range(0, 100).select(col("id").as("k"),
        concat(lit("seed-"), col("id")).as("name"),
        lit("U").as("op"), lit(-1L).as("seq")),
      storeDir, "k", nb)
    val seedBuckets = bucketDirs(storeDir, -1L)
    assert(seedBuckets == (0L until nb).toSet,
      s"seed should populate all $nb buckets, got $seedBuckets")

    StreamMerge.applyBatch(mergeBatchDf(Seq(7L), "b0", 0L), 0L, storeDir,
      "k", "op", Seq("seq"), retain = 2, nBuckets = nb)

    // THE pin: version 0's data dir holds exactly the one bucket key 7 hashes to
    val touched = bucketDirs(storeDir, 0L)
    assert(touched.size == 1, s"1-key batch rewrote ${touched.size} buckets: $touched")
    val expected = spark.range(1).select(
      pmod(xxhash64(lit(7L)), lit(nb.toLong))).as[Long].head()
    assert(touched == Set(expected))

    // manifest: the touched bucket is owned by v0, every other bucket
    // still points at the seed version — reference, not copy
    val m = BucketStore.readManifest(spark, storeDir, 0L)
    assert(m.owners(expected) == 0L)
    assert((m.owners - expected).values.toSet == Set(-1L),
      s"untouched buckets must keep the seed as owner: ${m.owners}")

    // and the served snapshot still reflects the merge
    val served = StreamMerge.snapshot(spark, storeDir, "op", Seq("seq"))
      .where(col("k") === 7L).select("name").as[String].collect().toSeq
    assert(served == Seq("b0-7"))
    assert(StreamMerge.snapshot(spark, storeDir, "op", Seq("seq")).count() == 100)
  }

  test("settled bucketed store equals the flat full-merge fold, tombstones included") {
    val storeDir = Files.createTempDirectory("graft_bkf_store").toString
    val batches = Seq(
      Seq((1L, "a", "U", 0L), (2L, "b", "U", 0L), (9L, "x", "U", 0L)),
      Seq((1L, "a2", "U", 1L), (3L, "c", "U", 1L)),
      Seq((2L, "", "D", 2L), (4L, "d", "U", 2L)))
    def df(rows: Seq[(Long, String, String, Long)]) =
      rows.toDF("k", "name", "op", "seq")
    batches.zipWithIndex.foreach { case (rows, i) =>
      StreamMerge.applyBatch(df(rows), i.toLong, storeDir, "k", "op", Seq("seq"),
        retain = 2, nBuckets = 4)
    }
    // flat oracle: the same fold without any bucketing
    val flat = batches.map(df).foldLeft(df(Seq.empty[(Long, String, String, Long)])) {
      (store, b) => Changelog.mergeBatch(store, b, "k", "op", Seq("seq"))
    }
    val got = StreamMerge.readStore(spark, storeDir).get
      .select("k", "name", "op", "seq").as[(Long, String, String, Long)]
      .collect().toSeq.sorted
    val want = flat.select("k", "name", "op", "seq")
      .as[(Long, String, String, Long)].collect().toSeq.sorted
    assert(got == want, s"bucketed fold diverged from flat fold:\n$got\nvs\n$want")
    assert(got.exists(_._3 == "D"), "tombstone missing from settled store")
  }

  test("vacuum never deletes a version that still owns buckets for a retained manifest") {
    val storeDir = Files.createTempDirectory("graft_bkv_store").toString
    val nb = 8
    StreamMerge.seed(
      spark.range(0, 100).select(col("id").as("k"), lit("s").as("name"),
        lit("U").as("op"), lit(-1L).as("seq")),
      storeDir, "k", nb)
    // 5 batches all touching the SAME key → same single bucket;
    // retain=2 means v0..v2's bucket data is fully superseded
    (0 to 4).foreach { i =>
      StreamMerge.applyBatch(mergeBatchDf(Seq(7L), s"b$i", i.toLong), i.toLong,
        storeDir, "k", "op", Seq("seq"), retain = 2, nBuckets = nb)
    }
    val left = BucketStore.versions(spark, storeDir)
    // seed still owns the 7 untouched buckets for v3/v4's manifests —
    // it must survive any retain; v0..v2 own nothing a retained
    // manifest references and must be gone
    assert(left.contains(-1L), s"seed version vacuumed out from under the store: $left")
    assert(left.toSet.intersect(Set(0L, 1L, 2L)).isEmpty,
      s"fully superseded versions not vacuumed: $left")
    assert(left.toSet.contains(4L))
    // and the store still reads whole: all 100 keys, key 7 at its last write
    val snap = StreamMerge.snapshot(spark, storeDir, "op", Seq("seq"))
    assert(snap.count() == 100)
    assert(snap.where(col("k") === 7L).select("name").as[String].head() == "b4-7")
  }

  test("a 1-new-doc ingest batch rewrites exactly 1 fingerprint bucket") {
    val storeDir = Files.createTempDirectory("graft_bki_store").toString
    val nb = 8
    StreamIngest.seed(
      spark.range(0, 200).select(concat(lit("doc "), col("id")).as("text")),
      "text", storeDir, nb)
    assert(bucketDirs(storeDir, -1L) == (0L until nb).toSet)
    StreamIngest.applyBatch(
      Seq((9999L, "a brand new doc")).toDF("doc_id", "text"),
      0L, storeDir, "doc_id", "text", retain = 2, nBuckets = nb)
    val touched = bucketDirs(storeDir, 0L)
    assert(touched.size == 1,
      s"1-doc ingest batch rewrote ${touched.size} buckets: $touched")
    // a duplicate-only batch still commits a version (exactly-once
    // bookkeeping) but accepts nothing new into the corpus
    StreamIngest.applyBatch(
      Seq((10000L, "a brand new doc"), (10001L, "doc 3")).toDF("doc_id", "text"),
      1L, storeDir, "doc_id", "text", retain = 2, nBuckets = nb)
    assert(StreamIngest.corpus(spark, storeDir).count() == 1)
  }

  test("bucket count is fixed for the store's lifetime; reserved column name refused") {
    val storeDir = Files.createTempDirectory("graft_bkc_store").toString
    StreamMerge.seed(mergeBatchDf(Seq(1L), "s", -1L), storeDir, "k", nBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      BucketStore.writeVersion(mergeBatchDf(Seq(2L), "x", 0L), storeDir, 0L,
        col("k"), nBuckets = 8)
    }
    assert(e.getMessage.contains("buckets"), e.getMessage)
    // applyBatch must adopt the STORE's count, not the parameter —
    // a key's bucket may never move across versions
    StreamMerge.applyBatch(mergeBatchDf(Seq(2L), "x", 0L), 0L, storeDir,
      "k", "op", Seq("seq"), retain = 2, nBuckets = 16)
    assert(BucketStore.readManifest(spark, storeDir, 0L).nBuckets == 4)
    intercept[IllegalArgumentException] {
      BucketStore.writeVersion(
        Seq((1L, 0L)).toDF("k", "__b"), storeDir, 1L, col("k"), 4)
    }
  }

  test("additive schema evolution: buckets written before the new column read back null-backfilled") {
    val storeDir = Files.createTempDirectory("graft_bke_store").toString
    val nb = 4
    StreamMerge.seed(
      spark.range(0, 50).select(col("id").as("k"), lit("s").as("name"),
        lit("U").as("op"), lit(-1L).as("seq")),
      storeDir, "k", nb)
    // batch adds a column; it touches ONE bucket — the other buckets'
    // files still carry the narrow schema on disk
    StreamMerge.applyBatch(
      Seq((7L, "b", "en", "U", 0L)).toDF("k", "name", "lang", "op", "seq"),
      0L, storeDir, "k", "op", Seq("seq"), retain = 2, nBuckets = nb)
    val m = BucketStore.readManifest(spark, storeDir, 0L)
    assert(m.schema.fieldNames.contains("lang"),
      s"manifest schema did not adopt the widened shape: ${m.schema.simpleString}")
    val store = StreamMerge.readStore(spark, storeDir).get
    assert(store.columns.toSeq == m.schema.fieldNames.toSeq)
    assert(store.count() == 50)
    assert(store.where(col("k") === 7L).select("lang").as[String].head() == "en")
    assert(store.where(col("k") =!= 7L && col("lang").isNotNull).count() == 0,
      "old buckets must read back with lang null-backfilled")
  }

  /** The erasure probe is [[BucketStore.allBytes]] itself — the same
    * implementation the gated rows use, so the spec and the gate
    * cannot drift on what "every file under the store" means.
    */
  private def allBytes(storeDir: String): DataFrame =
    BucketStore.allBytes(spark, storeDir)

  test("purgeKeys erases every trace: live rows, tombstones, and superseded copies") {
    val storeDir = Files.createTempDirectory("graft_bkp_store").toString
    val nb = 8
    StreamMerge.seed(
      spark.range(0, 100).select(col("id").as("k"),
        concat(lit("seed-"), col("id")).as("name"),
        lit("U").as("op"), lit(-1L).as("seq")),
      storeDir, "k", nb)
    // batch 0: update key 7, tombstone key 9 — so the purge set spans
    // a live updated key, a tombstoned key, and an untouched key (13)
    StreamMerge.applyBatch(
      Seq((7L, "b0-7", "U", 0L), (9L, "", "D", 0L)).toDF("k", "name", "op", "seq"),
      0L, storeDir, "k", "op", Seq("seq"), retain = 10, nBuckets = nb)
    // retain=10 keeps the seed's superseded copies of the touched
    // buckets on disk — exactly the residue the purge must scrub
    assert(allBytes(storeDir).where(col("k").isin(7L, 9L)).count() >= 4,
      "fixture should hold superseded copies before the purge")

    val stats = BucketStore.purgeKeys(spark, storeDir,
      Seq(7L, 9L, 13L).toDF("k"), "k")
    assert(stats.purgedRows == 3, s"current-version rows purged: $stats")

    val snap = StreamMerge.snapshot(spark, storeDir, "op", Seq("seq"))
    assert(snap.count() == 97)
    assert(snap.where(col("k").isin(7L, 9L, 13L)).count() == 0)
    // THE erasure pin: no file anywhere under the store still holds
    // the keys — not as live rows, not as tombstones, not in
    // superseded bucket copies of older versions
    assert(allBytes(storeDir).where(col("k").isin(7L, 9L, 13L)).count() == 0,
      "purged keys still present in store bytes")
    // re-running the purge (the crash-between-commit-and-scrub
    // replay) is a no-op that still succeeds
    val again = BucketStore.purgeKeys(spark, storeDir,
      Seq(7L, 9L, 13L).toDF("k"), "k")
    assert(again.purgedRows == 0)
    assert(StreamMerge.snapshot(spark, storeDir, "op", Seq("seq")).count() == 97)
  }

  test("a purge that empties a bucket claims it empty instead of leaving the stale owner") {
    val storeDir = Files.createTempDirectory("graft_bkpe_store").toString
    val nb = 2
    StreamMerge.seed(
      spark.range(0, 10).select(col("id").as("k"), lit("s").as("name"),
        lit("U").as("op"), lit(-1L).as("seq")),
      storeDir, "k", nb)
    // purge every key of bucket 0 — the rewritten relation writes no
    // rows there, so the manifest must claim it empty explicitly
    val b0 = spark.range(0, 10)
      .where(pmod(xxhash64(col("id")), lit(nb.toLong)) === 0L)
      .select(col("id").as("k"))
    val n0 = b0.count()
    assert(n0 > 0, "fixture needs at least one key in bucket 0")
    val stats = BucketStore.purgeKeys(spark, storeDir, b0, "k")
    assert(stats.purgedRows == n0)
    val snap = StreamMerge.snapshot(spark, storeDir, "op", Seq("seq"))
    assert(snap.count() == 10 - n0)
    assert(allBytes(storeDir).join(b0, Seq("k"), "left_semi").count() == 0)
  }

  test("a reader pinned at a version sees a consistent store while writes advance past it") {
    val storeDir = Files.createTempDirectory("graft_bksi_store").toString
    val nb = 4
    StreamMerge.seed(
      spark.range(0, 50).select(col("id").as("k"), lit("s").as("name"),
        lit("U").as("op"), lit(-1L).as("seq")),
      storeDir, "k", nb)
    StreamMerge.applyBatch(mergeBatchDf(Seq(3L), "b0", 0L), 0L, storeDir,
      "k", "op", Seq("seq"), retain = 2, nBuckets = nb)
    val pinned = BucketStore.latestVersion(spark, storeDir).get
    // writer advances: key 3 rewritten again, key 4 tombstoned
    StreamMerge.applyBatch(
      Seq((3L, "b1-3", "U", 1L), (4L, "", "D", 1L)).toDF("k", "name", "op", "seq"),
      1L, storeDir, "k", "op", Seq("seq"), retain = 2, nBuckets = nb)
    val old = BucketStore.read(spark, storeDir, at = Some(pinned)).get
    assert(old.where(col("k") === 3L).select("name").as[String].head() == "b0-3")
    assert(old.where(col("k") === 4L && col("op") === "U").count() == 1,
      "pinned reader must not see the later tombstone")
    val cur = BucketStore.read(spark, storeDir).get
    assert(cur.where(col("k") === 3L).select("name").as[String].head() == "b1-3")
    assert(cur.where(col("k") === 4L).select("op").as[String].head() == "D")
    intercept[IllegalArgumentException] {
      BucketStore.read(spark, storeDir, at = Some(999L))
    }
  }

  test("purging a matview-managed store through StreamMatview keeps the view consistent") {
    import graft.ext.Changelog
    import graft.streaming.StreamMatview
    val storeDir = Files.createTempDirectory("graft_bkmvp_store").toString
    val aggDir = Files.createTempDirectory("graft_bkmvp_agg").toString
    StreamMatview.seed(spark.range(0, 30).select(
      col("id").as("k"), concat(lit("seg"), col("id") % 3).as("seg"),
      (col("id") * 10).as("cents"), lit("U").as("op"), lit(-1L).as("seq")),
      storeDir, aggDir, "k", "op", Seq("seg"), "cents")
    StreamMatview.applyBatch(
      Seq((3L, "seg0", 999L, "U", 0L), (7L, "seg1", 0L, "D", 0L))
        .toDF("k", "seg", "cents", "op", "seq"),
      0L, storeDir, aggDir, "k", "op", Seq("seq"), Seq("seg"), "cents")
    def canonView = StreamMatview.viewSnapshot(spark, aggDir)
      .select("seg", "n", "sum").as[(String, Long, Long)].collect().toSeq.sorted
    def canonRecompute = Changelog.aggSnapshot(
        StreamMerge.readStore(spark, storeDir).get, "op", Seq("seg"), "cents")
      .select("seg", "n", "sum").as[(String, Long, Long)].collect().toSeq.sorted
    assert(canonView == canonRecompute)
    // the erasure: purge keys 3 (just updated) and 12 through the
    // matview-aware op — the view must drop their contributions, the
    // bytes must be gone, and the batch watermarks must hold so the
    // stream resumes
    val stats = StreamMatview.purgeKeys(spark, storeDir, aggDir,
      Seq(3L, 12L).toDF("k"), "k", "op", Seq("seg"), "cents")
    assert(stats.purgedRows == 2)
    assert(canonView == canonRecompute,
      "view diverged from the recompute after the purge")
    assert(canonView.map(_._3).sum ==
      (0L until 30L).filterNot(Seq(3L, 7L, 12L).contains).map(_ * 10).sum)
    assert(allBytes(storeDir).where(col("k").isin(3L, 12L)).count() == 0)
    // stream resumes: batch 1 applies to both stores
    StreamMatview.applyBatch(
      Seq((12L, "seg0", 5L, "U", 1L)).toDF("k", "seg", "cents", "op", "seq"),
      1L, storeDir, aggDir, "k", "op", Seq("seq"), Seq("seg"), "cents")
    assert(canonView == canonRecompute)
    assert(StreamMerge.snapshot(spark, storeDir, "op", Seq("seq"))
      .where(col("k") === 12L).select("cents").as[Long].head() == 5L)
  }

  test("rebucket migrates the store B->B': contents equal, writes re-prune at the new count, rerun no-ops") {
    val storeDir = Files.createTempDirectory("graft_bkrb_store").toString
    StreamMerge.seed(
      spark.range(0, 100).select(col("id").as("k"),
        concat(lit("seed-"), col("id")).as("name"),
        lit("U").as("op"), lit(-1L).as("seq")),
      storeDir, "k", nBuckets = 4)
    StreamMerge.applyBatch(mergeBatchDf(Seq(3L, 7L), "b0", 0L), 0L, storeDir,
      "k", "op", Seq("seq"), retain = 2, nBuckets = 4)
    def canon = BucketStore.read(spark, storeDir).get
      .select("k", "name", "op", "seq").as[(Long, String, String, Long)]
      .collect().toSeq.sorted
    val before = canon
    val wmBefore = BucketStore.latestBatch(spark, storeDir)

    BucketStore.rebucket(spark, storeDir, "k", newBuckets = 8)
    val v = BucketStore.latestVersion(spark, storeDir).get
    val m = BucketStore.readManifest(spark, storeDir, v)
    assert(m.nBuckets == 8, "manifest must carry the migrated bucket count")
    assert(canon == before, "contents must be hash-equal across the migration")
    assert(BucketStore.latestBatch(spark, storeDir) == wmBefore,
      "a migration is a maintenance commit: the ingest watermark must hold")
    assert(m.owners.values.toSet == Set(v),
      "the migration version must own every bucket itself — carried " +
        "old-count owner entries would double-read rows")
    assert(m.owners.keySet.forall(b => b >= 0 && b < 8))

    // rerun (the crash-after-commit replay) is a no-op: no new version
    BucketStore.rebucket(spark, storeDir, "k", newBuckets = 8)
    assert(BucketStore.latestVersion(spark, storeDir).contains(v))

    // the stream resumes at the NEW count: a 1-key batch rewrites
    // exactly the one bucket its key hashes to under B'=8
    StreamMerge.applyBatch(mergeBatchDf(Seq(42L), "b1", 1L), 1L, storeDir,
      "k", "op", Seq("seq"), retain = 2, nBuckets = 4 /* manifest wins */)
    val v2 = BucketStore.latestVersion(spark, storeDir).get
    assert(BucketStore.readManifest(spark, storeDir, v2).nBuckets == 8)
    val expect = spark.range(42, 43)
      .select(pmod(xxhash64(col("id")), lit(8L))).as[Long].head()
    assert(bucketDirs(storeDir, v2) == Set(expect),
      "post-migration writes must prune at the migrated count")
    assert(BucketStore.read(spark, storeDir).get
      .where(col("k") === 42L).select("name").as[String].head() == "b1-42")
  }

  test("a matview-managed snapshot store survives a rebucket: the view keeps folding at the migrated count") {
    import graft.ext.Changelog
    import graft.streaming.StreamMatview
    val storeDir = Files.createTempDirectory("graft_bkmvrb_store").toString
    val aggDir = Files.createTempDirectory("graft_bkmvrb_agg").toString
    StreamMatview.seed(spark.range(0, 40).select(
      col("id").as("k"), concat(lit("seg"), col("id") % 2).as("seg"),
      (col("id") * 10).as("cents"), lit("U").as("op"), lit(-1L).as("seq")),
      storeDir, aggDir, "k", "op", Seq("seg"), "cents")
    StreamMatview.applyBatch(
      Seq((3L, "seg0", 999L, "U", 0L)).toDF("k", "seg", "cents", "op", "seq"),
      0L, storeDir, aggDir, "k", "op", Seq("seq"), Seq("seg"), "cents")
    // maintenance: only the SNAPSHOT store migrates (the view store is
    // dim-sized, 1 bucket forever); the next trigger must probe and
    // fold at the migrated count with no caller reconfiguration
    BucketStore.rebucket(spark, storeDir, "k", newBuckets = 32)
    StreamMatview.applyBatch(
      Seq((7L, "seg1", 0L, "D", 1L), (41L, "seg0", 5L, "U", 1L))
        .toDF("k", "seg", "cents", "op", "seq"),
      1L, storeDir, aggDir, "k", "op", Seq("seq"), Seq("seg"), "cents")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("seg", "n", "sum").as[(String, Long, Long)]
        .collect().toSeq.sorted
    assert(canon(StreamMatview.viewSnapshot(spark, aggDir)) ==
      canon(Changelog.aggSnapshot(
        StreamMerge.readStore(spark, storeDir).get, "op", Seq("seg"), "cents")),
      "view diverged from the recompute across the snapshot migration")
    val v = BucketStore.latestVersion(spark, storeDir).get
    assert(BucketStore.readManifest(spark, storeDir, v).nBuckets == 32)
  }

  test("minmax matview: folds track the recompute across boundary retractions, and erasure rebuilds consistently") {
    import graft.ext.Changelog
    import graft.streaming.StreamMatview
    val storeDir = Files.createTempDirectory("graft_bkmm_store").toString
    val aggDir = Files.createTempDirectory("graft_bkmm_agg").toString
    StreamMatview.seedMinMax(spark.range(0, 30).select(
      col("id").as("k"), concat(lit("seg"), col("id") % 3).as("seg"),
      (col("id") * 10).as("cents"), lit("U").as("op"), lit(-1L).as("seq")),
      storeDir, aggDir, "k", "op", Seq("seg"), "cents")
    def canonView = StreamMatview.viewSnapshot(spark, aggDir)
      .select("seg", "n", "sum", "min", "max")
      .as[(String, Long, Long, Option[Long], Option[Long])]
      .collect().toSeq.sorted
    def canonRecompute = Changelog.aggSnapshotMinMax(
        StreamMerge.readStore(spark, storeDir).get, "op", Seq("seg"), "cents")
      .select("seg", "n", "sum", "min", "max")
      .as[(String, Long, Long, Option[Long], Option[Long])]
      .collect().toSeq.sorted
    assert(canonView == canonRecompute)
    // batch 0 deletes seg0's max holder (k=27, 270) — the boundary
    // retraction must recompute seg0 from the FULL store, not just
    // the touched buckets
    StreamMatview.applyBatchMinMax(
      Seq((27L, "seg0", 0L, "D", 0L), (31L, "seg1", 999L, "U", 0L))
        .toDF("k", "seg", "cents", "op", "seq"),
      0L, storeDir, aggDir, "k", "op", Seq("seq"), Seq("seg"), "cents")
    assert(canonView == canonRecompute,
      "minmax fold diverged from the recompute after a boundary retraction")
    assert(canonView.find(_._1 == "seg0").get._5 == Some(240L),
      "seg0's max must retract 270 -> 240")
    assert(canonView.find(_._1 == "seg1").get._5 == Some(999L))
    // erasure: purge the new max holder; the rebuild must retract it
    val stats = StreamMatview.purgeKeysMinMax(spark, storeDir, aggDir,
      Seq(31L).toDF("k"), "k", "op", Seq("seg"), "cents")
    assert(stats.purgedRows == 1)
    assert(canonView == canonRecompute,
      "minmax view diverged after the erasure rebuild")
    assert(canonView.find(_._1 == "seg1").get._5 == Some(280L))
    assert(allBytes(storeDir).where(col("k") === 31L).count() == 0)
    // the stream resumes cleanly after the maintenance version
    StreamMatview.applyBatchMinMax(
      Seq((5L, "seg2", 1L, "U", 1L)).toDF("k", "seg", "cents", "op", "seq"),
      1L, storeDir, aggDir, "k", "op", Seq("seq"), Seq("seg"), "cents")
    assert(canonView == canonRecompute)
    assert(canonView.find(_._1 == "seg2").get._4 == Some(1L),
      "seg2's min must adopt the post-purge update")
  }

  test("a batch that empties the view commits claimed-empty, never the stale pre-batch aggregate") {
    import graft.streaming.StreamMatview
    val storeDir = Files.createTempDirectory("graft_bkmve_store").toString
    val aggDir = Files.createTempDirectory("graft_bkmve_agg").toString
    StreamMatview.seed(
      Seq((1L, "seg0", 10L, "U", -1L), (2L, "seg1", 20L, "U", -1L))
        .toDF("k", "seg", "cents", "op", "seq"),
      storeDir, aggDir, "k", "op", Seq("seg"), "cents")
    // the batch tombstones EVERY live key: every dim's n reaches 0, so
    // the merged aggregate writes no rows — the commit must CLAIM the
    // bucket (EmptyOwner) or the manifest keeps the seed version as
    // owner and viewSnapshot silently serves the stale seed aggregate
    StreamMatview.applyBatch(
      Seq((1L, "seg0", 0L, "D", 0L), (2L, "seg1", 0L, "D", 0L))
        .toDF("k", "seg", "cents", "op", "seq"),
      0L, storeDir, aggDir, "k", "op", Seq("seq"), Seq("seg"), "cents")
    assert(StreamMatview.viewSnapshot(spark, aggDir).count() == 0,
      "emptied view must read empty, not the stale pre-batch aggregate")
    // and the fold continues correctly from the claimed-empty state
    StreamMatview.applyBatch(
      Seq((9L, "seg2", 7L, "U", 1L)).toDF("k", "seg", "cents", "op", "seq"),
      1L, storeDir, aggDir, "k", "op", Seq("seq"), Seq("seg"), "cents")
    assert(StreamMatview.viewSnapshot(spark, aggDir)
      .select("seg", "n", "sum").as[(String, Long, Long)].collect().toSeq ==
      Seq(("seg2", 1L, 7L)))
  }

  test("a seeded snapshot with an unseeded view fails loudly instead of folding from zero") {
    import graft.streaming.StreamMatview
    val storeDir = Files.createTempDirectory("graft_bkmvs_store").toString
    val aggDir = Files.createTempDirectory("graft_bkmvs_agg").toString
    // the snapshot store is seeded OUTSIDE StreamMatview.seed — the
    // view store has no version, and the empty-view fallback would
    // permanently miss the seed's contributions
    StreamMerge.seed(
      Seq((1L, "seg0", 10L, "U", -1L)).toDF("k", "seg", "cents", "op", "seq"),
      storeDir, "k")
    val e = intercept[IllegalArgumentException] {
      StreamMatview.applyBatch(
        Seq((2L, "seg0", 5L, "U", 0L)).toDF("k", "seg", "cents", "op", "seq"),
        0L, storeDir, aggDir, "k", "op", Seq("seq"), Seq("seg"), "cents")
    }
    assert(e.getMessage.contains("StreamMatview.seed"))
  }

  test("purge is a maintenance commit: the batch watermark holds and the stream resumes") {
    val storeDir = Files.createTempDirectory("graft_bkpw_store").toString
    val nb = 4
    StreamMerge.seed(
      spark.range(0, 20).select(col("id").as("k"), lit("s").as("name"),
        lit("U").as("op"), lit(-1L).as("seq")),
      storeDir, "k", nb)
    StreamMerge.applyBatch(mergeBatchDf(Seq(3L), "b0", 0L), 0L, storeDir,
      "k", "op", Seq("seq"), retain = 2, nBuckets = nb)
    BucketStore.purgeKeys(spark, storeDir, Seq(5L).toDF("k"), "k")
    // the purge advanced the VERSION but not the batch watermark:
    // batch 1 must apply normally — neither skipped ("already
    // applied") nor rejected by the reset guard
    assert(BucketStore.latestBatch(spark, storeDir).contains(0L))
    StreamMerge.applyBatch(mergeBatchDf(Seq(6L), "b1", 1L), 1L, storeDir,
      "k", "op", Seq("seq"), retain = 2, nBuckets = nb)
    assert(BucketStore.latestBatch(spark, storeDir).contains(1L))
    val snap = StreamMerge.snapshot(spark, storeDir, "op", Seq("seq"))
    assert(snap.where(col("k") === 6L).select("name").as[String].head() == "b1-6")
    assert(snap.where(col("k") === 5L).count() == 0)
    assert(snap.count() == 19)
    // and a true replay of batch 1 still skips
    StreamMerge.applyBatch(mergeBatchDf(Seq(6L), "GHOST", 1L), 1L, storeDir,
      "k", "op", Seq("seq"), retain = 2, nBuckets = nb)
    assert(StreamMerge.snapshot(spark, storeDir, "op", Seq("seq"))
      .where(col("k") === 6L).select("name").as[String].head() == "b1-6")
  }

  /** One maintained-view flavour behind a common face: its fold, its
    * seed, its trigger, its purge, its job-label tag, and its served
    * view and recompute as sorted rows.
    */
  private final case class Flavour(name: String, tag: String,
                                   fold: Changelog.ViewFold,
                                   seed: (DataFrame, String, String) => Unit,
                                   apply: (DataFrame, Long, String, String) => Unit,
                                   purge: (String, String, DataFrame) => BucketStore.PurgeStats,
                                   view: String => Seq[String],
                                   recompute: String => Seq[String])

  private def rows(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted

  private lazy val flavours: Seq[Flavour] = {
    import graft.streaming.StreamMatview
    val mm = Seq("seg", "n", "sum", "min", "max")
    def store(dir: String) = StreamMerge.readStore(spark, dir).get
    Seq(
      Flavour("count/sum", "matview",
        Changelog.CountSum("op", Seq("seg"), "cents"),
        (s, st, ag) => StreamMatview.seed(s, st, ag, "k", "op", Seq("seg"), "cents"),
        (b, id, st, ag) => StreamMatview.applyBatch(b, id, st, ag, "k", "op",
          Seq("seq"), Seq("seg"), "cents"),
        (st, ag, keys) => StreamMatview.purgeKeys(spark, st, ag, keys, "k", "op",
          Seq("seg"), "cents"),
        ag => rows(StreamMatview.viewSnapshot(spark, ag), "seg", "n", "sum"),
        st => rows(Changelog.aggSnapshot(store(st), "op", Seq("seg"), "cents"),
          "seg", "n", "sum")),
      Flavour("min/max", "matview-minmax",
        Changelog.MinMax("op", Seq("seg"), "cents"),
        (s, st, ag) => StreamMatview.seedMinMax(s, st, ag, "k", "op", Seq("seg"), "cents"),
        (b, id, st, ag) => StreamMatview.applyBatchMinMax(b, id, st, ag, "k", "op",
          Seq("seq"), Seq("seg"), "cents"),
        (st, ag, keys) => StreamMatview.purgeKeysMinMax(spark, st, ag, keys, "k",
          "op", Seq("seg"), "cents"),
        ag => rows(StreamMatview.viewSnapshot(spark, ag), mm: _*),
        st => rows(Changelog.aggSnapshotMinMax(store(st), "op", Seq("seg"), "cents"),
          mm: _*)),
      Flavour("sketch", "matview-sketch",
        Changelog.Sketch("op", Seq("seg"), "cents", k = 4),
        (s, st, ag) => StreamMatview.seedSketch(s, st, ag, "k", "op", Seq("seg"),
          "cents", k = 4),
        (b, id, st, ag) => StreamMatview.applyBatchSketch(b, id, st, ag, "k", "op",
          Seq("seq"), Seq("seg"), "cents", k = 4),
        (st, ag, keys) => StreamMatview.purgeKeysSketch(spark, st, ag, keys, "k",
          "op", Seq("seg"), "cents", k = 4),
        ag => rows(StreamMatview.viewSnapshotServed(spark, ag), mm: _*),
        st => rows(Changelog.aggSnapshotMinMax(store(st), "op", Seq("seg"), "cents"),
          mm: _*)))
  }

  flavours.foreach { f =>
    test(s"${f.name} view purge: the view half reads only the touched buckets; its crash window blocks ordinary commits and redoes only the snapshot") {
      import scala.jdk.CollectionConverters._
      import graft.streaming.StreamMatview
      val st = CrashFs.dir(spark, "graft_purge_store")
      val ag = CrashFs.dir(spark, "graft_purge_agg")
      // 64 keys, seg = k % 4, cents = 10k: seg1 holds 10, 50, 90, 130, ...
      f.seed(spark.range(0, 64).select(
        col("id").as("k"), concat(lit("seg"), col("id") % 4).as("seg"),
        (col("id") * 10).as("cents"), lit("U").as("op"), lit(-1L).as("seq")),
        st, ag)
      def batch0 = Seq((200L, "seg0", 5L, "U", 0L)).toDF("k", "seg", "cents", "op", "seq")

      // CRASH WINDOW: the view half commits (with the intent note), the
      // snapshot purge never runs. Keys 5 and 9 (seg1's 50 and 90) tie
      // no bound and pop from inside the k=4 sketch, so the view half
      // must read exactly the buckets the key list hashes into
      val keys = Seq(5L, 9L).toDF("k")
      val touched = BucketStore.touchedBuckets(keys, col("k"), BucketStore.DefaultBuckets)
      assert(touched.size < BucketStore.DefaultBuckets,
        "fixture degenerate: the key list touched every bucket — the pin is vacuous")
      CrashFs.opened.clear()
      StreamMatview.purgeViewCommit(spark, st, ag, keys, "k", f.fold)
      val bucketsRead = CrashFs.opened.asScala.toSet
        .filter(p => CrashFs.under(st)(new org.apache.hadoop.fs.Path(p)))
        .flatMap(p => "__b=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toLong))
      assert(bucketsRead == touched,
        s"${f.name}: the purge's view half read buckets $bucketsRead, touched were $touched")
      assert(StreamMerge.readStore(spark, st).get
        .where(col("k").isin(5L, 9L)).count() == 2,
        "crash-window precondition: the snapshot still holds the keys")
      // an ordinary view commit must REFUSE — it would erase the intent
      // note and the half-applied purge would never complete
      val eb = intercept[IllegalArgumentException](f.apply(batch0, 0L, st, ag))
      assert(eb.getMessage.contains("incomplete purge intent"))
      // a DIFFERENT purge must refuse too
      val ep = intercept[IllegalArgumentException](f.purge(st, ag, Seq(14L).toDF("k")))
      assert(ep.getMessage.contains("DIFFERENT key list"))
      // re-running the SAME purge redoes only the snapshot half
      val viewVersions = BucketStore.versions(spark, ag)
      assert(f.purge(st, ag, keys).purgedRows == 2)
      assert(BucketStore.versions(spark, ag) == viewVersions,
        "the re-run re-committed the view instead of redoing only the snapshot")
      assert(f.view(ag) == f.recompute(st),
        s"${f.name}: view diverged after the crash-window re-run (double subtract?)")
      // every file under the store, read through the plain local path
      assert(allBytes(new org.apache.hadoop.fs.Path(st).toUri.getPath)
        .where(col("k").isin(5L, 9L)).count() == 0)

      // a purge that retracts bounds: seg1's min holder (k=1) and seg0's
      // max holder (k=60); with k=13 it also empties seg1's min sketch
      // (10 and 130 were its last tracked values), so the sketch drains
      // and rebuilds from the survivors
      f.purge(st, ag, Seq(1L, 13L, 60L).toDF("k"))
      assert(f.view(ag) == f.recompute(st),
        s"${f.name}: view diverged after a boundary-retracting purge")
      // the intent is satisfied: ordinary maintenance resumes
      f.apply(batch0, 0L, st, ag)
      assert(f.view(ag) == f.recompute(st))
    }
  }

  private def seedSnapshot: DataFrame = spark.range(0, 40).select(
    col("id").as("k"), concat(lit("seg"), col("id") % 4).as("seg"),
    (col("id") * 10).as("cents"), lit("U").as("op"), lit(-1L).as("seq"))

  // batch 0 deletes seg0's max holder (k=36) and seg1's min holder
  // (k=1) — the recompute / sketch-pop paths — updates one key and
  // inserts another; batch 1 touches two more dims
  private def crashBatch(id: Long): DataFrame = (id match {
    case 0L => Seq((36L, "seg0", 0L, "D", 0L), (1L, "seg1", 0L, "D", 0L),
      (5L, "seg1", 7L, "U", 0L), (100L, "seg2", 999L, "U", 0L))
    case _ => Seq((2L, "seg2", 3L, "U", 1L), (7L, "seg3", 0L, "D", 1L))
  }).toDF("k", "seg", "cents", "op", "seq")

  /** Local path of version `v`'s `name` file under `dir`. */
  private def versionFile(dir: String, v: Long, name: String): java.io.File =
    new java.io.File(s"${new org.apache.hadoop.fs.Path(dir).toUri.getPath}/v$v/$name")

  /** Every marker CrashFs logged under `storeDir` or `aggDir` whose
    * version is still on disk, as (batch watermark, is-view), in
    * creation order.
    */
  private def publishOrder(storeDir: String, aggDir: String): Seq[(Long, Boolean)] = {
    import scala.jdk.CollectionConverters._
    CrashFs.markers.asScala.toSeq.map(new org.apache.hadoop.fs.Path(_)).flatMap { m =>
      val isView = CrashFs.under(aggDir)(m)
      val dir = if (isView) aggDir else storeDir
      val v = m.getParent.getName.stripPrefix("v").toLong
      if (!CrashFs.under(dir)(m) || !versionFile(dir, v, "manifest").isFile) None
      else Some((BucketStore.readManifest(spark, dir, v).batch, isView))
    }
  }

  flavours.foreach { f =>
    test(s"staged snapshot commit, ${f.name} view: a crash before the view commit stays invisible; a crash before the snapshot publish replays the snapshot alone") {
      def storesUnder(prefix: String) = {
        val st = CrashFs.dir(spark, s"graft_crash_${prefix}_store")
        val ag = CrashFs.dir(spark, s"graft_crash_${prefix}_agg")
        f.seed(seedSnapshot, st, ag)
        (st, ag)
      }
      def crashing(fail: org.apache.hadoop.fs.Path => Boolean)(body: => Unit): Unit = {
        CrashFs.failCreate = fail
        try intercept[Exception](body) finally CrashFs.failCreate = _ => false
      }
      def marker(dir: String)(p: org.apache.hadoop.fs.Path) =
        CrashFs.isMarker(p) && CrashFs.under(dir)(p)

      // (a) the view's marker never lands: the snapshot was staged
      // alongside, but stays invisible
      val (st, ag) = storesUnder("a")
      crashing(marker(ag)) { f.apply(crashBatch(0L), 0L, st, ag) }
      assert(BucketStore.latestBatch(spark, ag).contains(-1L))
      assert(BucketStore.versions(spark, st) == Seq(-1L),
        "a snapshot version became visible before the view committed")
      assert(versionFile(st, 0L, "manifest").isFile &&
        !versionFile(st, 0L, "_SUCCESS").exists,
        "the snapshot merge should have been staged (data + manifest, no marker)")
      assert(StreamMerge.readStore(spark, st).get.count() == 40)
      // re-running the batch deletes both staged dirs and converges
      f.apply(crashBatch(0L), 0L, st, ag)
      f.apply(crashBatch(1L), 1L, st, ag)
      assert(BucketStore.latestBatch(spark, st).contains(1L))
      assert(f.view(ag) == f.recompute(st), "view diverged after the case (a) replay")

      // (b) the view commits, the snapshot's marker never lands: the
      // replay skips the view and publishes the snapshot
      val (st2, ag2) = storesUnder("b")
      crashing(marker(st2)) { f.apply(crashBatch(0L), 0L, st2, ag2) }
      assert(BucketStore.latestBatch(spark, ag2).contains(0L))
      assert(BucketStore.latestBatch(spark, st2).contains(-1L))
      assert(versionFile(st2, 0L, "manifest").isFile &&
        !versionFile(st2, 0L, "_SUCCESS").exists)
      val viewVersions = BucketStore.versions(spark, ag2)
      f.apply(crashBatch(0L), 0L, st2, ag2)
      assert(BucketStore.versions(spark, ag2) == viewVersions,
        "the replay re-committed the view instead of skipping it")
      assert(BucketStore.latestBatch(spark, st2).contains(0L))
      assert(f.view(ag2) == f.recompute(st2), "view diverged after the case (b) replay")
      f.apply(crashBatch(1L), 1L, st2, ag2)
      assert(f.view(ag2) == f.recompute(st2))

      // across both histories, no snapshot marker for a batch was ever
      // created before the view's marker for the same batch
      Seq((st, ag), (st2, ag2)).foreach { case (s, a) =>
        val order = publishOrder(s, a).filter(_._1 >= 0L) // seeds are not triggers
        Seq(0L, 1L).foreach { b =>
          val viewAt = order.indexOf((b, true))
          val snapAt = order.indexOf((b, false))
          assert(viewAt >= 0 && snapAt > viewAt,
            s"batch $b: view marker at $viewAt, snapshot marker at $snapAt in $order")
        }
      }
    }
  }

  test("matview trigger labels: every job carries its phase; the merge thread's read '<tag> b<id>: snapshot merge'; a throwing fold leaves no label and no thread") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def drained(): Seq[String] = {
      // every event posted so far has reached the listener once a job
      // submitted after them has been seen
      spark.sparkContext.setJobDescription("label spec: barrier")
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis + 10000
      while (!jobs.contains("label spec: barrier") && System.currentTimeMillis < deadline)
        Thread.sleep(10)
      import scala.jdk.CollectionConverters._
      val seen = jobs.asScala.toSeq.takeWhile(_ != "label spec: barrier")
      jobs.clear()
      seen
    }
    def mergeThreads = Thread.getAllStackTraces.keySet.toArray.toSeq
      .map(_.asInstanceOf[Thread].getName).filter(_.endsWith(": snapshot merge"))
    spark.sparkContext.addSparkListener(listener)
    try flavours.foreach { f =>
      val st = CrashFs.dir(spark, "graft_label_store")
      val ag = CrashFs.dir(spark, "graft_label_agg")
      f.seed(seedSnapshot, st, ag)
      drained()
      f.apply(crashBatch(0L), 0L, st, ag)
      val labels = drained()
      val phase = s"${java.util.regex.Pattern.quote(f.tag)} b0: (probe|fold|view commit|snapshot merge)"
      assert(labels.nonEmpty && labels.forall(_.matches(phase)),
        s"${f.name}: unlabelled or foreign job in the trigger: $labels")
      Seq("probe", "view commit", "snapshot merge").foreach { p =>
        assert(labels.contains(s"${f.tag} b0: $p"), s"${f.name}: no '$p' job in $labels")
      }
      // a fold whose write job throws (every part file of the view's
      // next version fails to create)
      CrashFs.failCreate = p => CrashFs.under(ag)(p) && p.getName.endsWith(".parquet")
      try intercept[Exception] { f.apply(crashBatch(1L), 1L, st, ag) }
      finally CrashFs.failCreate = _ => false
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == null,
        s"${f.name}: the calling thread kept a job description after the throw")
      assert(mergeThreads.isEmpty, s"${f.name}: merge thread outlived its trigger: $mergeThreads")
      val after = drained()
      assert(after.exists(_ == s"${f.tag} b1: snapshot merge"),
        s"${f.name}: the merge thread should have run alongside the failed fold: $after")
      // the next trigger (the replay) runs clean and converges
      f.apply(crashBatch(1L), 1L, st, ag)
      assert(f.view(ag) == f.recompute(st))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
