package graft

import java.nio.file.Files

import graft.streaming.StreamingQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming crash recovery — the streaming twin of the reference's
  * crash test (/root/reference/src/main/test-mr.sh:284-330: workers
  * die mid-job, the settled output must equal the no-crash oracle).
  * The batch side has ChaosSpec (task retry to an oracle-equal
  * result) and SpeculationSpec (exactly-once commit under
  * speculation); these tests kill a STATEFUL streaming query
  * mid-replay — after at least one committed microbatch, with
  * unprocessed input still pending — restart it from its durable
  * checkpoint, and prove the settled file-sink contents are
  * exactly-once equal to an uninterrupted run:
  *
  *  - dedup shape: `dropDuplicatesWithinWatermark` key state must
  *    SURVIVE the restart — a duplicate arriving after the restart
  *    of a key first seen before it must still be dropped. Lost
  *    state surfaces as extra rows (the duplicate re-admitted);
  *    lost input as missing rows; a replayed committed batch as
  *    doubled rows (the file-sink manifest must dedup it).
  *  - windowed-aggregation shape: partial per-window sums and the
  *    watermark itself live in the checkpoint — the resumed run
  *    must emit byte-identical window rows to the uninterrupted
  *    twin (same input dir, same single-file microbatches, so the
  *    offset log pins identical batch boundaries on both paths).
  *  - stream-stream interval-join shape: both sides' buffered rows
  *    live in the join state store — the resumed run must keep
  *    matching restored buffer rows against input that arrives
  *    after the kill, and the settled pair set must equal the
  *    uninterrupted run's with no replayed-batch duplicates.
  *  - custom-state sessionize shape (flatMapGroupsWithState): open
  *    per-user session buffers live in user-defined state — the
  *    resumed run must keep merging in-gap arrivals into the
  *    restored buffers and seal the same segmentation.
  *
  * The mid-replay stop polls query progress and calls `stop()` as
  * soon as ≥1 microbatch has committed; with one file per trigger
  * and many input files, the stop lands with most of the input
  * still unread (asserted — a stop that raced past the whole replay
  * would make the recovery claim vacuous).
  */
class StreamRecoverySpec extends SparkSpec {

  /** Start `build` against `srcDir`, stop it once ≥1 microbatch has
    * committed rows, and return the last committed batch id. The
    * stop is cooperative (`StreamingQuery.stop` interrupts the
    * execution thread), so an in-flight batch may die uncommitted —
    * exactly the crash window the checkpoint must cover.
    */
  private def runInterrupted(q: StreamingQuery): Long = {
    val deadline = System.currentTimeMillis + 120000
    while (q.isActive &&
      (q.recentProgress.map(_.numInputRows).sum == 0L) &&
      System.currentTimeMillis < deadline)
      Thread.sleep(25)
    val lastBatch = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    q.stop()
    q.awaitTermination()
    assert(q.recentProgress.map(_.numInputRows).sum > 0,
      "no microbatch committed before the stop — cannot exercise recovery")
    lastBatch
  }

  test("dedup state survives a mid-replay kill: restart is exactly-once, no re-admitted duplicates") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_rec_src").toString
    val outDir = Files.createTempDirectory("graft_rec_out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft_rec_ckpt").toString

    // 16 single-file microbatches of 50 docs each; text duplicates
    // deliberately STRADDLE the kill point: ids 0..799 carry texts
    // id % 350, so files 7..15 re-send texts first seen in files
    // 0..6 — if the restarted query lost its dedup state, those
    // re-sends are re-admitted and the sink over-counts. Texts
    // "doc 0".."doc 49" are already in the standing corpus STORE, so
    // the stream-static anti-join must drop every arrival of them.
    val nFiles = 16
    val perFile = 50
    val nTexts = 350
    val inStore = 50
    def text(id: org.apache.spark.sql.Column) =
      concat(lit("doc "), (id % nTexts).cast("string"))
    (0 until nFiles).foreach { i =>
      spark.range(i.toLong * perFile, (i + 1).toLong * perFile)
        .select(col("id").as("doc_id"), text(col("id")).as("text"),
          timestamp_millis(col("id") * 1000 + 86400000L).as("ts"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val store = graft.ext.Dedup.fingerprintStore(
      spark.range(0, inStore).select(text(col("id")).as("text")), "text")
    val schema = spark.read.parquet(srcDir).schema
    def start(): StreamingQuery = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      StreamingQueries.incrementalDedup(src, store, watermark = "365 days")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", outDir)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }

    val killedAt = runInterrupted(start())
    assert(killedAt < nFiles - 1,
      s"stop raced past the replay (batch $killedAt of $nFiles) — recovery untested")
    // restart from the checkpoint and settle
    val q2 = start()
    q2.awaitTermination()

    val got = spark.read.parquet(outDir)
    val kept = got.select("text").as[String].collect().toSeq
    // exactly-once: every text outside the store exactly once, store
    // texts never — any state loss, input loss, or batch replay
    // breaks one of these three counts
    assert(kept.size == nTexts - inStore,
      s"expected ${nTexts - inStore} kept rows, got ${kept.size}")
    assert(kept.distinct.size == kept.size, "duplicate texts in the settled sink")
    assert(kept.toSet == (inStore until nTexts).map(i => s"doc $i").toSet)
  }

  test("windowed-aggregation state survives a mid-replay kill: resumed emissions equal the uninterrupted run") {
    val srcDir = Files.createTempDirectory("graft_recw_src").toString
    // the real events fixture, split into 8 time-ranged files so the
    // watermark (and append-mode window emission) advances across
    // many microbatches instead of settling in one
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("ts", "event_type", "value")
    ev.repartitionByRange(8, col("ts")).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    def run(interrupt: Boolean): DataFrame = {
      val outDir = Files.createTempDirectory("graft_recw_out").toString + "/out"
      val ckpt = Files.createTempDirectory("graft_recw_ckpt").toString
      def start(): StreamingQuery = {
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        StreamingQueries.tumblingWindow(src, every = "1 hour",
            watermark = "30 minutes")
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt).option("path", outDir)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      }
      if (interrupt) {
        val killedAt = runInterrupted(start())
        assert(killedAt < 7,
          s"stop raced past the replay (batch $killedAt of 8) — recovery untested")
        val q2 = start()
        q2.awaitTermination()
      } else {
        val q = start()
        q.awaitTermination()
      }
      spark.read.parquet(outDir)
    }

    def canon(df: DataFrame): Seq[(String, String, Long, Double)] = {
      import spark.implicits._
      df.select("h", "event_type", "n", "v")
        .as[(String, String, Long, Double)].collect().toSeq.sorted
    }
    val interrupted = canon(run(interrupt = true))
    val clean = canon(run(interrupt = false))
    assert(interrupted.nonEmpty, "no windows emitted — fixture/watermark mismatch")
    assert(interrupted == clean,
      "resumed run's settled windows differ from the uninterrupted run's")
  }

  test("stream-stream interval-join state survives a mid-replay kill: settled pairs equal the uninterrupted run") {
    // the hardest state shape: BOTH sides buffer rows in the join
    // state store (time-range-bounded by the watermark), and a kill
    // can land with one side's row committed to state and its future
    // matches still unread — recovery must resume matching against
    // the restored buffer, not just re-ingest input
    val srcDir = Files.createTempDirectory("graft_recj_src").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("ts", "event_type", "user_id", "event_id")
    ev.repartitionByRange(8, col("ts")).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    def run(interrupt: Boolean): DataFrame = {
      val outDir = Files.createTempDirectory("graft_recj_out").toString + "/out"
      val ckpt = Files.createTempDirectory("graft_recj_ckpt").toString
      def start(): StreamingQuery = {
        def src() = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        val clicks = src().where(col("event_type") === "click")
          .select("user_id", "ts", "event_id")
        val purchases = src().where(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id")
        StreamingQueries.intervalJoin(clicks, purchases, Seq("user_id"),
            "ts", "ts", lowerMs = 0L, upperMs = 21600000L,
            watermark = "30 minutes")
          .select("l_event_id", "r_event_id")
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt).option("path", outDir)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      }
      if (interrupt) {
        val killedAt = runInterrupted(start())
        assert(killedAt < 7,
          s"stop raced past the replay (batch $killedAt of 8) — recovery untested")
        val q2 = start()
        q2.awaitTermination()
      } else {
        val q = start()
        q.awaitTermination()
      }
      spark.read.parquet(outDir)
    }

    def canon(df: DataFrame): Seq[(Long, Long)] = {
      import spark.implicits._
      df.as[(Long, Long)].collect().toSeq.sorted
    }
    val interrupted = canon(run(interrupt = true))
    val clean = canon(run(interrupt = false))
    assert(interrupted.nonEmpty, "no pairs emitted — fixture/range mismatch")
    assert(interrupted.distinct.size == interrupted.size,
      "a committed batch was replayed into the sink (duplicate pairs)")
    assert(interrupted == clean,
      "resumed run's settled pair set differs from the uninterrupted run's")
  }

  test("flatMapGroupsWithState session state survives a mid-replay kill: settled sessions equal the uninterrupted run") {
    // the fourth and most custom state shape: Sessionize buffers
    // per-user events in user-defined state and seals sessions on
    // event-time timeout — a kill can land with open sessions
    // buffered; the restart must resume those buffers, keep merging
    // in-gap arrivals, and seal to exactly the uninterrupted
    // segmentation (completing the recovery matrix: dedup / window /
    // interval join / sessionize)
    val srcDir = Files.createTempDirectory("graft_recs_src").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id").cast("string").as("key"), col("ts"))
    ev.repartitionByRange(8, col("ts")).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    def run(interrupt: Boolean): DataFrame = {
      val outDir = Files.createTempDirectory("graft_recs_out").toString + "/out"
      val ckpt = Files.createTempDirectory("graft_recs_ckpt").toString
      def start(): StreamingQuery = {
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        graft.streaming.Sessionize.sessions(src, gapMs = 1800000L,
            watermark = "30 minutes")
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt).option("path", outDir)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      }
      if (interrupt) {
        val killedAt = runInterrupted(start())
        assert(killedAt < 7,
          s"stop raced past the replay (batch $killedAt of 8) — recovery untested")
        val q2 = start()
        q2.awaitTermination()
      } else {
        val q = start()
        q.awaitTermination()
      }
      spark.read.parquet(outDir)
    }

    def canon(df: DataFrame): Seq[(String, Long, Long, Long)] = {
      import spark.implicits._
      df.select(col("key"), unix_millis(col("start")),
          unix_millis(col("end")), col("n_events"))
        .as[(String, Long, Long, Long)].collect().toSeq.sorted
    }
    val interrupted = canon(run(interrupt = true))
    val clean = canon(run(interrupt = false))
    assert(interrupted.nonEmpty, "no sessions sealed — fixture/gap mismatch")
    assert(interrupted == clean,
      "resumed run's settled sessions differ from the uninterrupted run's")
  }

  test("foreachBatch CDC merge survives a mid-replay kill: settled store equals the uninterrupted run") {
    // the fifth recovery shape, and the only one whose state lives
    // OUTSIDE Spark's checkpoint: the store is our own versioned
    // parquet directory, so the kill exercises StreamMerge's own
    // exactly-once machinery — _SUCCESS-gated versions (a partial
    // write is invisible and overwritten on replay) plus the
    // latestVersion >= batchId skip (a committed version whose
    // offsets never committed must not be double-applied). A kill can
    // land in either window; both must settle to the uninterrupted
    // twin's store.
    import graft.streaming.StreamMerge
    val srcDir = Files.createTempDirectory("graft_recm_src").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001").select(
      col("user_id").as("k"),
      round(col("value") * 100).cast("long").as("cents"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"),
      col("ts"), col("event_id"))
    ev.repartitionByRange(8, col("ts")).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    // at least one key's LATEST entry must be a delete, or the
    // tombstone path is untested
    import spark.implicits._
    val deletedKeys = ev.groupBy("k")
      .agg(max_by(col("op"), struct(col("ts"), col("event_id"))).as("lastOp"))
      .where(col("lastOp") === "D").select("k").as[Long].collect().toSet
    assert(deletedKeys.nonEmpty, "fixture has no latest-entry deletes — merge recovery untested on tombstones")

    def run(interrupt: Boolean): Seq[(Long, Long)] = {
      val storeDir = Files.createTempDirectory("graft_recm_store").toString
      val ckpt = Files.createTempDirectory("graft_recm_ckpt").toString
      StreamMerge.seed(spark.range(0, 100).select(
        col("id").as("k"), lit(0L).as("cents"), lit("U").as("op"),
        timestamp_millis(lit(0L)).as("ts"), lit(-1L).as("event_id")),
        storeDir, "k")
      def start() = StreamMerge.start(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir),
        storeDir, ckpt, "k", "op", Seq("ts", "event_id"))
      if (interrupt) {
        val killedAt = runInterrupted(start())
        assert(killedAt < 7,
          s"stop raced past the replay (batch $killedAt of 8) — recovery untested")
        val q2 = start()
        q2.awaitTermination()
      } else {
        val q = start()
        q.awaitTermination()
      }
      StreamMerge.snapshot(spark, storeDir, "op", Seq("ts", "event_id"))
        .select("k", "cents").as[(Long, Long)].collect().toSeq.sorted
    }

    val interrupted = run(interrupt = true)
    val clean = run(interrupt = false)
    assert(interrupted.nonEmpty, "empty settled store — seed/changelog mismatch")
    assert(interrupted.map(_._1).toSet.intersect(deletedKeys).isEmpty,
      "a deleted key survived in the settled store (tombstone lost in recovery)")
    assert(interrupted == clean,
      "resumed run's settled store differs from the uninterrupted run's")
  }

  test("store-backed ingest dedup survives a mid-replay kill: settled corpus is exactly-once") {
    // the sixth recovery shape: StreamIngest keeps NO Spark state —
    // the versioned fingerprint store plus the per-batch docs dirs
    // ARE the state, so the kill exercises the two-step commit
    // (docs written before the version; an uncommitted docs dir must
    // stay invisible to corpus() and be overwritten on replay).
    // Duplicates deliberately straddle the kill point (texts repeat
    // every 350 ids over 800 ids): if the restarted query resumed
    // from a lost/stale store, re-sent texts would be re-admitted.
    import graft.streaming.StreamIngest
    val srcDir = Files.createTempDirectory("graft_reci_src").toString
    val nFiles = 16
    val perFile = 50
    val nTexts = 350
    val inStore = 50
    def text(id: org.apache.spark.sql.Column) =
      concat(lit("doc "), (id % nTexts).cast("string"))
    (0 until nFiles).foreach { i =>
      spark.range(i.toLong * perFile, (i + 1).toLong * perFile)
        .select(col("id").as("doc_id"), text(col("id")).as("text"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val standing = spark.range(0, inStore).select(text(col("id")).as("text"))
    val schema = spark.read.parquet(srcDir).schema

    def run(interrupt: Boolean): Seq[String] = {
      val storeDir = Files.createTempDirectory("graft_reci_store").toString
      val ckpt = Files.createTempDirectory("graft_reci_ckpt").toString
      StreamIngest.seed(standing, "text", storeDir)
      def start() = StreamIngest.start(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir),
        storeDir, ckpt, "doc_id", "text")
      if (interrupt) {
        val killedAt = runInterrupted(start())
        assert(killedAt < nFiles - 1,
          s"stop raced past the replay (batch $killedAt of $nFiles) — recovery untested")
        val q2 = start()
        q2.awaitTermination()
      } else {
        val q = start()
        q.awaitTermination()
      }
      import spark.implicits._
      StreamIngest.corpus(spark, storeDir).select("text").as[String]
        .collect().toSeq.sorted
    }

    val interrupted = run(interrupt = true)
    assert(interrupted.size == nTexts - inStore,
      s"expected ${nTexts - inStore} accepted docs, got ${interrupted.size}")
    assert(interrupted.distinct.size == interrupted.size,
      "duplicate texts in the settled corpus (store lost or docs dir double-counted)")
    assert(interrupted.toSet == (inStore until nTexts).map(i => s"doc $i").toSet)
    assert(interrupted == run(interrupt = false),
      "resumed run's settled corpus differs from the uninterrupted run's")
  }

  test("matview maintenance survives a mid-replay kill: settled view equals the recompute and the clean run") {
    // the seventh recovery shape: TWO of our own versioned stores
    // behind one stream, committed aggregate-first with independent
    // batch watermarks. The kill can land between the two commits —
    // the window where the view is one batch ahead of the snapshot —
    // and the replay must converge them: the settled view has to
    // equal the full recompute over the settled snapshot store AND
    // the uninterrupted twin's view.
    import graft.ext.Changelog
    import graft.streaming.{BucketStore, StreamMatview}
    val srcDir = Files.createTempDirectory("graft_recv_src").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001").select(
      col("user_id").as("k"),
      col("event_type").as("seg"),
      round(col("value") * 100).cast("long").as("cents"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"),
      col("ts"), col("event_id"))
    ev.repartitionByRange(8, col("ts")).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    def run(interrupt: Boolean): (Seq[(String, Long, Long)], Seq[(String, Long, Long)]) = {
      val storeDir = Files.createTempDirectory("graft_recv_store").toString
      val aggDir = Files.createTempDirectory("graft_recv_agg").toString
      val ckpt = Files.createTempDirectory("graft_recv_ckpt").toString
      StreamMatview.seed(spark.range(0, 100).select(
        col("id").as("k"), concat(lit("seg"), col("id") % 3).as("seg"),
        col("id").as("cents"), lit("U").as("op"),
        timestamp_millis(lit(0L)).as("ts"), lit(-1L).as("event_id")),
        storeDir, aggDir, "k", "op", Seq("seg"), "cents")
      def start() = StreamMatview.startView(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir),
        storeDir, aggDir, ckpt, "k", Seq("ts", "event_id"),
        Changelog.CountSum("op", Seq("seg"), "cents"))
      if (interrupt) {
        val killedAt = runInterrupted(start())
        assert(killedAt < 7,
          s"stop raced past the replay (batch $killedAt of 8) — recovery untested")
        val q2 = start()
        q2.awaitTermination()
      } else {
        val q = start()
        q.awaitTermination()
      }
      import spark.implicits._
      def canon(df: DataFrame): Seq[(String, Long, Long)] =
        df.select("seg", "n", "sum").as[(String, Long, Long)]
          .collect().toSeq.sorted
      val view = canon(StreamMatview.viewSnapshot(spark, aggDir))
      val recompute = canon(Changelog.aggSnapshot(
        BucketStore.read(spark, storeDir).get, "op", Seq("seg"), "cents"))
      (view, recompute)
    }

    val (view, recompute) = run(interrupt = true)
    assert(view.nonEmpty, "empty settled view — seed/changelog mismatch")
    assert(view == recompute,
      s"settled view diverged from the recompute over the settled store:\n$view\nvs\n$recompute")
    val (cleanView, _) = run(interrupt = false)
    assert(view == cleanView,
      "resumed run's settled view differs from the uninterrupted run's")
  }

  test("SKETCHED min/max matview maintenance survives a mid-replay kill: settled served view equals the recompute and the clean run") {
    // the tenth recovery shape: the sketch state (per-dim top-k value
    // arrays) is PART of the committed view version, so the
    // aggregate-first exactly-once protocol must carry it across the
    // kill unchanged — a lost or doubled pop would surface as a served
    // min/max diverging from the recompute after the deletes-bearing
    // tail of the changelog replays.
    import graft.ext.Changelog
    import graft.streaming.{BucketStore, StreamMatview}
    val srcDir = Files.createTempDirectory("graft_recsk_src").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001").select(
      col("user_id").as("k"),
      col("event_type").as("seg"),
      round(col("value") * 100).cast("long").as("cents"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"),
      col("ts"), col("event_id"))
    ev.repartitionByRange(8, col("ts")).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    def run(interrupt: Boolean): (Seq[(String, Long, Long, Option[Long], Option[Long])], Seq[(String, Long, Long, Option[Long], Option[Long])]) = {
      val storeDir = Files.createTempDirectory("graft_recsk_store").toString
      val aggDir = Files.createTempDirectory("graft_recsk_agg").toString
      val ckpt = Files.createTempDirectory("graft_recsk_ckpt").toString
      StreamMatview.seedSketch(spark.range(0, 100).select(
        col("id").as("k"), concat(lit("seg"), col("id") % 3).as("seg"),
        col("id").as("cents"), lit("U").as("op"),
        timestamp_millis(lit(0L)).as("ts"), lit(-1L).as("event_id")),
        storeDir, aggDir, "k", "op", Seq("seg"), "cents", k = 4)
      def start() = StreamMatview.startView(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir),
        storeDir, aggDir, ckpt, "k", Seq("ts", "event_id"),
        Changelog.Sketch("op", Seq("seg"), "cents", k = 4))
      if (interrupt) {
        val killedAt = runInterrupted(start())
        assert(killedAt < 7,
          s"stop raced past the replay (batch $killedAt of 8) — recovery untested")
        val q2 = start()
        q2.awaitTermination()
      } else {
        val q = start()
        q.awaitTermination()
      }
      import spark.implicits._
      def canon(df: DataFrame): Seq[(String, Long, Long, Option[Long], Option[Long])] =
        df.select("seg", "n", "sum", "min", "max")
          .as[(String, Long, Long, Option[Long], Option[Long])]
          .collect().toSeq.sorted
      val view = canon(StreamMatview.viewSnapshotServed(spark, aggDir))
      val recompute = canon(Changelog.aggSnapshotMinMax(
        BucketStore.read(spark, storeDir).get, "op", Seq("seg"), "cents"))
      (view, recompute)
    }

    val (view, recompute) = run(interrupt = true)
    assert(view.nonEmpty, "empty settled view — seed/changelog mismatch")
    assert(view == recompute,
      s"settled served view diverged from the recompute over the settled store:\n$view\nvs\n$recompute")
    val (cleanView, _) = run(interrupt = false)
    assert(view == cleanView,
      "resumed run's settled view differs from the uninterrupted run's")
  }

  test("StreamMerge guards: batch-id reset fails loudly; exact replay skips; seed refuses a live store") {
    import graft.streaming.{BucketStore, StreamMerge}
    import spark.implicits._
    val storeDir = Files.createTempDirectory("graft_smg_store").toString
    def batch(seq: Long, name: String) =
      Seq((1L, name, "U", seq)).toDF("k", "name", "op", "seq")
    StreamMerge.applyBatch(batch(1L, "a"), 0L, storeDir, "k", "op", Seq("seq"))
    StreamMerge.applyBatch(batch(2L, "b"), 1L, storeDir, "k", "op", Seq("seq"))
    assert(BucketStore.latestVersion(spark, storeDir).contains(1L))
    // exact replay of the last committed batch (crash between version
    // commit and offset commit) is an idempotent skip
    StreamMerge.applyBatch(batch(99L, "STALE"), 1L, storeDir, "k", "op", Seq("seq"))
    val served = StreamMerge.snapshot(spark, storeDir, "op", Seq("seq"))
      .select("name").as[String].collect().toSeq
    assert(served == Seq("b"), s"replay skip must not re-apply: $served")
    // a FRESH checkpoint's batch 0 against a store at v1 is a reset —
    // silently skipping would drop every change until ids catch up
    val e = intercept[IllegalStateException] {
      StreamMerge.applyBatch(batch(3L, "c"), 0L, storeDir, "k", "op", Seq("seq"))
    }
    assert(e.getMessage.contains("checkpoint"), e.getMessage)
    // seeding a store with committed versions would be an invisible
    // no-op (version -1 never read, vacuumed next batch) — refuse
    intercept[IllegalArgumentException] {
      StreamMerge.seed(batch(0L, "seed"), storeDir, "k")
    }
    // the vacuum must never delete the version just written
    intercept[IllegalArgumentException] {
      StreamMerge.applyBatch(batch(4L, "d"), 2L, storeDir, "k", "op", Seq("seq"),
        retain = 0)
    }
  }

  test("CDC merge restarts ACROSS an additive schema change: widened batches fold into the narrow store exactly-once") {
    // the lake-evolution shape: a stream runs on schema A, stops, and
    // RESTARTS from the same checkpoint with schema B = A + lang (the
    // file source's schema is caller-supplied, so a restart is where
    // evolution actually enters a production pipeline). The first
    // wide batch must widen the BUCKETED store (mergeBatch's additive
    // contract: old buckets stay narrow on disk, the manifest adopts
    // the wide schema, reads null-backfill), and a kill mid-phase-B —
    // possibly landing before OR after the widening version committed
    // — must still settle identical to the uninterrupted twin.
    import graft.streaming.StreamMerge
    import spark.implicits._
    val schemaB = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cents", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("op", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType)))
    val schemaA = org.apache.spark.sql.types.StructType(schemaB.fields.dropRight(1))

    def run(interrupt: Boolean): (Seq[(Long, Long, Option[String])], Seq[String]) = {
      val srcDir = Files.createTempDirectory("graft_recev_src").toString
      val storeDir = Files.createTempDirectory("graft_recev_store").toString
      val ckpt = Files.createTempDirectory("graft_recev_ckpt").toString
      // phase A: 4 narrow files over keys 0..39
      (0 until 4).foreach { i =>
        spark.range(i.toLong * 25, (i + 1).toLong * 25).select(
            (col("id") % 40).as("k"), (col("id") * 10).as("cents"),
            lit("U").as("op"), col("id").as("seq"))
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      def start(schema: org.apache.spark.sql.types.StructType) = StreamMerge.start(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir),
        storeDir, ckpt, "k", "op", Seq("seq"))
      start(schemaA).awaitTermination()

      // phase B: 4 wide files, updating ONLY keys 0..19 — so the
      // settled store must mix wide rows (lang set) with narrow-era
      // rows read back null-backfilled
      (4 until 8).foreach { i =>
        spark.range(i.toLong * 25, (i + 1).toLong * 25).select(
            (col("id") % 20).as("k"), (col("id") * 10).as("cents"),
            lit("U").as("op"), col("id").as("seq"),
            concat(lit("L"), (col("id") % 3).cast("string")).as("lang"))
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      if (interrupt) {
        val killedAt = runInterrupted(start(schemaB))
        assert(killedAt < 7,
          s"stop raced past the phase-B replay (batch $killedAt of 8) — evolution recovery untested")
        start(schemaB).awaitTermination()
      } else start(schemaB).awaitTermination()

      val snap = StreamMerge.snapshot(spark, storeDir, "op", Seq("seq"))
      (snap.select(col("k"), col("cents"), col("lang"))
         .as[(Long, Long, Option[String])].collect().toSeq.sorted,
       snap.columns.toSeq)
    }

    val (settled, cols) = run(interrupt = true)
    assert(cols.contains("lang"), s"store did not adopt the widened schema: $cols")
    assert(settled.map(_._1) == (0L until 40L),
      "settled store must hold exactly one row per key")
    // keys 0..19: latest entry is wide (lang set); 20..39: narrow era only
    assert(settled.filter(_._1 < 20).forall(_._3.exists(_.startsWith("L"))),
      "wide-era keys lost their lang value")
    assert(settled.filter(_._1 >= 20).forall(_._3.isEmpty),
      "narrow-era keys must read back null-backfilled, not dropped or defaulted")
    assert(settled == run(interrupt = false)._1,
      "resumed run's settled store differs from the uninterrupted run's across the schema change")
  }

  test("CDC merge restarts ACROSS a rebucket migration: the grown store folds later batches exactly-once") {
    // the store-growth shape: a stream runs at the creation-time
    // bucket count, stops, the store is MIGRATED to a larger count
    // (BucketStore.rebucket — a maintenance version carrying the same
    // ingest watermark), and the stream restarts from the SAME
    // checkpoint. The restart must neither skip nor reset (the
    // watermark held), every post-migration trigger must bucket at
    // the migrated count (applyBatch reads it from the manifest), and
    // a kill mid-phase-B must still settle identical to an
    // uninterrupted never-migrated twin — bucket layout is invisible
    // to the merge semantics.
    import graft.streaming.{BucketStore, StreamMerge}
    import spark.implicits._

    def run(migrate: Boolean): Seq[(Long, Long)] = {
      val srcDir = Files.createTempDirectory("graft_recrb_src").toString
      val storeDir = Files.createTempDirectory("graft_recrb_store").toString
      val ckpt = Files.createTempDirectory("graft_recrb_ckpt").toString
      (0 until 4).foreach { i =>
        spark.range(i.toLong * 25, (i + 1).toLong * 25).select(
            (col("id") % 40).as("k"), (col("id") * 10).as("cents"),
            lit("U").as("op"), col("id").as("seq"))
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      val schema = spark.read.parquet(srcDir).schema
      def start() = StreamMerge.start(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir),
        storeDir, ckpt, "k", "op", Seq("seq"), nBuckets = 4)
      start().awaitTermination()

      if (migrate) {
        val wm = BucketStore.latestBatch(spark, storeDir)
        BucketStore.rebucket(spark, storeDir, "k", newBuckets = 16)
        assert(BucketStore.latestBatch(spark, storeDir) == wm,
          "migration must not advance the ingest watermark")
      }

      // phase B: 4 more files updating keys 0..19, killed mid-replay
      (4 until 8).foreach { i =>
        spark.range(i.toLong * 25, (i + 1).toLong * 25).select(
            (col("id") % 20).as("k"), (col("id") * 10).as("cents"),
            lit("U").as("op"), col("id").as("seq"))
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      val killedAt = runInterrupted(start())
      assert(killedAt < 7,
        s"stop raced past the phase-B replay (batch $killedAt of 8) — migration recovery untested")
      start().awaitTermination()

      if (migrate) {
        val v = BucketStore.latestVersion(spark, storeDir).get
        val m = BucketStore.readManifest(spark, storeDir, v)
        assert(m.nBuckets == 16,
          "post-migration triggers must stay at the migrated bucket count")
        assert(m.owners.keySet.forall(b => b >= 0 && b < 16))
      }
      StreamMerge.snapshot(spark, storeDir, "op", Seq("seq"))
        .select("k", "cents").as[(Long, Long)].collect().toSeq.sorted
    }

    val migrated = run(migrate = true)
    assert(migrated.map(_._1) == (0L until 40L),
      "settled store must hold exactly one row per key")
    assert(migrated == run(migrate = false),
      "settled store across the migration differs from the never-migrated twin")
  }
}
