package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingQueries

case class Ev(ts: Timestamp, event_type: String, value: Double)
case class Line(value: String)
case class KeyedEv(user_id: Long, ts: Timestamp, event_id: Long)

/** Differential specs for the Structured Streaming slice: the batch
  * query over the same rows is the oracle (SURVEY §7.5 — batch DQ14
  * stays the correctness anchor for the streaming twin).
  */
class StreamingSpec extends SparkSpec {

  private def realEvents: Seq[Ev] = {
    import spark.implicits._
    Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("ts"), col("event_type"), col("value").cast("double").as("value"))
      .as[Ev].collect().toSeq.sortBy(_.ts.getTime)
  }

  private def batchOracle(evs: Seq[Ev]): Seq[(String, String, Long, Double)] = {
    import spark.implicits._
    evs.toDF()
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("h"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("v"))
      .as[(String, String, Long, Double)].collect().toSeq.sorted
  }

  test("streaming tumbling window (complete mode) equals batch aggregation") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = realEvents
    val (b1, b2) = evs.splitAt(evs.size / 2)
    val stream = MemoryStream[Ev]
    val query = StreamingQueries.tumblingWindow(stream.toDF())
      .writeStream.format("memory").queryName("tw_complete")
      .outputMode("complete").start()
    try {
      stream.addData(b1)
      query.processAllAvailable()
      stream.addData(b2) // second batch exercises incremental state merge
      query.processAllAvailable()
      val got = spark.table("tw_complete")
        .as[(String, String, Long, Double)].collect().toSeq.sorted
      assert(got == batchOracle(evs))
    } finally query.stop()
  }

  test("streaming sliding window (2h/1h) equals the batch overlapping aggregation") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = realEvents
    val (b1, b2) = evs.splitAt(evs.size / 2)
    val stream = MemoryStream[Ev]
    val query = StreamingQueries.slidingWindow(stream.toDF(), "2 hours", "1 hour")
      .writeStream.format("memory").queryName("sw_complete")
      .outputMode("complete").start()
    try {
      stream.addData(b1)
      query.processAllAvailable()
      stream.addData(b2)
      query.processAllAvailable()
      val got = spark.table("sw_complete")
        .as[(String, String, Long, Double)].collect().toSeq.sorted
      // batch oracle: every event contributes to BOTH hourly-aligned
      // 2h windows covering it — the same lattice the batch
      // ext_rel_sliding_window query uses
      val want = evs.toDF()
        .select(col("event_type"), col("value"),
          explode(array(date_trunc("hour", col("ts")),
            date_trunc("hour", col("ts")) - expr("INTERVAL 1 HOUR"))).as("w"))
        .groupBy(date_format(col("w"), "yyyy-MM-dd HH:mm:ss").as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("v"))
        .as[(String, String, Long, Double)].collect().toSeq.sorted
      assert(got == want)
      assert(got.map(_._3).sum == 2L * evs.size, "each event in exactly 2 windows")
    } finally query.stop()
  }

  test("streaming tumbling window (append mode) emits watermark-closed windows equal to batch") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = realEvents
    val (b1, b2) = evs.splitAt(evs.size / 2)
    // sentinel far past the real data: advances the watermark beyond
    // every real window's end so append mode flushes them all; the
    // sentinel's own window stays open and must NOT be emitted
    val sentinel = Ev(new Timestamp(evs.last.ts.getTime + 10L * 3600 * 1000), "zzz_sentinel", 0.0)
    val stream = MemoryStream[Ev]
    val query = StreamingQueries.tumblingWindow(stream.toDF())
      .writeStream.format("memory").queryName("tw_append")
      .outputMode("append").start()
    try {
      stream.addData(b1)
      query.processAllAvailable()
      stream.addData(b2)
      query.processAllAvailable()
      stream.addData(Seq(sentinel))
      query.processAllAvailable()
      val got = spark.table("tw_append")
        .as[(String, String, Long, Double)].collect().toSeq.sorted
      assert(got == batchOracle(evs))
    } finally query.stop()
  }

  test("streaming word count equals naive in-memory count across batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lines = Seq("the quick brown fox", "jumps over the lazy dog",
      "the fox; the dog!", "42 apples and 7 oranges")
    val stream = MemoryStream[Line]
    val query = StreamingQueries.wordCount(stream.toDF())
      .writeStream.format("memory").queryName("wc_stream")
      .outputMode("complete").start()
    try {
      stream.addData(lines.take(2).map(Line))
      query.processAllAvailable()
      stream.addData(lines.drop(2).map(Line))
      query.processAllAvailable()
      val got = spark.table("wc_stream")
        .as[(String, Long)].collect().toMap
      val want = lines.flatMap(_.split("[^a-zA-Z]+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == want)
    } finally query.stop()
  }

  test("file-source readStream (json) through the tumbling window equals batch") {
    import spark.implicits._
    val evs = realEvents
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    // two files = two discovered batches
    val (b1, b2) = evs.splitAt(evs.size / 2)
    b1.toDF().coalesce(1).write.mode("append").json(dir)
    b2.toDF().coalesce(1).write.mode("append").json(dir)
    val schema = b1.toDF().schema
    val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(dir)
    val query = StreamingQueries.tumblingWindow(src)
      .writeStream.format("memory").queryName("tw_files")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      val got = spark.table("tw_files")
        .as[(String, String, Long, Double)].collect().toSeq.sorted
      assert(got == batchOracle(evs))
    } finally query.stop()
  }

  test("sessionization handles out-of-order events across microbatches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gapMs = 5L * 60 * 1000
    def t(hhmm: String): Long = {
      val Array(h, m) = hhmm.split(":").map(_.toInt)
      86400000L + (h * 60L + m) * 60 * 1000
    }
    // batches deliberately out of order WITHIN and ACROSS batches:
    //  b2's 10:03 extends b1's [10:00] session forward,
    //  b2's 10:48 extends b1's [10:50] session BACKWARD,
    //  b3's 9:40 is an entirely earlier separate session,
    //  b4's 10:27 bridges nothing (own session) but arrives last.
    val b1 = Seq(("a", t("10:50")), ("a", t("10:00")))
    val b2 = Seq(("a", t("10:03")), ("b", t("10:00")), ("a", t("10:48")))
    val b3 = Seq(("a", t("9:40")))
    val b4 = Seq(("a", t("10:27")))
    val sentinel = Seq(("zzz", t("23:00")))
    val all = b1 ++ b2 ++ b3 ++ b4
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val src = stream.toDF().select(col("_1").as("key"),
      timestamp_millis(col("_2")).as("ts"))
    // large watermark delay keeps every out-of-order event admissible
    val query = graft.streaming.Sessionize.sessions(src, gapMs, watermark = "3 hours")
      .writeStream.format("memory").queryName("sessions_ooo")
      .outputMode("append").start()
    try {
      Seq(b1, b2, b3, b4, sentinel).foreach { b =>
        stream.addData(b); query.processAllAvailable()
      }
      val got = spark.table("sessions_ooo")
        .select(col("key"), expr("unix_millis(start)"),
          expr("unix_millis(end)"), col("n_events"))
        .as[(String, Long, Long, Long)].collect().toSeq
        .filter(_._1 != "zzz").sorted
      val want = graft.streaming.Sessionize.sessionizeSeq(all, gapMs).sorted
      assert(got == want)
      // and the expected shape explicitly: a gets 4 sessions, b one
      assert(want.map(w => (w._1, w._2, w._3, w._4)) == Seq(
        ("a", t("9:40"), t("9:40"), 1L),
        ("a", t("10:00"), t("10:03"), 2L),
        ("a", t("10:27"), t("10:27"), 1L),
        ("a", t("10:48"), t("10:50"), 2L),
        ("b", t("10:00"), t("10:00"), 1L)).sorted)
    } finally query.stop()
  }

  test("session merge: a bridging event coalesces two open sessions, counts add") {
    import graft.streaming.Sessionize.{mergeAll, SessState}
    val gap = 1000L
    // sessions [0,300] and [2000,2800]; the bridge at 1200 is within
    // gap of both ends (1200-300=900, 2000-1200=800)
    val merged = mergeAll(Seq(
      SessState(0, 300, 2), SessState(2000, 2800, 3), SessState(1200, 1200, 1)), gap)
    assert(merged == List(SessState(0, 2800, 6)))
    // without the bridge they stay separate (2000 - 300 > gap)
    assert(mergeAll(Seq(SessState(0, 300, 2), SessState(2000, 2800, 3)), gap) ==
      List(SessState(0, 300, 2), SessState(2000, 2800, 3)))
    // order independence
    assert(mergeAll(Seq(SessState(2000, 2800, 3), SessState(1200, 1200, 1),
      SessState(0, 300, 2)), gap) == List(SessState(0, 2800, 6)))
  }

  test("restart from checkpoint is exactly-once: no loss, no duplication across query restarts") {
    import spark.implicits._
    // the streaming analogue of the reference's crash-recovery
    // guarantee (atomic commit + idempotent completion, E9/E12): a
    // file-sink query stopped and restarted from its checkpoint must
    // neither reprocess batch 0 nor lose batch 1
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ckpt_src").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_meta").toString
    val evs = realEvents
    val (b1, b2) = evs.splitAt(evs.size / 2)
    val schema = b1.toDF().schema
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).json(srcDir)
      val q = src.writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    b1.toDF().coalesce(1).write.mode("append").json(srcDir)
    runOnce() // processes b1, commits it to the sink log
    b2.toDF().coalesce(1).write.mode("append").json(srcDir)
    runOnce() // restart: must pick up ONLY b2 from the checkpoint
    def canon(s: Seq[Ev]): Seq[(Long, String, Double)] =
      s.map(e => (e.ts.getTime, e.event_type, e.value)).sorted
    val got = spark.read.parquet(outDir)
      .select(col("ts"), col("event_type"), col("value")).as[Ev].collect().toSeq
    assert(canon(got) == canon(evs))
  }

  test("curation gates on a document stream equal the batch gates (stateless, append mode)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val (b1, b2) = docs.splitAt(docs.size / 2)
    val stream = MemoryStream[(Long, String)]
    val query = graft.ext.Curation
      .gates(stream.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("cur_gates")
      .outputMode("append").start()
    try {
      stream.addData(b1)
      query.processAllAvailable()
      stream.addData(b2)
      query.processAllAvailable()
      val got = spark.table("cur_gates")
        .as[(Long, String, Int)].collect().toSeq.sorted
      val batch = graft.ext.Curation
        .gates(docs.toDF("doc_id", "text"), "doc_id", "text")
        .as[(Long, String, Int)].collect().toSeq.sorted
      assert(got == batch && batch.nonEmpty)
    } finally query.stop()
  }

  test("hash split/sampling on a stream equals the batch assignment (stateless)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ids = (0L until 500L).toSeq
    val stream = MemoryStream[Long]
    val query = graft.ext.Sampling
      .withSplit(stream.toDF().toDF("id"), col("id"), valPct = 10, testPct = 20)
      .where(graft.ext.Sampling.hashBucket(col("id"), 1000, "s1") < 100)
      .writeStream.format("memory").queryName("split_stream")
      .outputMode("append").start()
    try {
      val (b1, b2) = ids.splitAt(250)
      stream.addData(b1); query.processAllAvailable()
      stream.addData(b2); query.processAllAvailable()
      val got = spark.table("split_stream")
        .as[(Long, String)].collect().toSeq.sorted
      val batch = graft.ext.Sampling
        .withSplit(ids.toDF("id"), col("id"), valPct = 10, testPct = 20)
        .where(graft.ext.Sampling.hashBucket(col("id"), 1000, "s1") < 100)
        .as[(Long, String)].collect().toSeq.sorted
      assert(got == batch && batch.nonEmpty)
    } finally query.stop()
  }

  test("stream-static enrich equals the batch left join, unmatched kept") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = realEvents
    val (b1, b2) = evs.splitAt(evs.size / 2)
    // static dimension keyed by event_type; one type deliberately
    // missing so the left-join null path is exercised
    val dim = Seq(("click", 1L), ("view", 2L), ("error", 3L), ("signup", 4L))
      .toDF("event_type", "type_code")
    val stream = MemoryStream[Ev]
    val query = StreamingQueries.enrich(stream.toDF(), dim, Seq("event_type"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      stream.addData(b1)
      query.processAllAvailable()
      stream.addData(b2)
      query.processAllAvailable()
      val got = spark.table("enriched")
        .select(col("ts"), col("event_type"), col("type_code"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq.sorted
      val expect = evs.toDF()
        .join(dim, Seq("event_type"), "left")
        .select(col("ts"), col("event_type"), col("type_code"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq.sorted
      assert(got == expect)
      // purchase events have no dimension row and must still be present
      assert(got.exists(_._3 == -1L))
    } finally query.stop()
  }

  test("stream-stream interval join equals the batch banded rangeJoin") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // user-keyed events: clicks in the 2 hours before each error —
    // same predicate as ext_rel_range_join, tiny scale
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val errs = ev.where(col("event_type") === "error")
      .select("user_id", "ts", "event_id")
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val errSeq = errs.as[(Long, Timestamp, Long)].collect()
      .map(x => KeyedEv(x._1, x._2, x._3)).toSeq.sortBy(_.ts.getTime)
    val clkSeq = clicks.as[(Long, Timestamp, Long)].collect()
      .map(x => KeyedEv(x._1, x._2, x._3)).toSeq.sortBy(_.ts.getTime)
    val lStream = MemoryStream[KeyedEv]
    val rStream = MemoryStream[KeyedEv]
    val joined = StreamingQueries.intervalJoin(
      lStream.toDF(), rStream.toDF(), Seq("user_id"), "ts", "ts",
      lowerMs = -7200000L, upperMs = 0L, watermark = "10 minutes")
    val query = joined
      .select(col("l_event_id"), col("r_event_id"))
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      // two microbatches per side, split mid-stream
      val (l1, l2) = errSeq.splitAt(errSeq.size / 2)
      val (r1, r2) = clkSeq.splitAt(clkSeq.size / 2)
      lStream.addData(l1); rStream.addData(r1)
      query.processAllAvailable()
      lStream.addData(l2); rStream.addData(r2)
      query.processAllAvailable()
      val got = spark.table("ivj")
        .as[(Long, Long)].collect().toSet
      val batch = graft.ext.TimeJoin.rangeJoin(errs, clicks, Seq("user_id"),
          "ts", "ts", -7200000L, 0L)
        .select(col("l_event_id"), col("r_event_id"))
        .as[(Long, Long)].collect().toSet
      assert(got == batch)
      assert(batch.nonEmpty) // sanity: the differential isn't vacuous
    } finally query.stop()
  }

  test("left-outer interval join emits watermark-proven unmatched rows, equals batch left join") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // clicks in the 30 minutes before each error: narrow enough that
    // many errors have NO click in range — the outer rows under test
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val errs = ev.where(col("event_type") === "error")
      .select("user_id", "ts", "event_id")
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "ts", "event_id")
    val errSeq = errs.as[(Long, Timestamp, Long)].collect()
      .map(x => KeyedEv(x._1, x._2, x._3)).toSeq.sortBy(_.ts.getTime)
    val clkSeq = clicks.as[(Long, Timestamp, Long)].collect()
      .map(x => KeyedEv(x._1, x._2, x._3)).toSeq.sortBy(_.ts.getTime)
    val lStream = MemoryStream[KeyedEv]
    val rStream = MemoryStream[KeyedEv]
    val joined = StreamingQueries.intervalJoin(
      lStream.toDF(), rStream.toDF(), Seq("user_id"), "ts", "ts",
      lowerMs = -1800000L, upperMs = 0L, watermark = "10 minutes",
      joinType = "left_outer")
    val query = joined
      .select(col("l_event_id"), col("r_event_id"))
      .writeStream.format("memory").queryName("ivjo").outputMode("append").start()
    try {
      val (l1, l2) = errSeq.splitAt(errSeq.size / 2)
      val (r1, r2) = clkSeq.splitAt(clkSeq.size / 2)
      lStream.addData(l1); rStream.addData(r1)
      query.processAllAvailable()
      lStream.addData(l2); rStream.addData(r2)
      query.processAllAvailable()
      // outer rows only flush once the watermark PROVES no match can
      // still arrive: advance both inputs a day past the data with a
      // sentinel (whose own outer emission stays pending — it never
      // appears in the output, asserted below)
      val maxTs = (errSeq ++ clkSeq).map(_.ts.getTime).max
      val sentinel = KeyedEv(-1L, new Timestamp(maxTs + 86400000L), -1L)
      lStream.addData(Seq(sentinel)); rStream.addData(Seq(sentinel))
      query.processAllAvailable()
      val got = spark.table("ivjo")
        .select(col("l_event_id"), col("r_event_id"))
        .as[(Long, Option[Long])].collect().toSet
      val batch = graft.ext.TimeJoin.rangeJoin(errs, clicks, Seq("user_id"),
          "ts", "ts", -1800000L, 0L, joinType = "left")
        .select(col("l_event_id"), col("r_event_id"))
        .as[(Long, Option[Long])].collect().toSet
      assert(!got.exists(_._1 == -1L), "sentinel must stay pending, not emit")
      assert(got == batch)
      val unmatched = batch.count(_._2.isEmpty)
      assert(unmatched > 0, "differential is vacuous without outer rows")
      assert(batch.exists(_._2.nonEmpty), "and without matched rows")
    } finally query.stop()
  }

  test("streaming dedupByKey keeps one row per key across microbatches, state bounded by watermark") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 86400000L
    // duplicate keys spread across batches, all within the watermark
    val b1 = Seq(("k1", base + 1000L), ("k2", base + 2000L), ("k1", base + 3000L))
    val b2 = Seq(("k2", base + 4000L), ("k3", base + 5000L), ("k1", base + 6000L))
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val src = stream.toDF().select(col("_1").as("key"),
      timestamp_millis(col("_2")).as("ts"))
    val query = StreamingQueries.dedupByKey(src, Seq("key"), watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      stream.addData(b1); query.processAllAvailable()
      stream.addData(b2); query.processAllAvailable()
      val got = spark.table("dedup_stream")
        .select(col("key"), expr("unix_millis(ts)"))
        .as[(String, Long)].collect().toSeq.sorted
      // exactly one row per key, and it is the FIRST arrival's row
      assert(got == Seq(("k1", base + 1000L), ("k2", base + 2000L), ("k3", base + 5000L)))
    } finally query.stop()
  }

  test("flatMapGroupsWithState sessionization equals the batch fold oracle") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gapMs = 5L * 60 * 1000
    val evs = realEvents.map(e => (e.event_type, e.ts.getTime)).sortBy(_._2)
    val (b1, b2) = evs.splitAt(evs.size / 2)
    // sentinel advances the watermark far enough to time out and emit
    // every real session; its own (still-open) session is excluded
    val sentinel = ("zzz_sentinel", evs.last._2 + 24L * 3600 * 1000)
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val src = stream.toDF().select(col("_1").as("key"),
      timestamp_millis(col("_2")).as("ts"))
    val query = graft.streaming.Sessionize.sessions(src, gapMs)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      stream.addData(b1); query.processAllAvailable()
      stream.addData(b2); query.processAllAvailable()
      stream.addData(Seq(sentinel)); query.processAllAvailable()
      val got = spark.table("sessions")
        .select(col("key"), expr("unix_millis(start)"),
          expr("unix_millis(end)"), col("n_events"))
        .as[(String, Long, Long, Long)].collect().toSeq
        .filter(_._1 != "zzz_sentinel").sorted
      val want = graft.streaming.Sessionize.sessionizeSeq(evs, gapMs).sorted
      assert(got == want)
    } finally query.stop()
  }

  test("streaming incremental dedup keeps exactly the batch twin's new-fingerprint set") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ext.{Dedup, Hashing}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val corpus = docs.filter(_._1 % 20 != 7)
    // the ingest: the 5% slice PLUS deliberate collisions — two corpus
    // texts re-ingested under fresh ids (must drop against the store)
    // and an in-batch duplicate pair SPLIT ACROSS microbatches (must
    // drop against stream state, one survivor)
    val probe = "graft stream dup probe"
    val batch = docs.filter(_._1 % 20 == 7) ++ Seq(
      (900001L, corpus.head._2), (900002L, corpus(1)._2), (900003L, probe))
    val late = Seq((900004L, probe))
    val store = Dedup.fingerprintStore(corpus.toDF("doc_id", "text"), "text")
      .collect().map(_.getLong(0)).toSeq.toDF("fp") // static, fully materialized
    val expected = Dedup.incrementalExact(
        (batch ++ late).toDF("doc_id", "text"), "doc_id", "text", store)
      .select(Hashing.h60(col("text"))).as[Long].collect().toSet
    val stream = MemoryStream[(Long, String)]
    val src = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"),
      timestamp_millis(col("_1")).as("ts")) // synthetic event time
    val query = StreamingQueries.incrementalDedup(src, store,
        watermark = "365 days") // nothing expires inside the test
      .writeStream.format("memory").queryName("inc_dedup")
      .outputMode("append").start()
    try {
      stream.addData(batch); query.processAllAvailable()
      stream.addData(late); query.processAllAvailable()
      val got = spark.table("inc_dedup")
        .select(Hashing.h60(col("text"))).as[Long].collect().toSeq
      assert(got.size == got.toSet.size, "a fingerprint was emitted twice")
      assert(got.toSet == expected,
        s"${(got.toSet -- expected).size} extra, ${(expected -- got.toSet).size} missing")
      assert(expected.nonEmpty && got.size < batch.size + late.size,
        "the dedup must actually drop the injected collisions")
    } finally query.stop()
  }

  test("Tables.loadStream replays the fixture with the batch loader's schema and epochs") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = "/root/testdata/sf0.001"
    val batch = Tables.events(spark, dir)
    val stream = Tables.loadStream(spark, dir, "events")
    // schema parity incl. the ts normalization: a writer-encoding
    // drift that the batch loader absorbs must not leak through the
    // streaming path either (the streaming twin of FixtureSchemaSpec)
    assert(stream.schema == batch.schema,
      s"stream ${stream.schema.treeString} vs batch ${batch.schema.treeString}")
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val q = stream.select(col("event_id"), col("ts"))
      .writeStream.format("memory").queryName("loadstream_events")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("loadstream_events")
    // replay completeness + epoch equality, order-independent: same
    // row count and same (id, unix_micros) checksum as the batch read
    def sig(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(count(lit(1)), sum(col("event_id") % 1000000007L),
          sum(unix_micros(col("ts")) % 1000000007L))
        .collect().head.toSeq.map(_.asInstanceOf[Long])
    assert(sig(got) == sig(batch.select(col("event_id"), col("ts"))))
  }

  test("TIMESTAMP_NTZ event time fails loudly at construction, never silently shifts epochs") {
    // raw read, bypassing Tables' normalization: the tz-less fixture
    // surfaces ts as TIMESTAMP_NTZ (the round-8 writer refresh).
    // Spark 4's encoder would resolve the NTZ deserializer silently
    // (verified: `.as[Ev]` analyzes fine), reinterpreting wall-clock
    // as session-zone instants — epoch-shifting under non-UTC. The
    // typed sessionize path therefore guards explicitly; this pins
    // the loud failure.
    val ntz = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_type").as("key"), col("ts"))
    assert(ntz.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Sessionize.sessions(ntz, gapMs = 3600000L)
    }
    assert(e.getMessage.contains("timestamp_ntz"), e.getMessage.take(300))
  }

  test("gated stream queries restore the session's shuffle partitions after their replay") {
    // ExtStreamQueries runs replays under 8 state partitions, and every
    // store-maintenance entry point runs its body with AQE off at a
    // key-count-sized width; each MUST restore the session's settings
    // before returning, also when it throws — a leak would silently run
    // every later batch query in the same session narrow or AQE-free, a
    // performance bug no correctness gate would catch
    import spark.implicits._
    import graft.streaming.{BucketStore, StreamIngest, StreamMatview, StreamMerge}
    val parts = "spark.sql.shuffle.partitions"
    val aqe = "spark.sql.adaptive.enabled"
    def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString
    def snapshot = spark.range(0, 40).select(col("id").as("k"),
      concat(lit("seg"), col("id") % 4).as("seg"), (col("id") * 10).as("cents"),
      lit("U").as("op"), lit(-1L).as("seq"))
    def batch(keys: Long*) = keys.map(k => (k, "seg1", k * 3, "U", 0L))
      .toDF("k", "seg", "cents", "op", "seq")
    def purgeList = Seq(5L, 9L).toDF("k")
    val mergeStore = tmp("graft_conf_merge")
    StreamMerge.seed(snapshot, mergeStore, "k")
    val ingestStore = tmp("graft_conf_ingest")
    StreamIngest.seed(spark.range(0, 20).select(concat(lit("doc "), col("id")).as("text")),
      "text", ingestStore)
    // one (store, view) pair per matview flavour: its trigger, then its purge
    def stores(v: String) = (tmp(s"graft_conf_${v}_store"), tmp(s"graft_conf_${v}_agg"))
    val (sumSt, sumAg) = stores("sum")
    StreamMatview.seed(snapshot, sumSt, sumAg, "k", "op", Seq("seg"), "cents")
    val (mmSt, mmAg) = stores("minmax")
    StreamMatview.seedMinMax(snapshot, mmSt, mmAg, "k", "op", Seq("seg"), "cents")
    val (skSt, skAg) = stores("sketch")
    StreamMatview.seedSketch(snapshot, skSt, skAg, "k", "op", Seq("seg"), "cents", k = 4)
    val cases: Seq[(String, () => Any)] = Seq(
      "ext_stream_dedup" -> (() =>
        SparkEntry.queries("ext_stream_dedup")(spark, "/root/testdata/sf0.001").collect()),
      "StreamMerge.applyBatch" -> (() => StreamMerge.applyBatch(batch(1L, 50L), 0L,
        mergeStore, "k", "op", Seq("seq"))),
      "StreamIngest.applyBatch" -> (() => StreamIngest.applyBatch(
        Seq((100L, "doc 3"), (101L, "a new doc")).toDF("doc_id", "text"), 0L,
        ingestStore, "doc_id", "text")),
      "StreamMatview.applyBatch" -> (() => StreamMatview.applyBatch(batch(1L, 50L), 0L,
        sumSt, sumAg, "k", "op", Seq("seq"), Seq("seg"), "cents")),
      "StreamMatview.purgeKeys" -> (() => StreamMatview.purgeKeys(spark, sumSt,
        sumAg, purgeList, "k", "op", Seq("seg"), "cents")),
      "StreamMatview.applyBatchMinMax" -> (() => StreamMatview.applyBatchMinMax(
        batch(1L, 50L), 0L, mmSt, mmAg, "k", "op", Seq("seq"),
        Seq("seg"), "cents")),
      "StreamMatview.purgeKeysMinMax" -> (() => StreamMatview.purgeKeysMinMax(spark,
        mmSt, mmAg, purgeList, "k", "op", Seq("seg"), "cents")),
      "StreamMatview.applyBatchSketch" -> (() => StreamMatview.applyBatchSketch(
        batch(1L, 50L), 0L, skSt, skAg, "k", "op", Seq("seq"),
        Seq("seg"), "cents", k = 4)),
      "StreamMatview.purgeKeysSketch" -> (() => StreamMatview.purgeKeysSketch(spark,
        skSt, skAg, purgeList, "k", "op", Seq("seg"), "cents",
        k = 4)),
      "BucketStore.purgeKeys" -> (() =>
        BucketStore.purgeKeys(spark, mergeStore, purgeList, "k")),
      // the broadcast guard throws after the scope has turned AQE off
      "StreamMerge.applyBatch over maxBroadcastKeys" -> (() => {
        val e = intercept[IllegalArgumentException](StreamMerge.applyBatch(
          batch(2L, 3L, 4L), 1L, mergeStore, "k", "op", Seq("seq"), maxBroadcastKeys = 2L))
        assert(e.getMessage.contains("split the batch"), e.getMessage)
      }),
      // the view purge's guard fires inside its one scope, before either
      // store is written
      "StreamMatview.purgeKeys over maxBroadcastKeys" -> (() => {
        val before = Seq(sumSt, sumAg).map(BucketStore.versions(spark, _))
        val e = intercept[IllegalArgumentException](StreamMatview.purgeKeys(spark,
          sumSt, sumAg, Seq(1L, 2L, 3L).toDF("k"), "k", "op", Seq("seg"), "cents",
          maxBroadcastKeys = 2L))
        assert(e.getMessage.contains("split the purge list"), e.getMessage)
        assert(Seq(sumSt, sumAg).map(BucketStore.versions(spark, _)) == before,
          "the purge over maxBroadcastKeys must not have committed a version")
      }))
    val before = Seq(parts, aqe).map(k => k -> spark.conf.get(k))
    try {
      // sentinels distinct from the replay's 8, the maintenance widths
      // (1 at these key counts) and the maintenance AQE setting (off)
      spark.conf.set(parts, "13")
      spark.conf.set(aqe, "true")
      cases.foreach { case (name, run) =>
        run()
        assert(spark.conf.get(parts) == "13",
          s"$name leaked shuffle partitions ${spark.conf.get(parts)} into the session")
        assert(spark.conf.get(aqe) == "true",
          s"$name leaked AQE = ${spark.conf.get(aqe)} into the session")
        assert(spark.sparkContext.getLocalProperty("spark.job.description") == null,
          s"$name left a job description on the calling thread")
      }
      assert(BucketStore.latestBatch(spark, mergeStore).contains(0L),
        "the batch over maxBroadcastKeys must not have been applied")
      assert(StreamMerge.snapshot(spark, mergeStore, "op", Seq("seq"))
        .where(col("k").isin(5L, 9L)).count() == 0, "the purge must have erased 5 and 9")
    } finally before.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("gated stream results are identical under the RocksDB state store provider") {
    // the provider a big-state production deployment runs; not
    // adopted for the bench (measured no win at fixture state sizes)
    // but the results contract must hold under it
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    def run(): Seq[String] =
      SparkEntry.queries("ext_stream_dedup")(spark, "/root/testdata/sf0.001")
        .collect().map(_.toString).toSeq
    val default = run()
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      assert(run() == default,
        "RocksDB state store changed the settled dedup result")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
