package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ext.Changelog
import graft.streaming.{BucketStore, StreamMatview}

/** `view_maintenance`: one seeded snapshot and changelog drive the
  * public fold bodies directly, without structured streaming. The
  * three view flavours (count/sum, min/max, sketched min/max) each keep
  * their own snapshot-store and view-store pair, seeded in set-up.
  *
  * Ops repeat a cycle, and a run stops only between cycles:
  *  - refresh folds the next changelog batch into all three flavours
  *    (`applyBatch`, `applyBatchMinMax`, `applyBatchSketch`);
  *  - read materializes a pinned `BucketStore.read` of each snapshot
  *    store at its previous version;
  *  - purge erases the next seeded key set from all three flavours
  *    (`purgeKeys`, `purgeKeysMinMax`, `purgeKeysSketch`).
  * The untraced run's cycle is refresh, read, refresh, read: two samples
  * of the gated refresh. The traced run's is refresh, read, purge; a
  * purge costs more than half a refresh and gates nothing, so only the
  * traced run, which reports it, pays for it.
  *
  * Checks: each view equals its `Changelog.aggSnapshot*` recompute over
  * its snapshot store, a pinned read returns the rows that version had
  * when it was committed, and purged keys leave zero rows.
  */
final class ViewMaintenance(spark: SparkSession, o: Opts, t: Trace) extends Workload {
  import ViewMaintenance._

  private val nKeys = if (o.smoke) 400 else 20000
  private val batchRows = if (o.smoke) 20 else 1000
  private val nBatches = 12
  private val purgeSize = if (o.smoke) 6 else 40
  private val root = new File(o.work, "view")
  private var log: Gen.Changelog = _
  private var dirs: File = _
  private var logDir: String = ""
  private var batchBytes: Array[Long] = Array.empty
  private var nextBatch = 0
  private var nextPurge = 0
  // rows of each snapshot store as each of its versions was committed
  private val versionRows = mutable.HashMap.empty[(String, Long), Long]
  private var corrupt = false
  private val written = mutable.ArrayBuffer.empty[(String, Long)]
  private val touched = mutable.ArrayBuffer.empty[(String, Double)]
  private val viewReads = mutable.ArrayBuffer.empty[Double]

  val primaryKind = "refresh"

  private val cycle: IndexedSeq[String] =
    if (o.trace) IndexedSeq("refresh", "read", "purge")
    else IndexedSeq("refresh", "read", "refresh", "read")

  /** Runs stop only between whole cycles, so every run of a mode times
    * the same mix.
    */
  override def mayStop(i: Int): Boolean = i % cycle.size == 0

  private def store(v: String) = new File(dirs, s"$v/store").getPath
  private def agg(v: String) = new File(dirs, s"$v/view").getPath

  def prepare(rep: Int): Unit = {
    import spark.implicits._
    log = Gen.changelog(o.seed, nKeys, Segs, batchRows, nBatches, purgeSize)
    dirs = new File(root, s"rep$rep")
    logDir = new File(dirs, "log").getPath
    log.batches.zipWithIndex.flatMap { case (b, i) => b.map(c => (i, c)) }
      .map { case (i, c) => (i, c.k, c.seg, c.cents, c.op, c.seq) }
      .toDF("b", "k", "seg", "cents", "op", "seq")
      .repartition(col("b")).write.partitionBy("b").parquet(logDir)
    batchBytes = log.batches.indices.map { i =>
      Option(new File(logDir, s"b=$i").listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }.toArray
    val snap = log.snapshot.map(c => (c.k, c.seg, c.cents, c.op, c.seq))
      .toDF("k", "seg", "cents", "op", "seq")
    StreamMatview.seed(snap, store("sum"), agg("sum"), "k", "op", Dims, "cents")
    StreamMatview.seedMinMax(snap, store("minmax"), agg("minmax"), "k", "op", Dims, "cents")
    StreamMatview.seedSketch(snap, store("sketch"), agg("sketch"), "k", "op", Dims, "cents",
      k = SketchK)
    versionRows.clear()
    Flavours.foreach { v =>
      BucketStore.latestVersion(spark, store(v)).foreach(n => versionRows((v, n)) = nKeys.toLong)
    }
    nextBatch = 0
    nextPurge = 0
    written.clear(); touched.clear(); viewReads.clear()
  }

  def inputs: String =
    s"view_maintenance snapshot_keys=$nKeys dims=$Segs batches=${log.batches.size} " +
      s"rows_per_batch=$batchRows batch_bytes=${if (batchBytes.isEmpty) 0 else batchBytes.sum / batchBytes.length} " +
      f"delete_share=${log.deleteShare}%.3f boundary_deletes=${log.boundaryDeletes} " +
      s"keys_touched=${log.keysTouched} purges=${log.purges.size} purge_keys=$purgeSize " +
      s"state_over_batch=${nKeys / batchRows} sketch_k=$SketchK"

  /** Each op kind of the cycle once, without its checks, on the first
    * set-up's stores, which the later set-ups replace: the first
    * refresh, read and purge in a JVM compile their code and run up to
    * half as long again as later ones.
    */
  def warm(): Unit = {
    val span = new Span(0L, 0L, 0L, "op", "warm", System.currentTimeMillis(), -1L)
    cycle.distinct.foreach(k => op(cycle.indexOf(k)).run(span))
  }

  private def batch(i: Int): DataFrame =
    spark.read.parquet(new File(logDir, s"b=$i").getPath)

  private def refresh(span: Span, v: String, b: Int): Unit = v match {
    case "sum" => t.layer(span, "streaming.applyBatch.sum")(StreamMatview.applyBatch(batch(b),
      b.toLong, store(v), agg(v), "k", "op", Seq("seq"), Dims, "cents"))
    case "minmax" => t.layer(span, "streaming.applyBatchMinMax.minmax")(StreamMatview
      .applyBatchMinMax(batch(b), b.toLong, store(v), agg(v), "k", "op", Seq("seq"), Dims, "cents"))
    case "sketch" => t.layer(span, "streaming.applyBatchSketch.sketch")(StreamMatview
      .applyBatchSketch(batch(b), b.toLong, store(v), agg(v), "k", "op", Seq("seq"), Dims, "cents",
        k = SketchK))
  }

  private def read(span: Span, v: String): (Long, DataFrame) = {
    val at = BucketStore.versions(spark, store(v)).sorted.dropRight(1).last
    t.layer(span, s"streaming.BucketStore.read.$v") {
      val df = BucketStore.read(spark, store(v), at = Some(at)).get
      df.write.format("noop").mode("overwrite").save()
      (at, df)
    }
  }

  private def purgeKeys(p: Int): DataFrame = {
    import spark.implicits._
    log.purges(p % log.purges.size).toDF("k")
  }

  private def purge(span: Span, v: String, p: Int): Unit = {
    val keys = purgeKeys(p)
    v match {
      case "sum" => t.layer(span, "streaming.purgeKeys.sum")(StreamMatview.purgeKeys(spark,
        store(v), agg(v), keys, "k", "op", Dims, "cents"))
      case "minmax" => t.layer(span, "streaming.purgeKeysMinMax.minmax")(StreamMatview
        .purgeKeysMinMax(spark, store(v), agg(v), keys, "k", "op", Dims, "cents"))
      case "sketch" => t.layer(span, "streaming.purgeKeysSketch.sketch")(StreamMatview
        .purgeKeysSketch(spark, store(v), agg(v), keys, "k", "op", Dims, "cents", k = SketchK))
    }
  }

  /** Bytes of every file under one flavour's two stores. */
  private def files(v: String): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f.getPath -> f.length)
    walk(new File(dirs, v)).toMap
  }

  /** Bytes of the files an op added or rewrote under the flavour's stores. */
  private def recordWrites(kind: String, v: String, before: Map[String, Long]): Unit =
    written += s"$kind.$v" -> files(v).collect {
      case (p, n) if !before.get(p).contains(n) => n
    }.sum

  /** The flavour's view against its recompute over its snapshot store. */
  private def checkView(v: String): Option[String] = {
    def canon(df: DataFrame, cs: Seq[String]): Seq[String] =
      df.select(cs.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted
    val cs = if (v == "sum") Seq("seg", "n", "sum") else Seq("seg", "n", "sum", "min", "max")
    val cur = BucketStore.read(spark, store(v)).get
    val s0 = System.nanoTime()
    val got = canon(if (v == "sketch") StreamMatview.viewSnapshotServed(spark, agg(v))
      else StreamMatview.viewSnapshot(spark, agg(v)), cs)
    if (v == "sketch") viewReads += (System.nanoTime() - s0) / 1e9
    val recompute = canon(if (v == "sum") Changelog.aggSnapshot(cur, "op", Dims, "cents")
      else Changelog.aggSnapshotMinMax(cur, "op", Dims, "cents"), cs)
    val want = if (corrupt) recompute.drop(1) else recompute
    if (got == want) None
    else Some(s"$v view differs from its recompute (${got.size} vs ${want.size} dims)")
  }

  private def commitRows(v: String): Unit =
    BucketStore.latestVersion(spark, store(v)).foreach { n =>
      versionRows((v, n)) = BucketStore.read(spark, store(v)).get.count()
    }

  /** The first error of each flavour's check, all flavours checked. */
  private def checkAll(each: String => Option[String]): Option[String] = {
    val errs = Flavours.flatMap(each)
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }

  def op(i: Int): Op = cycle(i % cycle.size) match {
    case "refresh" =>
      require(nextBatch < log.batches.size, s"changelog has only ${log.batches.size} batches")
      val b = nextBatch
      nextBatch += 1
      val before = Flavours.map(v => v -> files(v)).toMap
      Op("refresh", span => Flavours.foreach(v => refresh(span, v, b)), _ => checkAll { v =>
        recordWrites("refresh", v, before(v))
        val nv = BucketStore.latestVersion(spark, store(v)).get
        touched += v -> BucketStore.readManifest(spark, store(v), nv).owners.count(_._2 == nv).toDouble
        commitRows(v)
        checkView(v)
      }, s"b$b")
    case "read" =>
      Op("read", span => Flavours.map(v => v -> read(span, v)).toMap, out => {
        val got = out.asInstanceOf[Map[String, (Long, DataFrame)]]
        checkAll { v =>
          val (at, df) = got(v)
          val n = df.count()
          val want = versionRows.get((v, at)).map(_ + (if (corrupt) 1 else 0))
          if (want.contains(n)) None else Some(s"$v pinned read of version $at: $n rows, expected $want")
        }
      })
    case "purge" =>
      val p = nextPurge
      nextPurge += 1
      val before = Flavours.map(v => v -> files(v)).toMap
      Op("purge", span => Flavours.foreach(v => purge(span, v, p)), _ => checkAll { v =>
        recordWrites("purge", v, before(v))
        val left = BucketStore.read(spark, store(v)).get
          .join(purgeKeys(p), Seq("k"), "left_semi").count() + (if (corrupt) 1 else 0)
        commitRows(v)
        if (left != 0) Some(s"$v purge $p left $left rows of erased keys") else checkView(v)
      }, s"p$p")
  }

  def corruptExpected(): Unit = corrupt = true

  override def context(done: Seq[OpResult]): Map[String, Double] = {
    val refreshes = done.filter(_.kind == "refresh")
    val busy = refreshes.map(_.seconds).sum
    // each refresh folds one batch into every flavour
    val folded = refreshes.map(r => batchBytes(r.label.stripPrefix("b").toInt) * Flavours.size).sum
    Map(
      "ctx.changelog_rows_per_s" -> (if (busy > 0) refreshes.size * batchRows / busy else 0.0),
      "ctx.read_p50_s" -> Stats.median(done.filter(_.kind == "read").map(_.seconds)),
      "ctx.purge_p50_s" -> Stats.median(done.filter(_.kind == "purge").map(_.seconds)),
      "ctx.write_amp" -> (if (folded > 0) written.map(_._2).sum.toDouble / folded else 0.0))
  }

  override def layers(tr: Trace, done: Seq[OpResult]): Map[String, Double] = {
    val ok = done.filter(r => r.ok && r.span.isDefined)
    def calls(kind: String, v: String): Seq[Span] =
      ok.filter(_.kind == kind).flatMap(r => tr.children(r.span.get)).filter(_.name.endsWith(s".$v"))
    def phase(j: JobRec): String = Phases.find(p => j.desc.endsWith(s": $p")).getOrElse("")
    val trigJobs = Flavours.flatMap(v => calls("refresh", v)).flatMap(tr.jobsIn)
    val labelled = trigJobs.filter(j => phase(j).nonEmpty).map(_.dur).sum
    val all = trigJobs.map(_.dur).sum
    Flavours.flatMap { v =>
      val cs = calls("refresh", v)
      def mean(f: Span => Double): Double = if (cs.isEmpty) 0.0 else cs.map(f).sum / cs.size
      def phaseS(p: String)(c: Span): Double =
        Trace.unionSeconds(Trace.jobIntervals(tr.jobsIn(c).filter(phase(_) == p)), c.start, c.end)
      val ws = written.filter(_._1 == s"refresh.$v").map(_._2.toDouble)
      val tb = touched.filter(_._1 == v).map(_._2)
      Seq(
        s"streaming.$v.trigger_p50_s" -> Stats.median(cs.map(_.attrs("dur_s"))),
        s"streaming.$v.jobs_per_trigger" -> mean(c => tr.jobsIn(c).size.toDouble),
        s"streaming.$v.driver_gap_s" -> Stats.median(cs.map(c =>
          c.dur - Trace.unionSeconds(Trace.jobIntervals(tr.jobsIn(c)), c.start, c.end))),
        s"streaming.$v.probe_s" -> mean(phaseS("probe")),
        s"streaming.$v.fold_s" -> mean(phaseS("fold")),
        s"streaming.$v.view_commit_s" -> mean(phaseS("view commit")),
        s"streaming.$v.snapshot_merge_s" -> mean(phaseS("snapshot merge")),
        s"streaming.$v.store_scan_bytes" -> mean(c => tr.stagesOf(tr.jobsIn(c).filter(j =>
          Set("fold", "view commit")(phase(j)))).map(_.inputBytes.toDouble).sum),
        s"streaming.$v.bytes_written_per_trigger" -> (if (ws.isEmpty) 0.0 else ws.sum / ws.size),
        s"streaming.$v.touched_buckets" -> (if (tb.isEmpty) 0.0 else tb.sum / tb.size),
        s"streaming.$v.purge_s" -> Stats.median(calls("purge", v).map(_.attrs("dur_s"))))
    }.toMap ++ Map(
      "tables.scan_bytes" -> {
        val ops = ok.filter(_.kind == "refresh").flatMap(_.span)
        if (ops.isEmpty) 0.0
        else ops.map(op => tr.stagesOf(tr.jobsOf(op)).map(_.inputBytes.toDouble).sum).sum / ops.size
      },
      "streaming.pinned_read_s" -> Stats.median(Flavours.flatMap(v => calls("read", v)).map(_.attrs("dur_s"))),
      "streaming.view_read_s" -> Stats.median(viewReads.toSeq),
      "streaming.labelled_frac" -> (if (all > 0) labelled / all else 0.0))
  }
}

object ViewMaintenance {
  val Dims: Seq[String] = Seq("seg")
  val Segs = 8
  val SketchK = 8
  val Flavours: Seq[String] = Seq("sum", "minmax", "sketch")
  val Phases: Seq[String] = Seq("probe", "fold", "view commit", "snapshot merge")
}
