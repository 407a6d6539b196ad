package perfbench

import java.io.File
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run; see `perfbench/README.md`. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      root: File, smoke: Boolean, corrupt: Boolean, record: Boolean) {
  def work: File = new File(root, "perfbench/.work")
  def out: File = new File(root, "perfbench/out")
}

object Opts {
  def parse(argv: Array[String]): Opts = {
    val m = mutable.HashMap.empty[String, String]
    val flags = mutable.HashSet.empty[String]
    var i = 0
    while (i < argv.length) {
      val a = argv(i)
      require(a.startsWith("--"), s"unexpected argument: $a")
      if (Set("--smoke", "--corrupt", "--record")(a)) { flags += a; i += 1 }
      else {
        require(i + 1 < argv.length, s"$a needs a value")
        m(a) = argv(i + 1); i += 2
      }
    }
    Opts(m.getOrElse("--workload", sys.error("--workload is required")),
      m.getOrElse("--seed", "1").toLong, m.getOrElse("--seconds", "10").toInt,
      m.getOrElse("--trace", "0") == "1", new File(m.getOrElse("--root", ".")).getAbsoluteFile,
      flags("--smoke"), flags("--corrupt"), flags("--record"))
  }
}

/** What one op returned: its kind, wall seconds, whether its output
  * check passed, and the op span when it ran traced.
  */
final case class OpResult(kind: String, label: String, seconds: Double, ok: Boolean,
                          span: Option[Span])

/** One op of a closed loop: `run` does the timed work, `check` verifies
  * what it returned (None = correct). `label` names what the op ran.
  */
final case class Op(kind: String, run: Span => Any, check: Any => Option[String],
                    label: String = "")

/** A benchmark workload. The runner calls `prepare` [[Main.SetupReps]]
  * times (inputs and expected outputs, from the seed; the last set is
  * the one measured), and `warm` once, right after the first `prepare`
  * and on its inputs. Then it calls `op(i)` for i = 0, 1, ... until
  * the run's seconds are up, stopping only where `mayStop(i)`.
  */
trait Workload {
  def prepare(rep: Int): Unit
  def warm(): Unit
  def op(i: Int): Op
  def mayStop(i: Int): Boolean = true
  /** The ops `op_p50_s` and `ops_per_s` are taken over. */
  def primaryKind: String
  /** One line describing the generated inputs' size properties. */
  def inputs: String
  /** Workload-specific end-to-end context figures (ctx.*). */
  def context(done: Seq[OpResult]): Map[String, Double] = Map.empty
  /** Per-layer figures from the traced ops. */
  def layers(t: Trace, done: Seq[OpResult]): Map[String, Double] = Map.empty
  /** Drop what the last op left for the next one, before the heap is
    * measured.
    */
  def finish(): Unit = ()
  /** Make the expected outputs wrong, so every check must fail. */
  def corruptExpected(): Unit
}

object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val code =
      try run(Opts.parse(argv), t0)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    System.exit(code)
  }

  def session(o: Opts): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(o.work, "hadoop").getPath)
      .getOrCreate()
  }

  def workload(name: String, spark: SparkSession, o: Opts, trace: Trace): Workload = name match {
    case "batch_mix" =>
      new BatchMix(new MrText(spark, o, trace),
        if (o.trace) Some(new QueryMix(spark, o, trace)) else None, o.seconds)
    case "view_maintenance" => new ViewMaintenance(spark, o, trace)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Used heap after full GCs: the least of three, a little apart, so
    * that objects other threads are still letting go of do not count.
    */
  def liveHeapMb(): Double = (0 until 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }.min

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def run(o: Opts, t0: Long): Int = {
    require(new File(o.root, "src/main/scala/graft").isDirectory,
      s"${o.root} holds no library sources (src/main/scala/graft)")
    deleteTree(o.work)
    o.work.mkdirs()
    new File(o.work, "tmp").mkdirs()
    o.out.mkdirs()
    val spark = session(o)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (o.record) { QueryMix.record(spark, o); return 0 }
      val trace = new Trace(spark.sparkContext)
      if (o.trace) spark.sparkContext.addSparkListener(trace)
      val w = workload(o.workload, spark, o, trace)
      val sessionS = (System.nanoTime() - t0) / 1e9
      def timed(body: => Unit): Double = {
        val s = System.nanoTime()
        trace.ownJobs("setup")(body)
        (System.nanoTime() - s) / 1e9
      }
      // the warm-up runs on the first set-up's inputs, before the
      // others, so the repeated set-ups are timed on a warm JVM
      val first = timed(w.prepare(0))
      val warmS = timed(w.warm())
      val reps = first +: (1 until SetupReps).map(r => timed(w.prepare(r)))
      // set-up proper: what the workload builds before its first op.
      // Session start and warm-up are reported beside it (ctx.setup_*):
      // each happens once per JVM, so it cannot be repeated for a median
      val setupS = Stats.median(reps)
      println(s"# inputs ${w.inputs}")
      println(f"# setup session=${sessionS}%.3fs warm=${warmS}%.3fs prepare=${reps.map(r => f"$r%.3f").mkString("[", ",", "]")}s")
      if (o.corrupt) w.corruptExpected()

      val done = mutable.ArrayBuffer.empty[OpResult]
      val start = System.nanoTime()
      val deadline = start + o.seconds * 1000000000L
      var i = 0
      var rounds = 0 // whole rounds done: the stretches between `mayStop` points
      // the traced run alternates traced and untraced rounds, and runs
      // at least one of each; the difference is the tracing overhead
      def stop = i > 0 && w.mayStop(i) && System.nanoTime() >= deadline &&
        (!o.trace || rounds >= 2)
      while (!stop) {
        val op = w.op(i)
        val traced = o.trace && rounds % 2 == 0
        val span = trace.openOp(s"${op.kind} $i ${op.label}".trim, traced)
        val s = System.nanoTime()
        val out = try Right(op.run(span)) catch { case e: Throwable => Left(e) }
        val dt = (System.nanoTime() - s) / 1e9
        trace.closeOp(span)
        span.attrs("dur_s") = dt
        val err = out match {
          case Left(e) => Some(s"threw $e")
          case Right(v) => trace.ownJobs("check")(
            try op.check(v) catch { case e: Throwable => Some(s"check threw $e") })
        }
        err.foreach(e => System.err.println(s"[perfbench] op $i (${op.kind}) FAILED: $e"))
        println(s"# op $i ${op.kind} ${op.label} ${Json.num(dt)}s ${if (err.isEmpty) "ok" else "FAILED"}")
        done += OpResult(op.kind, op.label, dt, err.isEmpty, if (traced) Some(span) else None)
        i += 1
        if (w.mayStop(i)) rounds += 1
      }
      val measured = (System.nanoTime() - start) / 1e9
      if (o.trace) trace.drain()

      w.finish()
      // the library releases cached blocks asynchronously (unpersist
      // with blocking = false); release what is left before measuring,
      // so the figure does not depend on how far that got
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val heapMb = liveHeapMb()

      val failed = done.count(!_.ok)
      val good = done.filter(_.ok)
      val prim = good.filter(_.kind == w.primaryKind).map(_.seconds).toSeq
      val (tailPct, tailV) = Stats.tail(prim)
      val p50 = Stats.median(prim)
      val rate = if (prim.sum > 0) prim.size / prim.sum else 0.0
      val ctx = Map(
        "ctx.setup_session_s" -> sessionS,
        "ctx.setup_warm_s" -> warmS,
        "ctx.failed_frac" -> failed.toDouble / done.size,
        "ctx.op_tail_s" -> tailV,
        "ctx.op_tail_pct" -> tailPct,
        "ctx.op_count" -> prim.size.toDouble) ++ w.context(good.toSeq)
      val e2e: Seq[(String, Double)] = Seq(
        "setup_s" -> setupS,
        "op_p50_s" -> p50,
        "ops_per_s" -> rate,
        "live_heap_mb" -> heapMb)
      println(s"# ops attempted=${done.size} failed=$failed measured_s=${Json.num(measured)} " +
        s"by_kind=${done.groupBy(_.kind).map { case (k, v) => s"$k:${v.size}" }.mkString(",")}")
      println("# end_to_end " + e2e.map { case (k, v) =>
        s"$k=${Json.num(v)}${Metrics.unitOf(k)}" }.mkString(" "))
      println("# context " + Metrics.context.map { case (k, u) =>
        s"$k=${Json.num(ctx.getOrElse(k, 0.0))}$u" }.mkString(" "))

      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) e2e.map { case (k, v) => (k, v, Metrics.unitOf(k)) }
        else {
          val lay = w.layers(trace, done.toSeq) ++ ctx ++ generic(trace, done.toSeq, w)
          val traceFile = new File(o.out, s"trace_${o.workload}_${o.seed}.jsonl")
          trace.write(traceFile)
          println(s"# spans written to ${o.root.toPath.relativize(traceFile.toPath)}")
          Metrics.perLayer.map { case (k, u) => (k, lay.getOrElse(k, 0.0), u) }
        }
      val correct = failed == 0
      println("{" + Seq(
        s""""correct": $correct""",
        s""""attempted": ${done.size}""",
        s""""failed": $failed""",
        """"metrics": """ + metrics.map { case (k, v, u) =>
          s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
        }.mkString("{", ", ", "}")).mkString(", ") + "}")
      if (correct) 0 else 1
    } finally {
      spark.stop()
    }
  }

  /** Trace figures every workload reports: attribution, overhead and
    * each span level's self time (mean per traced op).
    */
  private def generic(t: Trace, done: Seq[OpResult], w: Workload): Map[String, Double] = {
    val prim = done.filter(r => r.ok && r.kind == w.primaryKind)
    val tr = prim.filter(_.span.isDefined).map(_.seconds)
    val un = prim.filter(_.span.isEmpty).map(_.seconds)
    val over = if (tr.nonEmpty && un.nonEmpty) Stats.median(tr) - Stats.median(un) else 0.0
    val ops = t.opSpans
    def perOp(f: Span => Double): Double = if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size
    def layerSelf(prefix: String)(op: Span): Double =
      t.children(op).filter(_.name.startsWith(prefix)).map { c =>
        c.dur - Trace.unionSeconds(Trace.jobIntervals(t.jobsIn(c)), c.start, c.end)
      }.sum
    Map(
      "trace.jobs" -> t.jobs.size.toDouble,
      "trace.jobs_outside_op" -> t.jobsOutsideOps.toDouble,
      "trace.unattributed_job_s" -> t.unattributedJobMs / 1000.0,
      "trace.overhead_p50_s" -> over,
      "trace.overhead_frac" -> (if (un.nonEmpty && Stats.median(un) > 0) over / Stats.median(un) else 0.0),
      "trace.self.op_s" -> perOp { op =>
        op.dur - Trace.unionSeconds(t.children(op).map(c => (c.start, c.end)), op.start, op.end) },
      "trace.self.engine_s" -> perOp(layerSelf("engine.")),
      "trace.self.queries_s" -> perOp(layerSelf("queries.")),
      "trace.self.streaming_s" -> perOp(layerSelf("streaming.")),
      "trace.self.job_s" -> perOp { op =>
        t.jobsOf(op).map(j => j.dur - Trace.unionSeconds(
          t.stagesOf(Seq(j)).map(s => (s.submitted, s.completed)), j.start, j.end)).sum },
      "trace.self.stage_s" -> perOp(op => t.stagesOf(t.jobsOf(op)).map(_.dur).sum))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile with at least ten samples above it,
    * and its value (nearest rank). Below 20 samples that percentile is
    * under the median (or does not exist), so the tail is then the
    * maximum (percentile 100).
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else if (xs.size < 20) (100.0, xs.max)
    else {
      val s = xs.sorted
      val n = s.size
      val pct = math.floor(100.0 * (n - 10) / n)
      val rank = math.max(1, math.ceil(pct / 100.0 * n).toInt)
      (pct, s(rank - 1))
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A finite number with all its measured digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else String.format(Locale.ROOT, "%.9g", Double.box(v)).trim
}
