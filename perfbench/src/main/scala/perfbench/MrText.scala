package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.apps.Apps
import graft.engine.{MapReduce, SequentialOracle}

/** The job half of `batch_mix`, the paper's own job. Each op runs `engine.MapReduce.run`
  * with `apps.Apps.WordCount` and nReduce = 10 over a seeded corpus of
  * at least 2 × cores files with the reference's skewed sizes, and
  * checks the sorted `key value` lines of the output files against
  * `engine.SequentialOracle`.
  */
final class MrText(spark: SparkSession, o: Opts, t: Trace) {
  private val NReduce = 10
  private val cores = Runtime.getRuntime.availableProcessors()
  private val nFiles = math.max(8, 2 * cores)
  private val dir = new File(o.work, "mr")
  private var corpus: Gen.Corpus = _
  private var paths: Seq[String] = Nil
  private var expected: IndexedSeq[String] = IndexedSeq.empty

  def prepare(rep: Int): Unit = {
    val in = new File(dir, s"in$rep")
    in.mkdirs()
    corpus = Gen.corpus(o.seed, nFiles, if (o.smoke) 0.02 else 1.0)
    paths = corpus.files.map { case (name, text) =>
      val f = new File(in, name)
      Files.write(f.toPath, text.getBytes("UTF-8"))
      f.getPath
    }
    expected = SequentialOracle.run(corpus.files, Apps.WordCount.map, Apps.WordCount.reduce)
      .map { case (k, v) => s"$k $v" }.sorted.toIndexedSeq
  }

  def inputs: String = {
    val sizes = corpus.files.map(_._2.getBytes("UTF-8").length)
    s"mr_text files=${corpus.files.size} bytes=${corpus.bytes} " +
      s"file_bytes_min=${sizes.min} file_bytes_max=${sizes.max} vocabulary=${corpus.vocabulary} " +
      s"distinct_words=${expected.size} n_reduce=$NReduce"
  }

  private def job(out: File): Unit =
    MapReduce.run(spark, paths, NReduce, Apps.WordCount.map, Apps.WordCount.reduce, out.getPath)

  def warm(): Unit = (0 until 5).foreach(_ => job(new File(dir, "warm")))

  def op(i: Int): Op = {
    val out = new File(dir, "out")
    Op("job", span => { t.layer(span, "engine.MapReduce.run")(job(out)); out }, _ => check(out))
  }

  private def check(out: File): Option[String] = {
    val parts = Option(out.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val got = parts.toIndexedSeq.flatMap(f =>
      Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala).sorted
    if (got == expected) None
    else {
      val firstDiff = got.zip(expected).indexWhere { case (a, b) => a != b }
      Some(s"output differs from the sequential oracle: ${got.size} lines vs " +
        s"${expected.size} expected, first difference at line $firstDiff")
    }
  }

  def corruptExpected(): Unit =
    expected = expected.updated(0, expected(0) + "0").sorted

  def context(done: Seq[OpResult]): Map[String, Double] = {
    val jobs = done.filter(_.kind == "job")
    val busy = jobs.map(_.seconds).sum
    Map("ctx.mr_input_mb_per_s" -> (if (busy > 0) jobs.size * corpus.bytes / 1e6 / busy else 0.0))
  }

  def layers(tr: Trace, done: Seq[OpResult]): Map[String, Double] = {
    val ops = done.filter(r => r.ok && r.kind == "job").flatMap(_.span)
    def mean(f: Span => Double): Double = if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size
    def stagesOf(op: Span) = tr.stagesOf(tr.jobsOf(op))
    def isMap(s: StageRec) = s.inputBytes > 0 && s.shuffleWriteBytes > 0
    def isSink(s: StageRec) = s.outputBytes > 0
    def isReduce(s: StageRec) = !isMap(s) && !isSink(s) && s.shuffleReadBytes > 0
    def sumOf(op: Span, p: StageRec => Boolean, f: StageRec => Double) =
      stagesOf(op).filter(p).map(f).sum
    val all: StageRec => Boolean = _ => true
    // the tokenizer alone, one driver thread over the in-memory corpus
    val tokenize = (0 until 3).map { _ =>
      val s = System.nanoTime()
      var n = 0L
      corpus.files.foreach { case (f, c) => n += Apps.WordCount.map(f, c).size }
      corpus.bytes / 1e6 / ((System.nanoTime() - s) / 1e9)
    }
    Map(
      "tables.scan_bytes" -> mean(op => sumOf(op, all, _.inputBytes.toDouble)),
      "engine.map_stage_s" -> mean(op => sumOf(op, isMap, _.dur)),
      "engine.reduce_stage_s" -> mean(op => sumOf(op, isReduce, _.dur)),
      "engine.sink_stage_s" -> mean(op => sumOf(op, isSink, _.dur)),
      "engine.plan_s" -> mean { op =>
        val js = tr.jobsOf(op)
        if (js.isEmpty) 0.0 else (js.map(_.start).min - op.start) / 1000.0
      },
      "engine.shuffle_write_bytes" -> mean(op => sumOf(op, all, _.shuffleWriteBytes.toDouble)),
      "engine.shuffle_records" -> mean(op => sumOf(op, all, _.shuffleWriteRecords.toDouble)),
      "engine.spill_bytes" -> mean(op => sumOf(op, all, _.spillBytes.toDouble)),
      "engine.output_bytes" -> mean(op => sumOf(op, all, _.outputBytes.toDouble)),
      "engine.gc_s" -> mean(op => sumOf(op, all, _.gcMs / 1000.0)),
      "engine.map_task_skew" -> mean { op =>
        val ts = stagesOf(op).filter(isMap).flatMap(_.taskMs).map(_.toDouble)
        if (ts.isEmpty || Stats.median(ts) <= 0) 0.0 else ts.max / Stats.median(ts)
      },
      "engine.cpu_util" -> mean(op =>
        sumOf(op, all, _.cpuNs / 1e9) / math.max(op.dur * cores, 1e-9)),
      "apps.tokenize_mb_per_s" -> Stats.median(tokenize))
  }
}
