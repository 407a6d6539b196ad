package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest
import java.util.Locale

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, Tables}
import graft.ext.PlanCache
import graft.queries.ExtStoreQueries

/** The query half of `batch_mix`, run in its traced run: the
  * `SparkEntry.queries` rows, except the `ExtStoreQueries` rows, over
  * the committed sf0.01 tables.
  *
  * A run draws one row per family with its seed, from the cheaper half
  * (by the cost recorded in `digests/query_mix.tsv`) of the family's
  * rows, so every `queries.<family>.p50_s` is measured and over many
  * seeds every row in those halves is drawn; the costlier rows are
  * multi-job pipelines whose first run in a JVM takes 5 to 25 s. Set-up
  * runs each drawn row once, untimed (its first run in the JVM compiles
  * its generated code); op i issues the drawn rows in rounds, each
  * round in a fresh seeded order. Each op clears `PlanCache` first and
  * removes the temp dirs the previous op created, builds the row's
  * DataFrame, plans it and collects it; the collected rows must match
  * the recorded digest.
  */
final class QueryMix(spark: SparkSession, o: Opts, t: Trace) {
  import QueryMix._

  private val dataDir = new File(o.root, DataDir).getPath
  private val recorded: Map[String, Recorded] = load(new File(o.root, DigestFile))
  private val queries = rows.filter { case (n, _) => recorded.contains(n) }
  private val rnd = new Random(o.seed)
  private val drawn: IndexedSeq[(String, (SparkSession, String) => DataFrame)] =
    Metrics.families.toIndexedSeq.map { f =>
      val ofFamily = queries.filter { case (n, _) => family(n) == f }
        .sortBy { case (n, _) => (recorded(n).cost, n) }
      val cheaper = ofFamily.take(math.max(1, ofFamily.size / 2))
      cheaper(rnd.nextInt(cheaper.size))
    }
  private var round: IndexedSeq[(String, (SparkSession, String) => DataFrame)] = IndexedSeq.empty
  private var expected: Map[String, Recorded] = recorded
  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private var tmpKeep: Set[String] = Set.empty
  private var cacheEntries = Vector.empty[Double]
  private val kernelRates = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Ops in one round: each drawn row once. */
  def roundSize: Int = drawn.size

  require(queries.size == rows.size,
    s"rows without a recorded digest: ${rows.map(_._1).filterNot(recorded.contains).mkString(", ")}")

  /** Register the kernels and resolve every table (schemas, footers). */
  def prepare(rep: Int): Unit = {
    graft.functions.Registry.register(spark)
    Tables.names.foreach(n => Tables.load(spark, dataDir, n).schema)
  }

  def warm(): Unit = {
    tmpKeep = Option(tmp.list()).fold(Set.empty[String])(_.toSet)
    drawn.foreach { case (_, fn) =>
      clearBetweenOps()
      fn(spark, dataDir).collect()
    }
  }

  def finish(): Unit = clearBetweenOps()

  /** Drop what earlier ops left behind, so no op is served from a memo
    * or pays for another op's files.
    */
  private def clearBetweenOps(): Unit = {
    cacheEntries :+= PlanCache.size.toDouble
    PlanCache.clear()
    Option(tmp.listFiles()).foreach(_.filterNot(f => tmpKeep(f.getName)).foreach(Main.deleteTree))
  }

  def inputs: String =
    s"query_mix rows=${queries.size} data=$DataDir tables=${Tables.names.size} " +
      s"table_bytes=${Tables.names.map(n => new File(dataDir, s"$n.parquet").length).sum} " +
      s"drawn=${drawn.map(_._1).mkString(",")} " +
      f"drawn_recorded_s=${drawn.map(q => recorded(q._1).cost).sum}%.2f"

  def op(i: Int): Op = {
    if (i % drawn.size == 0) round = rnd.shuffle(drawn)
    val (name, fn) = round(i % drawn.size)
    clearBetweenOps()
    Op("query", span => {
      val df = t.layer(span, "queries.build")(fn(spark, dataDir))
      t.layer(span, "queries.plan")(df.queryExecution.executedPlan)
      val rows = t.layer(span, "queries.exec")(df.collect())
      (df.columns.toSeq, rows)
    }, out => {
      val (cols, rows) = out.asInstanceOf[(Seq[String], Array[Row])]
      val want = expected(name)
      val got = digest(cols, rows)
      if (rows.length == want.rows && got == want.digest) None
      else Some(s"$name: ${rows.length} rows digest $got, recorded ${want.rows} rows digest ${want.digest}")
    }, name)
  }

  def corruptExpected(): Unit =
    expected = expected.map { case (n, r) => n -> r.copy(digest = r.digest.reverse) }

  def layers(tr: Trace, done: Seq[OpResult]): Map[String, Double] = {
    val ok = done.filter(r => r.ok && r.kind == "query" && r.span.isDefined)
    val ops = ok.flatMap(_.span)
    def med(f: Span => Double): Double = Stats.median(ops.map(f))
    def mean(f: Span => Double): Double = if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size
    def layerS(op: Span, n: String) = tr.children(op).filter(_.name == n).map(_.attrs("dur_s")).sum
    def stages(op: Span) = tr.stagesOf(tr.jobsOf(op))
    val famP50 = Metrics.families.map { f =>
      s"queries.$f.p50_s" -> Stats.median(ok.filter(r => family(r.label) == f).map(_.seconds))
    }
    measureKernels()
    famP50.toMap ++ Map(
      "tables.scan_bytes" -> mean(op => stages(op).map(_.inputBytes.toDouble).sum),
      "queries.build_s" -> med(layerS(_, "queries.build")),
      "queries.plan_s" -> med(layerS(_, "queries.plan")),
      "queries.exec_s" -> med(layerS(_, "queries.exec")),
      "queries.jobs_per_query" -> mean(op => tr.jobsOf(op).size.toDouble),
      "queries.stages_per_query" -> mean(op => stages(op).size.toDouble),
      "queries.tasks_per_query" -> mean(op => stages(op).map(_.numTasks.toDouble).sum),
      "queries.driver_gap_s" -> med(op =>
        op.dur - Trace.unionSeconds(Trace.jobIntervals(tr.jobsOf(op)), op.start, op.end)),
      "queries.shuffle_bytes" -> mean(op => stages(op).map(_.shuffleWriteBytes.toDouble).sum),
      "queries.spill_bytes" -> mean(op => stages(op).map(_.spillBytes.toDouble).sum),
      "queries.plancache_entries" ->
        (if (cacheEntries.isEmpty) 0.0 else cacheEntries.sum / cacheEntries.size)) ++
      kernelRates.map { case (k, v) => s"functions.$k.rows_per_s" -> v }
  }

  /** Each native kernel through its registered SQL name, over this
    * workload's own `embeddings` and `documents` tables (repeated
    * [[KernelRepeat]] times so one call is long enough to time).
    */
  private def measureKernels(): Unit = t.ownJobs("kernels") {
    val rep = if (o.smoke) 2 else KernelRepeat
    Tables.embeddings(spark, dataDir).createOrReplaceTempView("pb_emb")
    Tables.documents(spark, dataDir).createOrReplaceTempView("pb_doc")
    val dim = spark.sql("SELECT max(size(embedding)) FROM pb_emb").head().getInt(0)
    val nEmb = spark.table("pb_emb").count() * rep
    val nDoc = spark.table("pb_doc").count() * rep
    spark.sql(s"SELECT e.*, r.id AS rep FROM pb_emb e CROSS JOIN range($rep) r")
      .selectExpr("CAST(embedding AS array<double>) AS v",
        "transform(embedding, x -> CAST(round(x * 127) AS bigint)) AS q",
        "transform(embedding, x -> CAST(abs(x) * 1000 AS int) % 16) AS codes")
      .cache().createOrReplaceTempView("pb_emb_rep")
    spark.sql(s"SELECT d.text, r.id AS rep FROM pb_doc d CROSS JOIN range($rep) r")
      .cache().createOrReplaceTempView("pb_doc_rep")
    spark.table("pb_emb_rep").count(); spark.table("pb_doc_rep").count()
    val lut = s"array_repeat(transform(sequence(0, 15), j -> CAST(j AS double)), $dim)"
    val exprs = Seq(
      ("graft_dot", "pb_emb_rep", nEmb, "graft_dot(v, v)"),
      ("graft_dot_long", "pb_emb_rep", nEmb, "graft_dot_long(q, q)"),
      ("graft_lut_sum", "pb_emb_rep", nEmb, s"graft_lut_sum(codes, $lut)"),
      ("graft_md5_prefix", "pb_doc_rep", nDoc, "graft_md5_prefix(text, 15)"),
      ("graft_rolling_hash_min", "pb_doc_rep", nDoc, "graft_rolling_hash_min(text, 8, 257, 1000000007)"),
      ("graft_stopword_hits", "pb_doc_rep", nDoc,
        "size(graft_stopword_hits(text, array(array('the', 'and', 'of'), array('le', 'la', 'de'))))"))
    exprs.foreach { case (k, table, n, e) =>
      val q = spark.sql(s"SELECT sum(CAST($e AS double)) FROM $table")
      q.collect()
      val ts = (0 until 3).map { _ =>
        val s = System.nanoTime(); q.collect(); (System.nanoTime() - s) / 1e9
      }
      kernelRates(k) = n / Stats.median(ts)
    }
    spark.catalog.uncacheTable("pb_emb_rep"); spark.catalog.uncacheTable("pb_doc_rep")
  }
}

object QueryMix {
  val DataDir = "perfbench/data/sf0.01"
  val DigestFile = "perfbench/digests/query_mix.tsv"
  val KernelRepeat = 200

  final case class Recorded(rows: Long, digest: String, cost: Double, oracle: String)

  def rows: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val store = ExtStoreQueries.all.map(_.name).toSet
    SparkEntry.queries.toSeq.filterNot { case (n, _) => store(n) }.sortBy(_._1)
  }

  /** The name token after `ext_`, or the leading letters (`dq`). */
  def family(name: String): String =
    if (name.startsWith("ext_")) name.split("_")(1) else name.takeWhile(_.isLetter)

  def load(f: File): Map[String, Recorded] =
    Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
      .filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
        val Array(n, rows, d, cost, oracle) = l.split("\t")
        n -> Recorded(rows.toLong, d, cost.toDouble, oracle)
      }.toMap

  /** Canonical text of one value. `digest.py` implements the same
    * rules for DuckDB's results; change both together.
    */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case d: java.math.BigDecimal => canonDouble(d.doubleValue)
    case d: BigDecimal => canonDouble(d.toDouble)
    case n: java.lang.Number => n.longValue.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def micros(i: java.time.Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000

  private def canonDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else String.format(Locale.ROOT, "%.6e", Double.box(d))

  /** Order-insensitive digest: columns in name order, rows sorted. */
  def digest(cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.indices.sortBy(i => cols(i).toLowerCase(Locale.ROOT))
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u001f")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Record every row's digest and cost on the current tree: one cold
    * run, then one timed run (the two digests must agree). Writes the digest file
    * with `oracle` = `pending` for rows that have DuckDB SQL (confirm
    * them with `digest.py`) and `spark` for the rest, and the rows'
    * DuckDB SQL next to the work files.
    */
  def record(spark: SparkSession, o: Opts): Unit = {
    val dataDir = new File(o.root, DataDir).getPath
    graft.functions.Registry.register(spark)
    val sql = SparkEntry.oracleSql
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val out = rows.map { case (name, fn) =>
      def once(): (Double, String, Long) = {
        PlanCache.clear()
        Option(tmp.listFiles()).foreach(_.foreach(Main.deleteTree))
        val s = System.nanoTime()
        val df = fn(spark, dataDir)
        val r = df.collect()
        ((System.nanoTime() - s) / 1e9, digest(df.columns.toSeq, r), r.length.toLong)
      }
      val runs = (0 until 2).map(_ => once())
      require(runs.map(_._2).distinct.size == 1, s"$name: digest differs between runs")
      val cost = runs.last._1
      System.err.println(f"[record] $name%-45s ${runs.last._3}%6d rows  $cost%.3fs")
      Seq(name, runs.last._3.toString, runs.last._2, f"$cost%.4f",
        if (sql.contains(name)) "pending" else "spark").mkString("\t")
    }
    val f = new File(o.root, DigestFile)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, ("# name\trows\tdigest\tcost_s\toracle\n" + out.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    val js = sql.toSeq.sortBy(_._1).map { case (n, q) => Json.str(n) + ": " + Json.str(q) }
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(new File(o.out, "oracle_sql.json").toPath, js.getBytes(StandardCharsets.UTF_8))
  }
}
