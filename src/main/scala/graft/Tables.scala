package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet loaders for the driver-generated star schema (TESTDATA.md,
  * FIXTURES.md §B). One table per parquet file under the sf dir.
  *
  * Scale notes (100 TB design): these are plain `spark.read.parquet`
  * scans — column pruning and predicate pushdown reach the parquet
  * reader via Catalyst, so every downstream query only pays for the
  * columns/rows it touches. Nothing here collects to the driver.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Measured negative result (round 4), kept so it isn't re-tried:
    * every sf0.1 fixture file is a single parquet row group, so each
    * scan plans as ONE task and all map-side compute runs on one core
    * until the first exchange. An adaptive
    * `repartition(defaultParallelism)` fan-out of documents/embeddings
    * was A/B-profiled at sf0.1 and LOST on every affected query
    * (langid 0.24→0.37 s, exact_rows 0.33→1.09 s, fingerprint
    * 0.59→0.99 s, embedding 0.77→1.14 s): the round-robin exchange
    * (determinism sort + serialize/deserialize of the text bytes +
    * an extra stage wave) costs more than the freed parallelism,
    * because the per-row CPU sinks are already fused codegen
    * expressions. At production scale the problem vanishes on its
    * own — multi-GB tables split into ≥ parallelism row groups.
    */

  /** `events.ts` normalization: the oracle's data writer has produced
    * BOTH parquet TIMESTAMP(NANOS) (surfaced by Spark's vectorized
    * reader only as a nanosecond LONG, via
    * `spark.sql.legacy.parquet.nanosAsLong`) and, since the 2026-08-12
    * refresh, plain `timestamp[us]` with no timezone (surfaced as
    * TIMESTAMP_NTZ). We normalize every encoding to Spark's native
    * microsecond TimestampType so all downstream window/trunc/
    * unix_millis logic is standard. All graft sessions run with
    * `spark.sql.session.timeZone=UTC`, so the NTZ→LTZ cast
    * reinterprets the wall-clock micros 1:1 — exactly how DuckDB reads
    * the same tz-less file — and the two engines agree after this
    * normalization whichever encoding the writer used.
    */
  /** Scaled-dir convention: `"<base>@<k>"` loads the base sf dir with
    * every FACT table unioned k× — the scale-proof harness (SURVEY's
    * "would this hold at 10×?" turned into a measurement). Copy 0 is
    * the base data byte-for-byte; copy c shifts every join/identity
    * key by c·10⁹ (far beyond any base key, so copies never collide
    * or cross-join), Caesar-rotates document text by c (per-copy
    * token/shingle/simhash spaces stay DISJOINT — without this every
    * doc has k−1 exact near-duplicates and all pair-family work grows
    * k², a property of the synthetic union, not of the engine), and
    * circularly rotates embeddings by c positions (norm-preserving,
    * but decorrelated from copy 0 — no k-way cosine ties, no LSH
    * bucket pile-up). Dimension tables stay unscaled: 10× facts over
    * the same dims is how real stars grow. The DuckDB twin of this
    * mapping lives in `scripts/scaled_views.py`; `compare.py` on a
    * scaled dir proves both engines see the SAME scaled rows
    * (hash-identical results), so scaled bench ratios compare
    * identical workloads.
    */
  private val ScaledDir = "^(.*)@(\\d+)$".r

  /** Scale factor of a (possibly scaled) sf dir — 1 for plain dirs.
    * Bench uses this to widen its sf0.001 warm-up floor: at `@k` a
    * data-proportional query legitimately runs up to ~k× its 1×
    * time, so an unscaled floor would flag every such query as a
    * contended outlier.
    */
  def scaleOf(dir: String): Int = dir match {
    case ScaledDir(_, k) => k.toInt
    case _ => 1
  }
  private val KeyShift = 1000000000L
  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  /** Per-copy letter substitution: affine cipher x -> (a*x + b) mod 26
    * with b = c % 26 and a stepping through units of Z/26 per 26-copy
    * block (a = 1 for c < 26 — the classic Caesar rotation the earlier
    * scale points were measured with, kept bit-identical — a = 3 for
    * 26 <= c < 52). A pure rotation has period 26, so copy 26 would be
    * copy 0's text verbatim and every pair-family query would see k²
    * cross-copy duplicates past @26; two distinct affine maps agree on
    * at most gcd(a1-a2, 26) = 2 of 26 letters, so all copies keep
    * disjoint token/shingle/simhash spaces up to the @52 ceiling
    * (load() caps k at 32). Letters map to letters preserving case, so
    * token boundaries, lengths, and letter/punct ratios are invariant.
    */
  private def rotAlpha(c: Int): String = {
    val a = if (c < 26) 1 else 3
    val b = c % 26
    def sub(alpha: String): String =
      (0 until 26).map(x => alpha((a * x + b) % 26)).mkString
    sub(Lower) + sub(Upper)
  }

  private def scaledCopy(df: DataFrame, name: String, c: Int): DataFrame = name match {
    case "documents" =>
      df.withColumn("doc_id", col("doc_id") + lit(c * KeyShift))
        .withColumn("text", translate(col("text"), Lower + Upper, rotAlpha(c)))
    case "embeddings" =>
      // rotation by c < dim; k is capped far below any real dim, and
      // the slice bounds follow size() like the DuckDB twin's len()
      df.withColumn("vec_id", col("vec_id") + lit(c * KeyShift))
        .withColumn("embedding", concat(
          slice(col("embedding"), lit(c + 1), size(col("embedding")) - c),
          slice(col("embedding"), 1, c)))
    case "lineitem" => df.withColumn("l_orderkey", col("l_orderkey") + lit(c * KeyShift))
    case "orders" => df.withColumn("o_orderkey", col("o_orderkey") + lit(c * KeyShift))
    case "events" =>
      df.withColumn("event_id", col("event_id") + lit(c * KeyShift))
        .withColumn("user_id", col("user_id") + lit(c * KeyShift))
    case _ => df // dimension tables stay unscaled
  }

  private val scaledTables = Set("documents", "embeddings", "lineitem", "orders", "events")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = dir match {
    case ScaledDir(base, kStr) =>
      val k = kStr.toInt
      require(k >= 1 && k <= 32, s"scale factor @$k out of range (1..32)")
      val base0 = loadPlain(spark, base, name)
      if (k == 1 || !scaledTables(name)) base0
      else (0 until k).map(scaledCopy(base0, name, _)).reduce(_.unionByName(_))
    case _ => loadPlain(spark, dir, name)
  }

  private def loadPlain(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(raw) else raw
  }

  /** Normalize `events.ts` to native instant TimestampType whatever
    * encoding the fixture writer used (see the doc block above);
    * applies identically to batch and streaming frames — every
    * branch is a stateless projection.
    */
  private def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: ns epochs (~1.7e18) exceed double's 2^53
        // exact range, so `/ 1000` via double would be off by ~µs
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ wall-clock micros reinterpreted as UTC instants via a
        // Cast pinned to the UTC zone — NOT the session zone: the
        // graft mains all run UTC sessions, but a library consumer
        // with a non-UTC session must read the same epochs (this is
        // how DuckDB reads the same tz-less file, and it matches
        // BandedRangeJoinRule.asInstant's hard-coded UTC)
        raw.withColumn("ts",
          org.apache.spark.sql.graftshim.ColumnShim.column(
            org.apache.spark.sql.catalyst.expressions.Cast(
              org.apache.spark.sql.graftshim.ColumnShim.expression(col("ts")),
              org.apache.spark.sql.types.TimestampType, Some("UTC"))))
      case _ => raw // engine already surfaced a native instant timestamp
    }

  /** Streaming twin of [[load]]: the same table as a file-source
    * STREAM (`spark.readStream`), for the gated streaming queries and
    * any ingest pipeline that replays a fixture directory. The schema
    * is taken from the batch reader (file streams cannot infer), and
    * the `@k` scaled-dir convention applies unchanged — every
    * [[scaledCopy]] transform is a stateless projection, so it maps
    * 1:1 onto a streaming DataFrame and the k copies union exactly as
    * in the batch path, as does the `events` ts-normalization (every
    * branch of it is a stateless projection, so it binds to a
    * streaming frame unchanged). maxFilesPerTrigger is left default: with
    * `Trigger.AvailableNow` the whole fixture lands in bounded
    * microbatches and the query self-terminates — the replay shape
    * the gated row uses.
    */
  def loadStream(spark: SparkSession, dir: String, name: String): DataFrame = dir match {
    case ScaledDir(base, kStr) =>
      val k = kStr.toInt
      require(k >= 1 && k <= 32, s"scale factor @$k out of range (1..32)")
      val base0 = loadStreamPlain(spark, base, name)
      if (k == 1 || !scaledTables(name)) base0
      else (0 until k).map(scaledCopy(base0, name, _)).reduce(_.unionByName(_))
    case _ => loadStreamPlain(spark, dir, name)
  }

  private def loadStreamPlain(spark: SparkSession, dir: String, name: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/$name.parquet").schema
    // the fixture table is a single FILE; FileStreamSource requires
    // its basePath to be a directory, and for a non-glob path the
    // basePath IS the path. A brace-glob matching exactly that file
    // makes the source take the glob's directory prefix as basePath
    // (no partition columns — the table files sit directly in it)
    val raw = spark.readStream.schema(schema).parquet(s"$dir/{$name.parquet}")
    // events ts-normalization applies to the stream too (stateless
    // projections) — streaming consumers get the same instant
    // TimestampType event-time column as the batch path
    if (name == "events") normalizeEventsTs(raw) else raw
  }

  /** On-disk bytes of a fixture table — Hadoop FS metadata only,
    * never a scan. The `@k` scaled-dir convention multiplies the
    * plain dir's size by k for the scaled tables (the scaled frame
    * is k stateless copies). Sizing input for scale-adaptive
    * partitioning (spark_optimization_guide §2: derive exchange
    * widths from input size, not constants tuned for one box).
    */
  def tableBytes(s: SparkSession, dir: String, name: String): Long = {
    val (base, k) = dir match {
      case ScaledDir(b, kStr) => (b, kStr.toInt)
      case _ => (dir, 1)
    }
    val p = new org.apache.hadoop.fs.Path(s"$base/$name.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength * (if (scaledTables(name)) k else 1)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events`, `ts` normalized to instant TimestampType. A fixture
    * written with TIMESTAMP(NANOS) `ts` reads only on a session built
    * with `spark.sql.legacy.parquet.nanosAsLong=true` ([[Session.local]]
    * sets it; this library never changes a caller's session conf), and
    * every session should run with `spark.sql.session.timeZone=UTC`.
    */
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
