package graft

import org.apache.spark.TaskContext
import graft.apps.Apps
import graft.engine.{MapReduce, SequentialOracle}

/** Chaos twin of crash.so (SURVEY §5.4): inject a first-attempt
  * failure into the map stage and assert the job still produces
  * oracle-equal output via Spark task retry — the Spark analogue of
  * the reference's 10 s requeue + re-execution
  * (/root/reference/src/mr/coordinator.go:114-138) — and that exactly
  * one attempt per partition commits (≡ jobcount,
  * src/mrapps/jobcount.go:34-46).
  */
class ChaosSpec extends SparkSpec {
  import ChaosSpec.crashFirstAttempt

  private def corpusFiles: Seq[String] = PgCorpus.files

  private def oracle = SequentialOracle.run(PgCorpus.inMemory,
    Apps.SortedMultisetAgg.map, Apps.SortedMultisetAgg.reduce)

  test("first-attempt map failures are retried to an oracle-equal result") {
    ChaosSpec.crashes.set(0)
    val successfulTasks = spark.sparkContext.longAccumulator("successfulMapTasks")
    val crashyMap: MapReduce.MapF = (file, contents) => {
      crashFirstAttempt("map")
      successfulTasks.add(1)
      Apps.SortedMultisetAgg.map(file, contents)
    }
    val engine = MapReduce.result(spark, corpusFiles,
      crashyMap, Apps.SortedMultisetAgg.reduce).collect().toSeq

    assert(engine.sortBy(_._1) == oracle.sortBy(_._1))
    // 4 map records per file (SortedMultisetAgg) × 8 files, each counted
    // once per *successful* map execution; retried partitions may double
    // count the accumulator only if a failed attempt got past add() —
    // it cannot, because the throw precedes it.
    assert(successfulTasks.value == 8)
    assert(ChaosSpec.crashes.get() > 0, "no map task crashed: the retry path went untested")
  }

  /** Reference parity: crash.so injects into Reduce as well
    * (/root/reference/src/mrapps/crash.go:45-47 — maybeCrash() is the
    * first line of Reduce). Post-shuffle retry is a different recovery
    * path than map retry: the failed reduce task is re-fetched from
    * the surviving shuffle files, and the map stage must NOT re-run.
    */
  test("first-attempt reduce failures are retried to an oracle-equal result") {
    ChaosSpec.crashes.set(0)
    val mapRuns = spark.sparkContext.longAccumulator("mapRecordRuns")
    val countingMap: MapReduce.MapF = (file, contents) => {
      mapRuns.add(1)
      Apps.SortedMultisetAgg.map(file, contents)
    }
    val crashyReduce: MapReduce.ReduceF = (key, values) => {
      crashFirstAttempt("reduce")
      Apps.SortedMultisetAgg.reduce(key, values)
    }
    val engine = MapReduce.result(spark, corpusFiles, countingMap, crashyReduce)
      .collect().toSeq

    assert(engine.sortBy(_._1) == oracle.sortBy(_._1))
    // reduce retries recompute from shuffle files: every map record ran
    // exactly once despite the injected reduce-stage failures
    assert(mapRuns.value == 8)
    assert(ChaosSpec.crashes.get() > 0, "no reduce task crashed: the retry path went untested")
  }

  test("iterative graph ops converge oracle-equal under injected task failures") {
    // the multi-round interaction the single-stage chaos tests above
    // don't cover: pageRank re-reads a PERSISTED symmetrized edge
    // relation every iteration, and kCore pins each round's survivor
    // set as a localCheckpoint leaf — injected first-attempt failures
    // land inside those materializations, and task retry must rebuild
    // the cached/checkpointed blocks to the same bits the clean run
    // produces (integer fixed-point arithmetic: ANY divergence is
    // visible, no float tolerance to hide behind). A checkpointed
    // block lost AFTER materialization (executor death) is the
    // documented loud-failure trade-off of localCheckpoint — see
    // PlanCache.checkpointed's scaladoc — not a silent-recovery path.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def edges(chaos: Boolean) = {
      val src = spark.range(0, 400).repartition(8).as[Long].mapPartitions { it =>
        if (chaos) {
          val tc = TaskContext.get()
          if (tc.attemptNumber() == 0 && tc.partitionId() % 2 == 0)
            throw new RuntimeException("injected crash (iterative chaos)")
        }
        it
      }.toDF("x")
      // quadratic residues give IRREGULAR degrees: uniform ranks or an
      // all-or-nothing core would make the equality checks vacuous
      // (a 2-regular graph is pageRank's fixed point)
      src.select((col("x") % 57).as("a"), ((col("x") * col("x") + 1) % 61).as("b"))
        .where(col("a") =!= col("b"))
    }
    def pr(chaos: Boolean) =
      graft.ext.Graph.pageRank(edges(chaos), "a", "b", iters = 5,
          cacheTag = s"chaos/pr/$chaos")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prClean = pr(chaos = false)
    val prChaos = pr(chaos = true)
    assert(prClean.nonEmpty)
    assert(prClean.values.toSet.size > 1,
      "uniform ranks — the propagation check is vacuous on this graph")
    assert(prChaos == prClean,
      "pageRank diverged from the clean run under injected task failures")
    def kc(chaos: Boolean) =
      graft.ext.Graph.kCore(edges(chaos), "a", "b", k = 8, rounds = 3,
          cacheTag = s"chaos/kc/$chaos")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kcClean = kc(chaos = false)
    val kcChaos = kc(chaos = true)
    assert(kcClean.nonEmpty && kcClean.size < prClean.size,
      s"need a PARTIAL core (got ${kcClean.size} of ${prClean.size}) or the peel cascade is untested")
    assert(kcChaos == kcClean,
      "kCore diverged from the clean run under injected task failures")
  }
}

object ChaosSpec {
  /** Crashes injected so far. JVM-global like [[Probe]]: a failed task's
    * accumulator updates are dropped, so they cannot count crashes.
    */
  val crashes = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Fails the first attempt of every even-numbered task. Kept off the
    * suite instance so that task closures calling it stay serializable.
    */
  def crashFirstAttempt(what: String): Unit = {
    val tc = TaskContext.get()
    if (tc.attemptNumber() == 0 && tc.partitionId() % 2 == 0) {
      crashes.incrementAndGet()
      throw new RuntimeException(s"injected $what crash (chaos spec)")
    }
  }
}
