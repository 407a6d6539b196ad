package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev profiler: warm-JVM per-query timing (3 runs, min). Not part of
  * the query surface — a local tool for iterating on plan quality.
  *
  *  - `--explain` prints each query's `.explain("formatted")` first.
  *  - `--jobs` prints the last run's job timeline, for MULTI-JOB
  *    queries (the streaming/store replays, where one bench "query"
  *    runs dozens of Spark jobs plus driver-side fs/commit work between
  *    them): every job's wall time, tasks and stages, and the DRIVER
  *    GAP before it (time since the previous job ended — planning,
  *    manifest I/O, parquet commit protocol, streaming offset-log
  *    writes), so a 20-second replay decomposes into "which jobs, and
  *    how much un-jobbed driver time".
  *
  * Usage: runMain graft.Profile <sfDir> [--explain] [--jobs] [queryName ...]
  * With no names: every query.
  */
object Profile {

  /** One job as the timeline shows it. */
  private final case class Job(id: Int, desc: String, tasks: Int, start: Long,
                               @volatile var end: Long = -1L)

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.toSeq.partition(_.startsWith("--"))
    val unknown = flags.filterNot(Set("--explain", "--jobs"))
    if (unknown.nonEmpty || rest.isEmpty) {
      System.err.println((unknown.map(f => s"unknown flag $f;") :+ "usage: runMain " +
        "graft.Profile <sfDir> [--explain] [--jobs] [queryName ...]").mkString(" "))
      sys.exit(2)
    }
    val sfDir = rest.head
    val names = rest.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus.toInt, cpus.toInt)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    if (flags.contains("--jobs")) spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // single-line descriptions are the library's phase labels; the
        // streaming engine's own three-line id/runId/batch block (and an
        // unlabelled job) falls back to the RESULT stage's name, the
        // action's call site
        val stages = e.stageInfos.map(s => s"${s.name.takeWhile(_ != ' ')}@" +
          s"${s.name.reverse.takeWhile(_ != ':').reverse}x${s.numTasks}").mkString("|")
        val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(!_.contains('\n'))
          .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?"))
        jobs.add(Job(e.jobId, s"$desc {$stages}", e.stageInfos.map(_.numTasks).sum, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.forEach(j => if (j.id == e.jobId) j.end = e.time)
    })
    // warm up codegen/JIT so first-query cost doesn't pollute numbers
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names(n) }
    selected.foreach { case (name, fn) =>
      if (flags.contains("--explain")) {
        println(s"==== $name plan ====")
        fn(spark, sfDir).explain("formatted")
      }
      val times = (1 to 3).map { _ =>
        jobs.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s min=${times.min}%7.3f  runs=${times.map(t => f"$t%.2f").mkString(",")}")
      if (flags.contains("--jobs")) printJobs(jobs, times.last)
    }
    spark.stop()
  }

  /** The last run's job timeline and its job-time / driver-gap split. */
  private def printJobs(jobs: java.util.Collection[Job], wall: Double): Unit = {
    // job-end events ride the async listener bus; give it a beat so
    // the last jobs of the run don't print dur=-1
    Thread.sleep(300)
    var prevEnd = -1L
    var jobSum = 0L
    var gapSum = 0L
    jobs.forEach { j =>
      val dur = if (j.end >= 0) j.end - j.start else -1L
      val gap = if (prevEnd >= 0) j.start - prevEnd else 0L
      jobSum += math.max(dur, 0L)
      gapSum += math.max(gap, 0L)
      println(f"job ${j.id}%4d gap=$gap%5d ms dur=$dur%6d ms tasks=${j.tasks}%3d  ${j.desc.take(110)}")
      prevEnd = math.max(prevEnd, j.end)
    }
    println(f"SUM jobs=$jobSum ms, gaps(driver)=$gapSum ms, wall=${(wall * 1000).toLong} ms")
  }
}
