package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev profiler for MULTI-JOB queries (the streaming/store replays,
  * where one bench "query" runs dozens of Spark jobs plus driver-side
  * fs/commit work between them): records every job's wall time and the
  * DRIVER GAP before it (time since the previous job ended — planning,
  * manifest I/O, parquet commit protocol, streaming offset-log writes),
  * so a 20-second replay decomposes into "which jobs, and how much
  * un-jobbed driver time". Not part of the driver contract.
  *
  * Usage: runMain graft.ProfileJobs <sfDir> <queryName> [runs]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: runMain graft.ProfileJobs <sfDir> <queryName> [runs]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val name = args(1)
    val runs = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus.toInt, cpus.toInt)
    final case class J(id: Int, desc: String, start: Long, var end: Long = -1L,
                       var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[J]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the RESULT stage's name is the action's call site (the
        // thread-inherited callSite property just says "start at ..."
        // for every job a streaming trigger runs); earlier stages are
        // shuffle-map stages of the same query
        val p = Option(e.properties)
        val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
        // single-line descriptions are the library's phase labels; the
        // streaming engine's own three-line id/runId/batch block falls
        // back to the result stage's call site
        val stages = e.stageInfos.map(s => s"${s.name.takeWhile(_ != ' ')}@${s.name.reverse.takeWhile(_ != ':').reverse}x${s.numTasks}")
          .mkString("|")
        val d = desc.filter(!_.contains('\n'))
          .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?")) +
          s" {$stages}"
        val j = J(e.jobId, d, e.time)
        j.tasks = e.stageInfos.map(_.numTasks).sum
        jobs.put(e.jobId, j); order.add(j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
    })
    // warm-up: JIT + codegen + fixture artifacts, exactly like Bench
    spark.range(1000000).selectExpr("sum(id)")
      .write.format("noop").mode("overwrite").save()
    val fn = SparkEntry.queries(name)
    (1 to runs).foreach { r =>
      order.clear(); jobs.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      println(f"==== $name run $r: $total%.2f s, ${order.size} jobs ====")
      if (r == runs) {
        // job-end events ride the async listener bus; give it a beat
        // so the last jobs of the run don't print dur=-1
        Thread.sleep(300)
        var prevEnd = -1L
        var jobSum = 0L; var gapSum = 0L
        val it = order.iterator()
        while (it.hasNext) {
          val j = it.next()
          val dur = if (j.end >= 0) j.end - j.start else -1L
          val gap = if (prevEnd >= 0) j.start - prevEnd else 0L
          jobSum += math.max(dur, 0L); gapSum += math.max(gap, 0L)
          println(f"job ${j.id}%4d gap=${gap}%5d ms dur=${dur}%6d ms tasks=${j.tasks}%3d  ${j.desc.take(110)}")
          prevEnd = math.max(prevEnd, j.end)
        }
        println(f"SUM jobs=${jobSum} ms, gaps(driver)=${gapSum} ms, wall=${(total * 1000).toLong} ms")
      }
    }
    spark.stop()
  }
}
