package graft

import java.nio.file.{Files, Paths}
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}

import graft.apps.Apps
import graft.engine.{MapReduce, SequentialOracle}

/** Differential golden tests (SURVEY §5.1): each app runs on the
  * 8-book corpus ([[PgCorpus]]) through the distributed
  * engine AND the in-process sequential oracle; outputs canonicalized
  * exactly like the reference's harness (`sort mr-out* | cmp`,
  * /root/reference/src/main/test-mr.sh:103-110).
  */
class MapReduceParitySpec extends SparkSpec {
  private def corpusFiles: Seq[String] = PgCorpus.files

  private def corpusInMem: Seq[(String, String)] = PgCorpus.inMemory

  /** Canonical job result: all outputs as sorted "key value" lines
    * (test-mr.sh:103 `sort mr-out* | grep .`).
    */
  private def canon(rows: Seq[(String, String)]): Seq[String] =
    rows.map { case (k, v) => s"$k $v" }.sorted

  /** The `part-*` files of a `run` output directory, each as its lines. */
  private def partFiles(out: String): Seq[Seq[String]] =
    Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
      .map(p => Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty))

  private def differential(name: String, mapF: MapReduce.MapF,
                           reduceF: MapReduce.ReduceF): Unit = test(name) {
    assert(corpusFiles.size == 8, s"expected 8 pg files, got $corpusFiles")
    val engine = MapReduce.result(spark, corpusFiles, mapF, reduceF).collect().toSeq
    val oracle = SequentialOracle.run(corpusInMem, mapF, reduceF)
    assert(canon(engine) == canon(oracle))
  }

  differential("wc matches sequential oracle on pg corpus",
    Apps.WordCount.map, Apps.WordCount.reduce)
  differential("indexer matches sequential oracle on pg corpus",
    Apps.InvertedIndex.map, Apps.InvertedIndex.reduce)
  differential("sorted-multiset agg matches sequential oracle on pg corpus",
    Apps.SortedMultisetAgg.map, Apps.SortedMultisetAgg.reduce)
  differential("file count matches sequential oracle on pg corpus",
    Apps.FileCount.map, Apps.FileCount.reduce)

  test("wc output is invariant under shuffle partitioning (1, 3, 10)") {
    val results = Seq("1", "3", "10").map { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try canon(MapReduce.result(spark, corpusFiles,
        Apps.WordCount.map, Apps.WordCount.reduce).collect().toSeq)
      finally spark.conf.set("spark.sql.shuffle.partitions", "8")
    }
    assert(results.distinct.size == 1)
  }

  test("text sink writes nReduce partitions in 'key value' format") {
    val out = Files.createTempDirectory("mr-out").toString
    MapReduce.run(spark, corpusFiles.take(2), 5,
      Apps.FileCount.map, Apps.FileCount.reduce, out)
    // Spark's writer skips empty partitions (the reference writes empty
    // mr-out-<r> files; both are invisible after the harness's
    // concat+sort canonicalization, test-mr.sh:103).
    val parts = partFiles(out)
    assert(parts.nonEmpty && parts.size <= 5)
    val lines = parts.flatten.sorted
    assert(lines == corpusFiles.take(2)
      .map(p => p.substring(p.lastIndexOf('/') + 1) + " 1").sorted)
  }

  test("run output is invariant under nReduce (1, 3, 10) and each key has one reduce task") {
    val byWidth = Seq(1, 3, 10).map { n =>
      val out = Files.createTempDirectory(s"mr-out-$n").toString
      MapReduce.run(spark, corpusFiles, n, Apps.WordCount.map, Apps.WordCount.reduce, out)
      val parts = partFiles(out)
      assert(parts.nonEmpty && parts.size <= n, s"nReduce = $n wrote ${parts.size} part files")
      val keysPerPart = parts.map(_.map(l => l.substring(0, l.lastIndexOf(' '))).toSet)
      val keys = keysPerPart.flatten
      assert(keys.size == keys.distinct.size, s"nReduce = $n: a key is in two part files")
      parts.flatten.sorted
    }
    assert(byWidth.distinct.size == 1)
    assert(byWidth.head == canon(SequentialOracle.run(corpusInMem,
      Apps.WordCount.map, Apps.WordCount.reduce)))
  }

  test("reduce may read none, some or all of a key's values; unread values are skipped") {
    val dir = Files.createTempDirectory("mr-edge")
    // keys that differ only in case, non-ASCII keys (precomposed and
    // combining forms differ), and one empty key per line
    val texts = Seq(
      "word Word WORD word über Über 日本語 é e\u0301\nword word ß SS ss\n",
      "Word über über 日本語 日本語 日本語\ne\u0301 é é é é\n",
      "solo\n")
    val files = texts.zipWithIndex.map { case (t, i) =>
      Files.write(dir.resolve(s"edge-$i.txt"), t.getBytes("UTF-8")).toString
    }
    val inMem = files.zip(texts).map { case (f, t) => (Paths.get(f).getFileName.toString, t) }
    val edgeMap: MapReduce.MapF = (file, contents) =>
      contents.split("\n").iterator.flatMap { line =>
        Iterator(("", file)) ++ line.split(" ").iterator.filter(_.nonEmpty).map(w => (w, file))
      }
    val reducers: Seq[(String, MapReduce.ReduceF)] = Seq(
      "one" -> ((k, vs) => { vs.next(); k.length.toString }),
      "none" -> ((_, _) => "-"),
      "at most two" -> ((_, vs) => vs.take(2).size.toString),
      "all" -> ((_, vs) => vs.toSeq.sorted.mkString(",")))
    reducers.foreach { case (name, reduceF) =>
      // bounded: a reduce loop that stops advancing fails here, not hangs
      val engine = MapReduce.result(spark, files, edgeMap, reduceF).limit(1000).collect().toSeq
      val keys = engine.map(_._1)
      assert(keys.size == keys.distinct.size, s"$name: a key was reduced twice: ${keys.sorted}")
      assert(Set("", "word", "Word", "WORD", "über", "Über", "é", "e\u0301").subsetOf(keys.toSet),
        s"$name: ${keys.sorted}")
      assert(canon(engine) == canon(SequentialOracle.run(inMem, edgeMap, reduceF)), name)
    }
  }

  test("run executes one shuffle-writing stage and a result stage of nReduce tasks") {
    val nReduce = 5
    val jobStages = new ConcurrentLinkedQueue[Seq[Int]]() // stage ids of each job of the run
    val completed = new ConcurrentHashMap[Int, StageInfo]()
    val barrier = new CountDownLatch(1)
    def group(props: Properties) = Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = group(e.properties) match {
        case "mr-shape" => jobStages.add(e.stageIds)
        case "mr-shape-barrier" => barrier.countDown()
        case _ =>
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        completed.put(e.stageInfo.stageId, e.stageInfo)
    }
    val out = Files.createTempDirectory("mr-shape").toString
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("mr-shape", "MapReduce.run shape")
      try MapReduce.run(spark, corpusFiles, nReduce, Apps.WordCount.map, Apps.WordCount.reduce, out)
      finally sc.clearJobGroup()
      // events reach the listener in order: once the barrier job's start
      // has been seen, every stage of the run has been reported
      sc.setJobGroup("mr-shape-barrier", "barrier")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(barrier.await(10, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)

    val jobs = jobStages.asScala.toSeq
    // skipped stages (map output reused by a later job) never complete
    val ran = jobs.flatten.distinct.flatMap(id => Option(completed.get(id)))
    val writers = ran.filter(_.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
    assert(writers.size == 1, s"shuffle-writing stages: ${writers.map(s => s.stageId -> s.name)}")
    // a job's result stage is created after its parents: the highest id
    val result = completed.get(jobs.last.max)
    assert(result != null && result.taskMetrics.shuffleWriteMetrics.bytesWritten == 0)
    assert(result.numTasks == nReduce, s"result stage ran ${result.numTasks} tasks")
  }
}
