package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

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
    val parts = Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq
    assert(parts.nonEmpty && parts.size <= 5)
    val lines = parts.flatMap(p =>
      Files.readAllLines(Paths.get(out, p)).asScala).sorted.filter(_.nonEmpty)
    assert(lines == corpusFiles.take(2)
      .map(p => p.substring(p.lastIndexOf('/') + 1) + " 1").sorted)
  }
}
