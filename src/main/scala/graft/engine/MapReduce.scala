package graft.engine

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The MR-parity API — the reference's entire extensibility surface
  * (SURVEY.md §2.3.10) re-expressed on Datasets.
  *
  * Reference shapes (paths in the lab's `src/` tree):
  *  - Map:    `func(filename, contents string) []mr.KeyValue`
  *    (mrapps/wc.go:19, loaded by main/mrworker.go:32-49)
  *  - Reduce: `func(key string, values []string) string`
  *    (mrapps/wc.go:37)
  *
  * The job has the reference worker's shape, with one exchange
  * (mr/worker.go:59-165):
  *  - E3 map: `flatMap(mapF)` over whole-file records ([[wholeFiles]]).
  *  - E6 partition: one hash exchange on the key into the reduce
  *    tasks, `ihash(key) % nReduce` (mr/worker.go:72-79).
  *  - E7 sort: `sortWithinPartitions` on the key (mr/worker.go:136);
  *    Spark's external sort spills instead of holding a task's input.
  *  - E8 group + reduce: one pass over the sorted rows hands each run
  *    of equal keys to `ReduceF` (mr/worker.go:145-156).
  *  - E9 output: `run` writes `key value` lines, one part file per
  *    non-empty reduce task (mr/worker.go:158-165).
  *
  * Differences that matter at scale:
  *  - `ReduceF` receives a lazy Iterator over its key's run, not an
  *    in-RAM slice — the reference buffers every group in memory
  *    (mr/worker.go:145-156); nothing here buffers a group.
  *  - The shuffle is Spark's binary spillable exchange, not JSON
  *    files on shared NFS (mr/worker.go:81-100).
  *  - The map→reduce phase barrier, straggler re-execution (10 s
  *    requeue, mr/coordinator.go:114-138), idempotent commit and
  *    atomic output publish are all inherited from Spark's scheduler,
  *    task retry, and FileOutputCommitter — zero user code (SURVEY §4).
  */
object MapReduce {
  /** One input record in, zero-or-more KV pairs out — a UDTF. */
  type MapF = (String, String) => Iterator[(String, String)]

  /** All values of one key in (streaming), one value out. Values left
    * unread are skipped, so a reduce may stop early.
    */
  type ReduceF = (String, Iterator[String]) => String

  /** Whole-file scan (E1): one record = (fileName, entireContents),
    * exactly the reference's map-task granularity
    * (mr/worker.go:59-71, mr/coordinator.go:154-162). The file name
    * is the basename, matching the reference's os.Args file names.
    */
  def wholeFiles(spark: SparkSession, inputs: Seq[String]): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(inputs: _*)
      .select(substring_index(input_file_name(), "/", -1), col("value"))
      .as[(String, String)]
  }

  /** The full job as a Dataset: scan → flatMap(mapF) → hash exchange
    * on the key into the session's default shuffle width → sort →
    * reduce of each key's run.
    */
  def result(spark: SparkSession, inputs: Seq[String],
             mapF: MapF, reduceF: ReduceF): Dataset[(String, String)] =
    job(spark, inputs, None, mapF, reduceF)

  /** Run a job end-to-end to a partitioned text sink (E9): lines of
    * `key value` (mr/worker.go:161 "%v %v\n") from `nReduce` reduce
    * tasks (≡ mr-out-<r> files), atomic commit via Spark's
    * FileOutputCommitter (≡ tmp+rename, mr/worker.go:139,165).
    */
  def run(spark: SparkSession, inputs: Seq[String], nReduce: Int,
          mapF: MapF, reduceF: ReduceF, outDir: String): Unit =
    job(spark, inputs, Some(nReduce), mapF, reduceF)
      .select(concat_ws(" ", col("_1"), col("_2")))
      .write.mode("overwrite").text(outDir)

  private def job(spark: SparkSession, inputs: Seq[String], nReduce: Option[Int],
                  mapF: MapF, reduceF: ReduceF): Dataset[(String, String)] = {
    import spark.implicits._
    val mapped = wholeFiles(spark, inputs)
      .flatMap { case (file, contents) => mapF(file, contents) }
    nReduce.fold(mapped.repartition(col("_1")))(n => mapped.repartition(n, col("_1")))
      .sortWithinPartitions("_1")
      .mapPartitions(reduceRuns(reduceF))
  }

  /** Reduce each run of equal keys in key-sorted rows. `reduceF` reads
    * the run through a lazy iterator; whatever it leaves unread is
    * drained before the next run starts.
    */
  private def reduceRuns(reduceF: ReduceF)(
      rows: Iterator[(String, String)]): Iterator[(String, String)] = {
    val in = rows.buffered
    new Iterator[(String, String)] {
      def hasNext: Boolean = in.hasNext
      def next(): (String, String) = {
        val key = in.head._1
        val run = new Iterator[(String, String)] {
          def hasNext: Boolean = in.hasNext && in.head._1 == key
          def next(): (String, String) =
            if (hasNext) in.next()
            else throw new NoSuchElementException(s"no more values for key '$key'")
        }
        val value = reduceF(key, run.map(_._2))
        while (run.hasNext) run.next()
        (key, value)
      }
    }
  }
}

/** Single-threaded in-process twin of the reference's sequential
  * runner (/root/reference/src/main/mrsequential.go:25-87) — the
  * semantic oracle for the differential tests (SURVEY §5.1).
  */
object SequentialOracle {
  def run(inputs: Seq[(String, String)],
          mapF: MapReduce.MapF, reduceF: MapReduce.ReduceF): Seq[(String, String)] = {
    val intermediate = inputs.flatMap { case (f, c) => mapF(f, c) } // scan+flatMap+union
    intermediate
      .sortBy(_._1)                                                // global sort (:59)
      .groupBy(_._1)                                               // run-scan grouping (:68-77)
      .toSeq.sortBy(_._1)
      .map { case (k, kvs) => (k, reduceF(k, kvs.iterator.map(_._2))) }
  }
}
