package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import graft.apps.Apps
import graft.engine.MapReduce

/** JVM-global concurrency probe. Closures are serialized per task even
  * in local mode, so shared state must be reached through a static
  * object (deserialized tasks then see the one singleton in the
  * local[] JVM) — capturing an instance would hand every task a copy.
  */
object Probe {
  val cur = new AtomicInteger(0)
  val max = new AtomicInteger(0)
  val seenTasks: java.util.Set[java.lang.Long] =
    ConcurrentHashMap.newKeySet[java.lang.Long]()

  def reset(): Unit = { cur.set(0); max.set(0); seenTasks.clear() }

  /** Mark this task alive; returns only once ≥2 tasks are alive
    * simultaneously or the deadline passes — the Spark analogue of
    * mtiming/rtiming's marker-file + liveness-probe rendezvous
    * (/root/reference/src/mrapps/mtiming.go:19-62).
    */
  def rendezvous(deadlineMs: Long = 10000): Unit = {
    val tc = TaskContext.get()
    if (seenTasks.add(tc.taskAttemptId())) {
      val c = cur.incrementAndGet()
      max.getAndUpdate(m => math.max(m, c))
      tc.addTaskCompletionListener[Unit](_ => cur.decrementAndGet())
      val deadline = System.nanoTime() + deadlineMs * 1000000L
      while (max.get() < 2 && System.nanoTime() < deadline) Thread.sleep(5)
    }
  }
}

/** Parallelism probes — parity with the reference's mtiming/rtiming
  * tests (/root/reference/src/main/test-mr.sh:147-196), which require
  * ≥2 genuinely concurrent map tasks and ≥2 genuinely concurrent
  * reduce tasks. Here each task rendezvouses until it observes another
  * live task in the same stage; the assertion is on the observed
  * maximum concurrency.
  */
class ParallelismSpec extends SparkSpec {
  private def corpusFiles: Seq[String] = PgCorpus.files

  test("map stage runs >= 2 tasks concurrently (mtiming parity)") {
    import spark.implicits._
    Probe.reset()
    val counted = MapReduce.wholeFiles(spark, corpusFiles)
      .flatMap { case (file, contents) =>
        Probe.rendezvous()
        Apps.WordCount.map(file, contents)
      }
      .count()
    assert(counted > 0)
    assert(Probe.max.get() >= 2,
      s"observed max concurrent map tasks = ${Probe.max.get()}")
  }

  test("reduce stage runs >= 2 tasks concurrently (rtiming parity)") {
    Probe.reset()
    // the first run of each reduce task rendezvouses
    val probedReduce: MapReduce.ReduceF = (key, values) => {
      Probe.rendezvous()
      Apps.WordCount.reduce(key, values)
    }
    val out = MapReduce.result(spark, corpusFiles, Apps.WordCount.map, probedReduce)
      .count()
    assert(out > 0)
    assert(Probe.max.get() >= 2,
      s"observed max concurrent reduce tasks = ${Probe.max.get()}")
  }
}
