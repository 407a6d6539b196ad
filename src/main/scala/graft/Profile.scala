package graft

/** Dev profiler: warm-JVM per-query timing (3 runs, min) plus
  * optional formatted plan dump for named queries. Not part of the
  * driver contract — a local tool for iterating on plan quality.
  *
  * Usage: runMain graft.Profile <sfDir> [queryName ...]
  * With no names: times every query. With names: times those and
  * prints .explain("formatted").
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus.toInt, cpus.toInt)
    // warm up codegen/JIT so first-query cost doesn't pollute numbers
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names(n) }
    selected.foreach { case (name, fn) =>
      if (names.nonEmpty) {
        println(s"==== $name plan ====")
        fn(spark, sfDir).explain("formatted")
      }
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s min=${times.min}%7.3f  runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
