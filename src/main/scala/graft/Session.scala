package graft

import org.apache.spark.sql.SparkSession

/** Session configuration, in one place: the one factory the mains
  * build their session with, and the one scoped override library code
  * may apply to a caller's session.
  */
object Session {

  /** The session every graft main runs on (`Bench`, `Verify`, the dev
    * profiler `Profile`): `local[cpus]`, `partitions` shuffle partitions, UTC,
    * nanosecond parquet timestamps read as longs (see
    * [[Tables.events]]), no UI, WARN logging. Everything else is
    * Spark's default, so a main times the configuration a library
    * consumer gets.
    */
  def local(cpus: Int, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with `settings` applied to `spark`'s SQL conf and put
    * every key back as it was after (unset if it was unset), also when
    * `body` throws. The only place library code changes session conf:
    * the setting is visible to every query on the session while
    * `body` runs, so keep `body` to the work that needs it.
    */
  private[graft] def withConf[A](spark: SparkSession, settings: (String, String)*)
                                (body: => A): A = {
    val before = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
