package perfbench

/** `batch_mix`: the paper's word-count job ([[MrText]]), issued back to
  * back; the job is the primary op (`op_p50_s`, `ops_per_s`). The
  * traced run adds [[QueryMix]]'s drawn query rows: a job phase of the
  * run's seconds, then one round of the rows, twice (one pass traced,
  * one not). The rows feed the `queries.*`, `functions.*` and `tables.*`
  * layer metrics and `ctx.query_p50_s`; they come after the jobs, so
  * they do not disturb the jobs' timings.
  */
final class BatchMix(mr: MrText, qm: Option[QueryMix], seconds: Int) extends Workload {
  val primaryKind = "job"

  private var jobsUntil = 0L // end of the current job phase; 0 = not started
  private var inRound = -1 // index of the next query op of the round; -1 = job phase
  private var jobs = 0
  private var queries = 0

  def prepare(rep: Int): Unit = { mr.prepare(rep); qm.foreach(_.prepare(rep)) }
  // the jobs warm up last, right before they are timed
  def warm(): Unit = { qm.foreach(_.warm()); mr.warm() }

  def op(i: Int): Op = qm match {
    case None => jobs += 1; mr.op(jobs - 1)
    case Some(q) =>
      if (inRound < 0 && jobsUntil == 0L) jobsUntil = System.nanoTime() + seconds * 1000000000L
      if (inRound < 0 && jobs > 0 && System.nanoTime() >= jobsUntil) inRound = 0
      if (inRound < 0) { jobs += 1; mr.op(jobs - 1) }
      else {
        val op = q.op(queries)
        queries += 1
        inRound += 1
        if (inRound == q.roundSize) { inRound = -1; jobsUntil = 0L }
        op
      }
  }

  /** With queries, only after a whole query round. */
  override def mayStop(i: Int): Boolean = qm.isEmpty || (inRound < 0 && jobsUntil == 0L)

  def inputs: String = (mr.inputs +: qm.map(_.inputs).toSeq).mkString("; ")
  def corruptExpected(): Unit = { mr.corruptExpected(); qm.foreach(_.corruptExpected()) }
  override def finish(): Unit = qm.foreach(_.finish())

  override def context(done: Seq[OpResult]): Map[String, Double] =
    mr.context(done) +
      ("ctx.query_p50_s" -> Stats.median(done.filter(_.kind == "query").map(_.seconds)))

  // the query half's tables.scan_bytes wins: the registry reads Tables,
  // the job reads its own text files
  override def layers(t: Trace, done: Seq[OpResult]): Map[String, Double] =
    mr.layers(t, done) ++ qm.fold(Map.empty[String, Double])(_.layers(t, done))
}
