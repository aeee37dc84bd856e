package perfbench

/** Turns the recorded spans and the listener's job ledger into per-call
  * layer figures. A span's job time is the part of it covered by Spark
  * jobs charged to it or to the spans nested in it; its self time is the
  * rest, time the driver spent outside any job. */
final class TraceReport(tracer: Tracer, cores: Int) {
  private val spans = tracer.recorded
  private val ledger = tracer.ledger.getOrElse(sys.error("trace report needs tracing on"))
  private val jobs = ledger.jobs
  private val children = spans.groupBy(_.parent)
  private val jobsOf = jobs.groupBy(_.group)
  private val t0Ns = spans.map(_.startNs).minOption.getOrElse(0L)

  private def toNs(epochMs: Long): Long = ((epochMs - tracer.epochOffsetMs) * 1e6).toLong

  private def descendants(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(descendants)

  /** Spark counters of the span and every span nested in it. */
  def inclusive(s: Span): Counters =
    descendants(s).foldLeft(new Counters)((c, d) => c.add(ledger.counters(d.group)))

  /** Nanoseconds of the span covered by its jobs (union of intervals). */
  def jobNs(s: Span): Long = {
    val iv = descendants(s).flatMap(d => jobsOf.getOrElse(d.group, Nil))
      .map(j => (math.max(s.startNs, toNs(j.startMs)), math.min(s.endNs, toNs(j.endMs))))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    for ((a, b) <- iv) {
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  /** Per-call figures for every span called `name`, under `prefix`. */
  def perCall(prefix: String, name: String): Map[String, Double] = {
    val ss = spans.filter(_.name == name)
    if (ss.isEmpty) Map.empty
    else {
      val n = ss.size.toDouble
      val cs = ss.map(inclusive)
      val tot = cs.foldLeft(new Counters)(_ add _)
      val wallMs = ss.map(_.ns).sum / 1e6
      val jobMs = ss.map(jobNs).sum / 1e6
      Map(
        "jobs_per_call" -> tot.jobs / n,
        "stages_per_call" -> tot.stages / n,
        "tasks_per_call" -> tot.tasks / n,
        "executor_run_ms_per_call" -> tot.runMs / n,
        "executor_cpu_ms_per_call" -> tot.cpuMs / n,
        "gc_ms_per_call" -> tot.gcMs / n,
        "input_bytes_per_call" -> tot.inputBytes / n,
        "output_bytes_per_call" -> tot.outputBytes / n,
        "shuffle_bytes_per_call" -> (tot.shuffleReadBytes + tot.shuffleWriteBytes) / n,
        "shuffle_read_bytes_per_call" -> tot.shuffleReadBytes / n,
        "shuffle_write_bytes_per_call" -> tot.shuffleWriteBytes / n,
        "spill_bytes_per_call" -> tot.spillBytes / n,
        "task_util" -> tot.runMs / math.max(1e-9, wallMs * cores),
        "zero_job_share" -> cs.count(_.jobs == 0) / n,
        "self_ms_per_call" -> (wallMs - jobMs) / n,
        "job_ms_per_call" -> jobMs / n
      ).map { case (k, v) => s"$prefix.$k" -> v }
    }
  }

  /** Layer metrics derived from the trace; `measured` supplies the
    * byte counts the write amplification is taken against. */
  def layerMetrics(measured: Map[String, Double]): Map[String, Double] = {
    val m = perCall("queryengine.search", "queryengine.SearchEngine.search") ++
      perCall("queryengine.topk", "queryengine.SearchEngine.topK") ++
      perCall("queryengine.reload", "queryengine.SearchEngine.search@after_commit") ++
      perCall("index.refresh", "index.Refresh.refreshPages") ++
      perCall("index.delete", "index.Refresh.deletePages") ++
      perCall("index.build", "index.build")
    val amp = for {
      out <- m.get("index.refresh.output_bytes_per_call")
      html <- measured.get("index.refresh.html_bytes") if html > 0
    } yield "index.refresh.write_amp" ->
      out * spans.count(_.name == "index.Refresh.refreshPages") / html
    m ++ amp
  }

  /** Totals per span name: calls, wall, self and job time, Spark work. */
  def summary: Map[String, Map[String, Double]] =
    spans.groupBy(_.name).map { case (name, ss) =>
      val tot = ss.map(inclusive).foldLeft(new Counters)(_ add _)
      val wall = ss.map(_.ns).sum / 1e6
      val job = ss.map(jobNs).sum / 1e6
      name -> Map("calls" -> ss.size.toDouble, "wall_ms" -> wall, "self_ms" -> (wall - job),
        "job_ms" -> job, "jobs" -> tot.jobs.toDouble, "tasks" -> tot.tasks.toDouble,
        "executor_run_ms" -> tot.runMs.toDouble)
    }

  /** Every span and job, times in ms from the first span. */
  def toJson: String = {
    def rel(ns: Long) = (ns - t0Ns) / 1e6
    val spanOfGroup = spans.map(s => s.group -> s.id).toMap
    Json.render(Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "request" -> s.request,
        "name" -> s.name, "start_ms" -> rel(s.startNs), "end_ms" -> rel(s.endNs))),
      "jobs" -> jobs.filter(j => spanOfGroup.contains(j.group)).map(j => Map(
        "job_id" -> j.jobId, "parent" -> spanOfGroup(j.group),
        "start_ms" -> rel(toNs(j.startMs)), "end_ms" -> rel(toNs(j.endMs))))))
  }
}
