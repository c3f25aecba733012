package graftbench

/** Splits a traced request across layers: the Spark jobs that started
  * inside it become child spans of the phase open at their start, and
  * their task statistics are summed into `layers`. */
object Attribution {
  /** A job that started inside a request must end inside it: a job
    * still running when the request is accounted (end < 0) or ending
    * after it outlived the request. */
  def outlives(j: Probe.Job, req: Span): Boolean = j.end < 0 || j.end > req.end

  def account(probe: Probe, trace: Trace, layers: Layers, req: Span, phases: Seq[Span],
              cores: Int): Unit = {
    val jobs = probe.jobsIn(req.start, req.end)
    val seenStages = scala.collection.mutable.Set.empty[Int]
    var worstSkew = 1.0
    val intervals = jobs.map { j =>
      val end = if (j.end < 0) req.end else j.end
      val parent = phases.find(p => j.start >= p.start && j.start <= p.end).getOrElse(req)
      trace.add(parent.id, req.request, s"job${j.id}", j.start, end)
      if (parent.name == "build") layers.add("queries.build_jobs", 1)
      j.stages.filter(seenStages.add).flatMap(probe.stats).foreach { s =>
        if (s.durations.nonEmpty) layers.add("exec.stages", 1)
        layers.add("exec.tasks", s.durations.size)
        layers.add("exec.task_run_s", s.runMs / 1000.0)
        layers.add("exec.task_cpu_s", s.cpuNs / 1e9)
        layers.add("exec.task_gc_s", s.gcMs / 1000.0)
        layers.add("exec.shuffle_write_bytes", s.shuffleWrite)
        layers.add("exec.shuffle_read_bytes", s.shuffleRead)
        layers.add("exec.spill_bytes", s.spill)
        layers.add("exec.result_bytes", s.resultBytes)
        layers.add("Tables.scan_bytes", s.inputBytes)
        layers.add("Tables.scan_rows", s.inputRows)
        if (parent.name == "build") layers.add("queries.build_result_bytes", s.resultBytes)
        if (s.durations.size >= 2) {
          val med = Stats.median(s.durations.map(_.toDouble).toSeq)
          if (med > 0) worstSkew = math.max(worstSkew, s.durations.max / med)
        }
      }
      (j.start, end)
    }
    val covered = Stats.coveredWithin(intervals, req.start, req.end)
    layers.add("exec.jobs", jobs.size)
    layers.add("exec.covered_s", covered / 1000.0)
    layers.add("exec.driver_gap_s", (req.dur - covered) / 1000.0)
    layers.sample("exec.task_skew", worstSkew)
    if (jobs.exists(outlives(_, req))) layers.add("trace.jobs_over_wall", 1)
    if (req.dur > 0) layers.add("trace.child_gap_frac", trace.selfTime(req).toDouble / req.dur)
    layers.add("exec.cores_x_covered_s", cores * covered / 1000.0)
    layers.requests += 1
  }
}
