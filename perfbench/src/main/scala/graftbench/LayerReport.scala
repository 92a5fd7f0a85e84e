package graftbench

/** The layer record of one traced operation.
  *
  * The operation's wall splits into three parts that must add up to it:
  * `buildS` (the `queries.build` span: building the DataFrame, with any
  * eager jobs inside it), `execRunS` (the time any other job of the
  * operation was running) and `gapS` (time in neither, spent on the JVM
  * that plans and schedules). */
final case class OpRecord(label: String, wallS: Double, buildS: Double, buildJobs: Int,
                          execRunS: Double, gapS: Double, closes: Boolean, jobs: Seq[JobRecord],
                          spans: Seq[Span], analysisS: Double, optimizationS: Double, planningS: Double,
                          cachePeakBytes: Long, rowsIn: Long, usefulRows: Long) {
  def spanS(name: String): Double = spans.filter(_.name == name).map(_.durationMs).sum / 1e3
}

object LayerReport {
  /** Clock slack allowed when checking that the parts add up: spans use the
    * monotonic clock, job events the wall clock with millisecond steps. */
  val SlackMs = 10.0

  /** Modules reported by name; jobs of other graft modules count as `other`. */
  val Modules = Seq("dedup", "text", "similarity", "ops", "queries", "domain", "expressions", "sources")

  def op(label: String, spans: Seq[Span], jobs: Seq[JobRecord], plans: PlanListener,
         cachePeakBytes: Long, executed: Executed): OpRecord = {
    val root = spans.find(_.parent == 0).getOrElse(sys.error(s"$label: no operation span"))
    val build = spans.filter(_.name == "queries.build")
    val buildIds = build.map(_.id).toSet
    val (buildJobs, runJobs) = jobs.partition(j => buildIds(j.span))
    val execRunMs = unionMs(runJobs.map(j => (j.startMs.toDouble max root.startMs,
      (if (j.endMs < 0) root.endMs else j.endMs.toDouble) min root.endMs)))
    val buildMs = build.map(_.durationMs).sum
    val gapMs = root.durationMs - buildMs - execRunMs
    val inside = jobs.forall(j => j.startMs >= root.startMs - SlackMs && j.endMs >= 0 &&
      j.endMs <= root.endMs + SlackMs)
    OpRecord(label, root.durationMs / 1e3, buildMs / 1e3, buildJobs.size, execRunMs / 1e3,
      gapMs / 1e3, inside && gapMs >= -SlackMs, jobs, spans,
      plans.analysisMs / 1e3, plans.optimizationMs / 1e3, plans.planningMs / 1e3,
      cachePeakBytes, executed.rowsIn, executed.usefulRows)
  }

  /** Total length of a set of intervals, overlaps counted once. */
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Self time of each layer: a span's duration less its children's, summed
    * by span name over the operations and divided by their number. */
  def selfTimes(ops: Seq[OpRecord]): Map[String, Double] = {
    val perSpan = ops.flatMap { o =>
      o.spans.map(s => s.name -> (s.durationMs - o.spans.filter(_.parent == s.id).map(_.durationMs).sum))
    }
    perSpan.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum / 1e3 / ops.size }
  }

  /** The per-layer metrics of a traced run, per operation unless the unit
    * says otherwise. `overheadShare` compares traced with untraced runs of
    * the same operations. */
  def metrics(ops: Seq[OpRecord], overheadShare: Double): Seq[(String, Double, String)] = {
    val n = ops.size.toDouble
    def mean(f: OpRecord => Double) = ops.map(f).sum / n
    def jobsSum(f: JobRecord => Double) = mean(_.jobs.map(f).sum)
    def moduleOf(j: JobRecord) =
      if (Modules.contains(j.module) || j.module == "unattributed") j.module else "other"
    val increments = ops.filter(_.spans.exists(_.name == "domain.upsert"))
    val written = ops.flatMap(_.jobs).map(_.outputRows).sum
    val cpuS = jobsSum(_.cpuNs / 1e9)
    Seq(
      ("queries.build_s", mean(_.buildS), "s/op"),
      ("queries.build_jobs", mean(_.buildJobs), "jobs/op")) ++
    (Modules :+ "other" :+ "unattributed").flatMap(m => Seq(
      (s"$m.jobs", mean(_.jobs.count(moduleOf(_) == m).toDouble), "jobs/op"),
      (s"$m.cpu_s", mean(_.jobs.filter(moduleOf(_) == m).map(_.cpuNs / 1e9).sum), "s/op"))) ++
    Seq(
      ("plan.analysis_s", mean(_.analysisS), "s/op"),
      ("plan.optimization_s", mean(_.optimizationS), "s/op"),
      ("plan.planning_s", mean(_.planningS), "s/op"),
      ("exec.jobs", mean(_.jobs.size.toDouble), "jobs/op"),
      ("exec.sched_delay_s", jobsSum(_.schedDelayMs / 1e3), "s/op"),
      ("exec.run_s", mean(_.execRunS), "s/op"),
      ("exec.stages", jobsSum(_.stages.toDouble), "stages/op"),
      ("exec.tasks", jobsSum(_.tasks.toDouble), "tasks/op"),
      ("exec.cpu_s", cpuS, "s/op"),
      ("exec.cpu_per_wall", cpuS / mean(_.wallS), "cores"),
      ("exec.gc_s", jobsSum(_.gcMs / 1e3), "s/op"),
      ("exec.shuffle_write_bytes", jobsSum(_.shuffleWriteBytes.toDouble), "B/op"),
      ("exec.spill_bytes", jobsSum(_.spillBytes.toDouble), "B/op"),
      ("exec.cache_bytes_peak", ops.map(_.cachePeakBytes).max.toDouble, "B"),
      ("tables.input_bytes", jobsSum(_.inputBytes.toDouble), "B/op"),
      ("tables.input_rows", jobsSum(_.inputRows.toDouble), "rows/op"),
      ("driver.gap_s", mean(_.gapS), "s/op"),
      ("domain.watermark_s", mean(_.spanS("domain.watermark")), "s/op"),
      ("domain.upsert_s", mean(_.spanS("domain.upsert")), "s/op"),
      ("domain.jobs_per_increment",
        if (increments.isEmpty) 0.0 else increments.map(_.jobs.size).sum.toDouble / increments.size, "jobs"),
      ("domain.bytes_written_per_batch_row",
        ratio(increments.flatMap(_.jobs).map(_.outputBytes).sum, increments.map(_.rowsIn).sum), "B/row"),
      ("domain.useful_row_share", ratio(increments.map(_.usefulRows).sum, written), "share"),
      ("trace.unattributed_cpu_share", ratio(mean(_.jobs.filter(_.module == "unattributed")
        .map(_.cpuNs / 1e9).sum), cpuS), "share"),
      ("trace.unclosed_ops", ops.count(!_.closes).toDouble, "count"),
      ("trace.overhead_share", overheadShare, "share"))
  }

  private def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
}
