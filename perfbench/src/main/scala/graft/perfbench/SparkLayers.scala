package graft.perfbench

/** Spark-level per-layer metrics of the traced operation (a crawl or a
  * query pass), from the benchmark's own [[StageListener]]: stages and jobs
  * are attributed to the operation's span (and to its steps: crawl rounds or
  * queries) by submission time. */
object SparkLayers {
  def of(ctx: Main.Ctx, job: Span, stepPrefix: String, codegenMs: Double): Map[String, Double] = {
    val t = ctx.tracer
    val l = ctx.listener
    val (stages, jobs) = l.synchronized((l.stages.toSeq, l.jobs.toSeq))
    val steps = t.spans.filter(s => s.name.startsWith(stepPrefix) && s.start >= job.start &&
      s.end <= job.end).toSeq
    def inSpan(ms: Long, s: Span) = s.start <= ms * 1000000L && ms * 1000000L <= s.end
    val inJob = stages.filter(st => inSpan(st.submitted, job))
    val inSteps = stages.filter(st => steps.exists(s => inSpan(st.submitted, s)))
    val jobsInSteps = jobs.count { case (s, _) => steps.exists(sp => inSpan(s, sp)) }
    val jobSpans = jobs.map { case (s, e) => Span(-1, -1, "job", s * 1000000L, e * 1000000L) }
    val wall = job.wall
    val run = inJob.map(_.runMs).sum / 1e3
    val n = math.max(steps.size, 1).toDouble
    Map(
      "spark.exec_run_s" -> run,
      "spark.exec_cpu_s" -> inJob.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> inJob.map(_.gcMs).sum / 1e3,
      "spark.occupancy" -> run / (ctx.threads * wall),
      "spark.jobs_per_step" -> jobsInSteps / n,
      "spark.stages_per_step" -> inSteps.size / n,
      "spark.tasks_per_step" -> inSteps.map(_.tasks).sum / n,
      "spark.driver_gap_s" -> (job.end - job.start - t.covered(job, jobSpans)) / 1e9,
      "spark.codegen_ms" -> codegenMs,
      "spark.shuffle_write_bytes" -> inJob.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> inJob.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> inJob.map(_.spill).sum.toDouble)
  }
}
