package graft.perfbench

/** Spark engine metrics over a measured window, from [[EngineRecorder]]. */
object Engine {
  /** Jobs, tasks, executor CPU, driver gaps between jobs, planning time,
    * shuffle bytes and spill of the work started in [fromMs, toMs).
    */
  def metrics(ctx: Ctx, fromMs: Long, toMs: Long): Unit = {
    val rep = ctx.report
    val (jobs, stages, plans) = ctx.engine.window(fromMs, toMs)
    val sorted = jobs.sortBy(_.startMs)
    val gaps = sorted.zip(sorted.drop(1)).collect {
      case (a, b) if a.endMs >= 0 => math.max(0L, b.startMs - a.endMs).toDouble
    }
    rep.per("spark.jobs", jobs.size.toDouble, "count", jobs.size)
    rep.per("spark.tasks", stages.map(_.tasks.toDouble).sum, "count", stages.size)
    rep.per("spark.executor_cpu_ms", stages.map(_.cpuNs).sum / 1e6, "ms", stages.size)
    rep.per("spark.job_gap_ms", Stats.median(gaps), "ms", gaps.size, "median gap from a job's end to the next job's start")
    rep.per("spark.plan_ms", Stats.median(plans.map(_.planMs)), "ms", plans.size, "median planning time per query execution")
    rep.per("spark.shuffle_read_bytes", stages.map(_.shuffleRead.toDouble).sum, "bytes", stages.size)
    rep.per("spark.shuffle_write_bytes", stages.map(_.shuffleWrite.toDouble).sum, "bytes", stages.size)
    rep.per("spark.spill_bytes", stages.map(_.spill.toDouble).sum, "bytes", stages.size)
  }
}
