package perfbench

object Common {
  /** Resolves the trace (jobs → the op span that caused them) and reports,
    * per op of the given kinds, the median driver-side self time (the op's
    * wall time outside any Spark job), time inside jobs, tasks and bytes
    * collected to the driver. Jobs are matched to ops by the op tag on the
    * calling thread, and — in closed-loop workloads, where only one op runs
    * at a time (`byWindow`) — by time window. Returns the per-op costs for
    * workload-specific naming.
    */
  def spanMetrics(ctx: Ctx, o: Outcome, opKinds: Set[String], byWindow: Boolean = true): Seq[OpCost] = {
    ctx.drainListener()
    val all = ctx.trace.all
    Trace.resolve(all, ctx.listener.map(_.jobOps).getOrElse(Map.empty), opKinds, byWindow)
    val costs = OpCost.of(all, opKinds)
    val n = costs.size.toLong
    o.put("trace.op_self_ms", Stats.median(costs.map(_.selfMs)), "ms", n)
    o.put("trace.op_job_ms", Stats.median(costs.map(_.jobMs)), "ms", n)
    o.put("spark.jobs_per_op", Stats.median(costs.map(_.jobs.toDouble)), "count", n)
    o.put("spark.tasks_per_op", Stats.median(costs.map(_.tasks.toDouble)), "count", n)
    o.put("spark.result_bytes_per_op", Stats.median(costs.map(_.resultBytes)), "B", n)
    o.put("spark.shuffle_bytes_per_op", Stats.median(costs.map(_.shuffleBytes)), "B", n)
    costs
  }
}
