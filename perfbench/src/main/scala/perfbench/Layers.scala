package perfbench

import perfbench.Trace.Span

/** Per-module attribution of traced calls (artifact sections). */
object Layers {

  private def sumMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)

  /** `IndexBuilder.build` calls split by the artifact each job's SQL
    * execution writes; jobs writing none (the corpus stats action and
    * reads) are `stats_ms`, instants with no job are `driver_gap_ms`.
    */
  def builder(ctx: Ctx, builds: Seq[Span], docs: Long): Map[String, Any] = {
    val t = ctx.trace
    val phases = sumMaps(builds.map(b => t.timeline(b,
      j => t.writeOf(j).map(a => if (a == "stats") "stats_write" else a).getOrElse("stats"))))
    val wall = builds.map(_.ms).sum
    val w = t.work(builds)
    val named = phases.map { case (k, v) => s"${k}_ms" -> v }
    named ++ Map(
      "builds" -> builds.size,
      "wall_ms" -> wall,
      "accounted_share" -> (if (wall > 0) phases.values.sum / wall else 0.0),
      "cpu_util" -> w.cpuUtil,
      "cpu_ms_per_kdoc" -> (if (docs > 0) w.cpuMs / (docs / 1000.0) else 0.0),
      "gc_ms" -> w.gcMs,
      "shuffle_write_mb" -> w.shWrite / 1048576.0,
      "spill_mb" -> w.spill / 1048576.0,
      "max_task_share" -> w.maxTaskShare,
      "jobs" -> w.jobs)
  }

  /** A Wand/ANN call's final SQL execution is its result plan; jobs of
    * earlier executions are driver-side lookups (memo misses).
    */
  private def finalExec(ctx: Ctx, s: Span): Long = {
    val js = ctx.trace.jobsIn(s)
    if (js.isEmpty) -1L else js.map(j => if (j.root >= 0) j.root else j.exec).max
  }

  private def resultSplit(ctx: Ctx, s: Span): (Double, Double, Int) = {
    val fe = finalExec(ctx, s)
    val tl = ctx.trace.timeline(s, j =>
      if ((if (j.root >= 0) j.root else j.exec) == fe) "result" else "lookup")
    val lookups = ctx.trace.jobsIn(s).count(j => (if (j.root >= 0) j.root else j.exec) != fe)
    (tl.getOrElse("driver_gap", 0.0) + tl.getOrElse("lookup", 0.0),
      tl.getOrElse("result", 0.0), lookups)
  }

  /** `Wand.topK` calls grouped by tag; `queries` = queries per call. */
  def wand(ctx: Ctx, calls: Seq[(Span, Int)]): Map[String, Any] =
    calls.groupBy(_._1.tag).map { case (tag, cs) =>
      val spans = cs.map(_._1)
      val nq = math.max(1, cs.map(_._2).sum).toDouble
      val w = ctx.trace.work(spans)
      val splits = spans.map(resultSplit(ctx, _))
      val shardEval = spans.map { s =>
        val st = ctx.trace.stagesIn(s)
        if (st.isEmpty) 0.0 else { val h = st.maxBy(_.sumTaskMs); (h.complete - h.submit).toDouble }
      }
      tag -> Map(
        "calls" -> spans.size,
        "wall_ms_per_query" -> w.wallMs / nq,
        "driver_ms_per_query" -> splits.map(_._1).sum / nq,
        "jobs_per_query" -> w.jobs / nq,
        "lookup_jobs_per_query" -> splits.map(_._3).sum / nq,
        "shard_eval_ms_per_query" -> shardEval.sum / nq,
        "merge_ms_per_query" -> splits.zip(shardEval).map { case (s, e) => math.max(0.0, s._2 - e) }.sum / nq,
        "input_rows_per_query" -> w.inRows / nq,
        "max_task_share" -> w.maxTaskShare)
    }

  /** `AnnIndex.searchIvfBatch` calls: driver-side centers collect and
    * cell ranking vs the probe plan.
    */
  def ann(ctx: Ctx, calls: Seq[Span]): Map[String, Any] = {
    val n = math.max(1, calls.size).toDouble
    val splits = calls.map(resultSplit(ctx, _))
    val w = ctx.trace.work(calls)
    val probeRows = calls.map { s =>
      val fe = finalExec(ctx, s)
      val js = ctx.trace.jobsIn(s).filter(j => (if (j.root >= 0) j.root else j.exec) == fe)
      if (js.isEmpty) 0L else {
        val span = Span("", "", "", js.map(_.start).min, js.map(_.end).max, 0.0)
        ctx.trace.stagesIn(span).map(_.inRows).sum
      }
    }
    Map("calls" -> calls.size,
      "driver_ms" -> splits.map(_._1).sum / n,
      "probe_ms" -> splits.map(_._2).sum / n,
      "candidates_read" -> probeRows.sum / n,
      "jobs_per_call" -> w.jobs / n,
      "max_task_share" -> w.maxTaskShare)
  }
}
