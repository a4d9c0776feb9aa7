package perfbench

import Common.median

/** Per-layer numbers derived from the traced run's spans and the
  * listener's per-job-group task metrics. Per-operation figures are
  * means over the traced operations of the steady phase. */
object Layers {
  private def dur(s: Span): Double = (s.endNs - s.startNs) / 1e9

  private def meanSpan(tracer: Tracer, name: String, ops: Set[String]): Double = {
    val ds = tracer.all.filter(s => s.name == name && ops(s.op)).map(dur)
    if (ds.isEmpty) 0.0 else ds.sum / ds.size
  }

  def exec(l: ExecListener, groups: Seq[String], tracer: Tracer, cores: Int,
           attempted: Long): Map[String, Double] = {
    val ops = groups.toSet
    val st = groups.flatMap(l.get)
    val n = math.max(1, groups.size).toDouble
    val opWall = tracer.all.filter(s => s.name == "op" && ops(s.op)).map(dur).sum
    val runS = st.map(_.runMs).sum / 1000.0
    Map(
      "exec.wall_s" -> meanSpan(tracer, "exec", ops),
      "exec.task_s" -> runS / n,
      "exec.util" -> (if (opWall > 0) runS / (opWall * cores) else 0.0),
      "exec.task_wait_s" -> st.map(_.waitMs).sum / 1000.0 / n,
      "exec.jobs" -> st.map(_.jobs).sum / n,
      "exec.stages" -> st.map(_.stages).sum / n,
      "exec.tasks" -> st.map(_.tasks).sum / n,
      "exec.shuffle_read_bytes" -> st.map(_.shuffleRead).sum / n,
      "exec.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum / n,
      "exec.spill_mem_bytes" -> st.map(_.spillMem).sum / n,
      "exec.spill_disk_bytes" -> st.map(_.spillDisk).sum / n,
      "exec.gc_s" -> st.map(_.gcMs).sum / 1000.0 / n,
      "exec.peak_exec_mem_bytes" -> st.map(_.peakExecMem).foldLeft(0L)(math.max).toDouble,
      "exec.stage_skew" -> median(st.map(_.worstSkew)),
      "exec.failed_tasks" -> st.map(_.failedTasks).sum.toDouble,
      "exec.sql_executions" -> l.sqlExecutions.get.toDouble / math.max(1L, attempted),
      "sources.scan_bytes" -> st.map(_.inBytes).sum / n,
      "sources.scan_rows" -> st.map(_.inRows).sum / n,
      "plan.build_s" -> meanSpan(tracer, "plan.build", ops),
      "plan.optimize_s" -> meanSpan(tracer, "plan.optimize", ops))
  }

  /** Mean task seconds per operation of each operation family. */
  def families(l: ExecListener, ok: Seq[Sample], family: Map[String, String],
               names: Seq[String]): Map[String, Double] =
    names.map { f =>
      val gs = ok.filter(s => family.get(s.name).contains(f)).map(_.group)
      val task = gs.flatMap(l.get).map(_.runMs).sum / 1000.0
      s"operators.$f.task_s" -> (if (gs.isEmpty) 0.0 else task / gs.size)
    }.toMap

  /** Traced minus untraced latency, per operation name (medians), then
    * averaged over the names both kinds of cycle ran. */
  def overhead(samples: Seq[Sample]): Map[String, Double] = {
    val ok = samples.filter(_.ok)
    val pairs = ok.groupBy(_.name).toSeq.flatMap { case (_, ss) =>
      val (t, u) = ss.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((median(t.map(_.latencyS)), median(u.map(_.latencyS))))
    }
    if (pairs.isEmpty) Map("trace.overhead_s" -> 0.0, "trace.overhead_ratio" -> 0.0)
    else Map(
      "trace.overhead_s" -> pairs.map(p => p._1 - p._2).sum / pairs.size,
      "trace.overhead_ratio" -> (pairs.map(_._1).sum / pairs.map(_._2).sum - 1.0))
  }

  /** Mean self time (span minus child spans) per span, by span name. */
  def selfTimes(tracer: Tracer): Map[String, Double] = {
    val counts = tracer.all.groupBy(_.name).map { case (k, v) => k -> v.size }
    tracer.selfTimes.map { case (name, total) => s"self.${name}_s" -> total / counts(name) }
  }

  /** The largest contributors to one set-up pass: each MV build and each
    * operation's own execution, with the task metrics that separate
    * spill, GC, waiting for cores, and fixed per-job cost. */
  def attribution(l: ExecListener, tracer: Tracer, prefix: String, cores: Int): Seq[Map[String, Any]] = {
    val spans = tracer.all.filter(s => s.op.startsWith(prefix) &&
      (s.name == "model.mv_build" || s.name == "exec"))
    spans.sortBy(s => -dur(s)).take(8).map { s =>
      val g = l.get(s.op).getOrElse(new GroupStats)
      val wall = dur(s)
      val task = g.runMs / 1000.0
      val gc = g.gcMs / 1000.0
      val wait = g.waitMs / 1000.0
      val util = if (wall > 0) task / (wall * cores) else 0.0
      val cause =
        if (g.spillDisk + g.spillMem > 0) "spill"
        else if (gc > 0.2 * task && gc > 0.05) "gc"
        else if (wait > task && wait > 0.05) "oversubscription"
        else if (s.op.contains(":mv:logs_") || s.op.contains(":mv:decoded_")) "decode"
        else if (util < 0.25) "per-job fixed cost (planning, scheduling, codegen)"
        else "compute"
      Map("span" -> s.op, "kind" -> s.name, "wall_s" -> wall, "task_s" -> task,
        "exec.util" -> util, "exec.gc_s" -> gc, "exec.spill_mem_bytes" -> g.spillMem,
        "exec.spill_disk_bytes" -> g.spillDisk, "exec.task_wait_s" -> wait,
        "exec.jobs" -> g.jobs, "exec.tasks" -> g.tasks, "cause" -> cause)
    }
  }
}
