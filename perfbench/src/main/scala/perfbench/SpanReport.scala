package perfbench

/** Per-layer figures from a traced run's spans and listener sums, all per
  * traced round so runs with different round counts compare.
  */
object SpanReport {

  /** Seconds of [s, e] covered by the union of `ivs`. */
  def covered(s: Double, e: Double, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total   = 0.0
    var curS    = Double.NaN
    var curE    = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Give each listener job span the op span that was running it: the
    * innermost span of the same op whose interval holds the job's start.
    */
  def resolveParents(spans: Seq[Span]): Seq[Span] = {
    val byOp = spans.filter(s => s.name != "exec.job" && s.name != "exec.stage").groupBy(_.op)
    spans.map {
      case j if j.name == "exec.job" && j.op != 0 =>
        val holders = byOp.getOrElse(j.op, Nil).filter(s => s.start <= j.start && j.start <= s.end)
        val parent  = if (holders.isEmpty) 0L else holders.minBy(s => s.end - s.start).id
        j.copy(parent = parent)
      case s => s
    }
  }

  /** Self time (ms) of every span: its duration minus what its children cover. */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> ((s.end - s.start) - covered(s.start, s.end, ch))
    }.toMap
  }

  def fill(ctx: Ctx, listener: ExecListener, walls: Seq[Double]): Unit = {
    val L      = ctx.layers
    val rounds = math.max(1, walls.size).toDouble
    val spans  = resolveParents(ctx.tracer.all)
    ctx.tracer.replace(spans)
    val self = selfMs(spans)
    def durations(n: String) = spans.filter(_.name == n).map(s => s.end - s.start)
    L.put("entry.construct_ms", Stats.median(durations("entry.construct")), "ms")
    L.put("catalyst.plan_ms", Stats.median(durations("catalyst.plan")), "ms")
    L.put("exec.wall_ms", Stats.median(durations("exec.collect")), "ms")
    Layers.spanNames.foreach { n =>
      L.put(s"self.$n", spans.filter(_.name == n).map(s => self(s.id)).sum / 1000.0 / rounds, "s")
    }
    val stages = spans.filter(_.name == "exec.stage")
    L.put("wait.exec.stage", stages.map(_.attrs.getOrElse("wait_ms", 0.0)).sum / 1000.0 / rounds, "s")
    // a job waits from its start until its first task launches
    val firstLaunch = stages.groupBy(_.parent).map { case (job, ss) =>
      job -> ss.map(s => s.start + s.attrs.getOrElse("wait_ms", 0.0)).min
    }
    L.put("wait.exec.job", spans.filter(_.name == "exec.job").flatMap(j =>
      firstLaunch.get(j.id).map(t => math.max(0.0, t - j.start))).sum / 1000.0 / rounds, "s")

    val t    = listener.totals.asMap
    val jobs = listener.jobCount.get.toDouble
    L.put("exec.jobs", jobs / rounds, "count")
    L.put("exec.stages", listener.stageCount.get / rounds, "count")
    L.put("exec.tasks", t("tasks") / rounds, "count")
    L.put("exec.tasks_per_job", if (jobs == 0) 0.0 else t("tasks") / jobs, "ratio")
    L.put("exec.task_run_s", t("task_run_ms") / 1000.0 / rounds, "s")
    L.put("exec.task_cpu_s", t("task_cpu_ms") / 1000.0 / rounds, "s")
    L.put("exec.gc_s", t("gc_ms") / 1000.0 / rounds, "s")
    L.put("exec.sched_delay_s", t("sched_delay_ms") / 1000.0 / rounds, "s")
    L.put("exec.core_occupancy", t("task_run_ms") / 1000.0 / (walls.sum * ctx.cores), "ratio")
    L.put("exec.input_bytes", t("input_bytes") / rounds, "bytes")
    L.put("exec.input_records", t("input_records") / rounds, "count")
    L.put("exec.shuffle_read_bytes", t("shuffle_read_bytes") / rounds, "bytes")
    L.put("exec.shuffle_write_bytes", t("shuffle_write_bytes") / rounds, "bytes")
    L.put("exec.shuffle_fetch_wait_s", t("shuffle_fetch_wait_ms") / 1000.0 / rounds, "s")
    L.put("exec.spill_bytes", t("spill_bytes") / rounds, "bytes")
    L.put("exec.result_bytes", t("result_bytes") / rounds, "bytes")
    L.put("exec.failed_tasks", t("failed_tasks") / rounds, "count")
  }
}
