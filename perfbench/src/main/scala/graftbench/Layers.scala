package graftbench

/** Per-layer figures of the timed ops, from the tracer's spans, jobs and
  * Catalyst phases. Jobs are attributed to a layer by the long call site of
  * their result stage, i.e. by the graft source file that ran them.
  */
object Layers {
  private val StoreSites = Seq("FreqStore.scala", "DedupIndex.scala", "CasProtocol.scala")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of `[a, b)` intervals. */
  private def covered(iv: Seq[(Double, Double)]): Double =
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) {
      case ((tot, reach), (a, b)) =>
        if (b <= reach) (tot, reach) else (tot + b - math.max(a, reach), b)
    }._1

  /** Give every job without a span the innermost span open when it started. */
  def parent(spans: Seq[Span], jobs: Seq[JobRec]): Unit =
    jobs.filter(_.span == 0).foreach { j =>
      spans.filter(s => s.start <= j.start && j.start < s.end).sortBy(-_.start).headOption
        .foreach(s => j.span = s.id)
    }

  def compute(
      ops: Seq[Sample], spans: Seq[Span], jobs: Seq[JobRec], phases: Seq[PhaseRec],
      k: Int): Map[String, Double] = {
    val opIds = ops.map(_.id).toSet
    val spanById = spans.map(s => s.id -> s).toMap
    val inOps = jobs.filter(j => spanById.get(j.span).exists(s => opIds(s.op)) && !j.end.isNaN)
    def dur(j: JobRec) = j.end - j.start
    def sited(sites: String*) = inOps.filter(j => sites.exists(j.site.contains))
    val tables = sited("Tables.scala")
    val stores = inOps.filter(j => j.touchesStore || StoreSites.exists(j.site.contains))
    val opSpans = spans.filter(s => opIds(s.op))
    def spanMs(name: String) = opSpans.filter(_.name == name).map(s => s.end - s.start)
    val buildIds = opSpans.filter(_.name == "build").map(_.id).toSet
    val windows = ops.map(o => (o.start, o.start + o.ms))
    val inPhase = phases.filter(p => windows.exists { case (a, b) => p.start >= a && p.start < b })
    def phaseMs(p: String) = inPhase.filter(_.phase == p).map(x => x.end - x.start).sum
    val jobsByOp = inOps.groupBy(j => spanById(j.span).op)
    val gapMs = ops.map { o =>
      val (a, b) = (o.start, o.start + o.ms)
      o.ms - covered(jobsByOp.getOrElse(o.id, Nil).map(j => (math.max(a, j.start), math.min(b, j.end))))
    }.sum
    val runMs = inOps.map(_.runMs).sum
    val wallMs = ops.map(_.ms).sum
    val mb = 1024.0 * 1024.0
    Map(
      "tables.loads" -> tables.size.toDouble,
      "tables.load_ms" -> tables.map(dur).sum,
      "operators.build_ms" -> spanMs("build").sum,
      "operators.build_jobs" -> inOps.count(j => buildIds(j.span)).toDouble,
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimize_ms" -> phaseMs("optimization"),
      "catalyst.plan_ms" -> phaseMs("planning"),
      "catalyst.graft_rules_ms" -> inPhase.map(_.graftRulesMs).sum,
      "scheduler.jobs" -> inOps.size.toDouble,
      "scheduler.stages" -> inOps.map(_.stages).sum.toDouble,
      "scheduler.tasks" -> inOps.map(_.tasks).sum.toDouble,
      "scheduler.delay_ms" -> inOps.map(_.delayMs).sum,
      "exec.task_run_ms" -> runMs,
      "exec.task_cpu_ms" -> inOps.map(_.cpuMs).sum,
      "exec.gc_ms" -> inOps.map(_.gcMs).sum,
      "exec.shuffle_write_mb" -> inOps.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> inOps.map(_.shuffleRead).sum / mb,
      "exec.spill_mb" -> inOps.map(_.spill).sum / mb,
      "exec.result_kb" -> inOps.map(_.result).sum / 1024.0,
      "exec.core_util" -> (if (wallMs > 0) runMs / (wallMs * k) else 0.0),
      "driver.gap_ms" -> gapMs,
      "iterate.jobs" -> sited("Iterate.scala").size.toDouble,
      "catalog.get_ms" -> median(spanMs("catalog.get")),
      "catalog.find_ms" -> median(spanMs("catalog.find")),
      "catalog.write_ms" -> median(spanMs("catalog.write")),
      "stores.jobs" -> stores.size.toDouble,
      "stores.job_ms" -> stores.map(dur).sum)
  }

  /** Each span's self time: its duration minus the part of it that its
    * child spans and its own jobs cover.
    */
  def selfTimes(spans: Seq[Span], jobs: Seq[JobRec]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent).map { case (p, ss) => p -> ss.map(s => (s.start, s.end)) }
    val ownJobs = jobs.filterNot(_.end.isNaN).groupBy(_.span)
      .map { case (s, js) => s -> js.map(j => (j.start, j.end)) }
    spans.map { s =>
      val iv = (kids.getOrElse(s.id, Nil) ++ ownJobs.getOrElse(s.id, Nil))
        .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      s.id -> (s.end - s.start - covered(iv))
    }.toMap
  }
}
