package perfbench

/**
 * Per-layer numbers of one traced pass, from the tracer's spans and the
 * jobs, stages, tasks, Catalyst phases and cache blocks attached to them.
 *
 * Layers: graft (driver-side build: dialect render, DAG and plan
 * construction), catalyst (analysis, optimization, planning), exec (Spark
 * jobs and their tasks), cache (blocks stored). Self time of a layer is its
 * span time minus what its child layers cover inside that span.
 */
object Layers {
  def apply(t: Tracer, pass: Int, cores: Int): Map[String, Double] = t.synchronized {
    val spans = t.spans.filter(_.pass == pass).toSeq
    def of(kind: String) = spans.filter(_.kind == kind)
    val builds = of("build")
    val actions = of("action")
    val jobs = t.jobs.values.filter(_.pass == pass).toSeq
    val tasks = t.tasks.filter(_.pass == pass).toSeq
    val phases = t.phases.filter(_.pass == pass).toSeq
    val blocks = t.blocks.filter(_.pass == pass).toSeq
    val stageJob = jobs.flatMap(j => j.stages.map(_ -> j)).toMap

    def inSpan(s: Span, ms: Long) = ms >= t.epochMs(s.start) && ms <= t.epochMs(s.end)
    def phaseS(s: Span) = phases.filter(p => inSpan(s, p.startMs)).map(_.durMs).sum / 1e3 +
      s.counters.getOrElse("analysis_ms", 0.0) / 1e3
    def jobS(js: Seq[JobRec]) = js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3
    def jobsOf(s: Span) = jobs.filter(_.group == s.id)
    def selfS(ss: Seq[Span]) = ss.map(s => math.max(0.0, s.seconds - phaseS(s) - jobS(jobsOf(s)))).sum
    def phaseMs(name: String) = phases.filter(_.name == name).map(_.durMs).sum.toDouble

    val buildIds = builds.map(_.id).toSet
    val actionIds = actions.map(_.id).toSet
    val actionBusy = tasks.filter(x => stageJob.get(x.stage).exists(j => actionIds(j.group)))
      .map(_.busyS).sum
    val actionWall = actions.map(_.seconds).sum
    val skew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durS).sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    }
    val mb = 1e6
    Map(
      "graft.build_s" -> builds.map(_.seconds).sum,
      "graft.eager_jobs" -> jobs.count(j => buildIds(j.group)).toDouble,
      "sql.render_ms" -> of("render").map(_.seconds).sum * 1e3,
      "sql.build_ms" -> of("sql").map(_.seconds).sum * 1e3,
      "sql.statements" -> of("render").map(_.counters.getOrElse("statements", 0.0)).sum,
      "workflow.run_ms" -> of("workflow").map(_.seconds).sum * 1e3,
      "catalyst.analysis_ms" -> (phaseMs("analysis") +
        builds.map(_.counters.getOrElse("analysis_ms", 0.0)).sum),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> jobs.flatMap(_.stages).distinct.count(s => t.stages.contains(s)).toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_busy_s" -> tasks.map(_.busyS).sum,
      "exec.core_util" -> (if (actionWall > 0) actionBusy / (cores * actionWall) else 0.0),
      "exec.worst_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "exec.max_task_s" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.durS).max),
      "exec.sched_wait_s" -> tasks.map(_.waitS).sum,
      "exec.gc_s" -> tasks.map(_.gcS).sum,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / mb,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / mb,
      "exec.spill_mb" -> tasks.map(_.spill).sum / mb,
      "exec.input_mb" -> tasks.map(_.input).sum / mb,
      "exec.output_mb" -> tasks.map(_.output).sum / mb,
      "cache.blocks_put" -> blocks.size.toDouble,
      "cache.stored_mb" -> blocks.map(_.bytes).sum / mb,
      "self.graft_s" -> selfS(builds),
      "self.action_driver_s" -> selfS(actions),
      "self.catalyst_s" -> (builds ++ actions).map(phaseS).sum,
      "self.exec_s" -> jobS(jobs))
  }

  /** Every span with its parent, plus each Spark job (and its stages) as a
   * child of the build or action span that launched it. */
  def spansJson(t: Tracer): String = t.synchronized {
    val stageJson = (ids: Seq[Int]) => Json.arr(ids.flatMap(t.stages.get).map { s =>
      val ts = t.tasks.filter(_.stage == s.id)
      Json.obj(Seq("stage" -> s.id.toString, "name" -> Json.str(s.name),
        "start_ms" -> s.submitMs.toString, "end_ms" -> s.endMs.toString,
        "tasks" -> ts.size.toString,
        "task_busy_s" -> Json.num(ts.map(_.busyS).sum),
        "max_task_s" -> Json.num(if (ts.isEmpty) 0 else ts.map(_.durS).max),
        "shuffle_read_b" -> ts.map(_.shuffleRead).sum.toString,
        "shuffle_write_b" -> ts.map(_.shuffleWrite).sum.toString))
    })
    val spanRows = t.spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name), "pass" -> s.pass.toString,
        "start_ms" -> t.epochMs(s.start).toString, "end_ms" -> t.epochMs(s.end).toString) ++
        s.counters.map { case (k, v) => k -> Json.num(v) })
    }
    val jobRows = t.jobs.values.map { j =>
      Json.obj(Seq("job" -> j.id.toString, "parent" -> j.group.toString,
        "pass" -> j.pass.toString, "start_ms" -> j.startMs.toString,
        "end_ms" -> j.endMs.toString, "stages" -> stageJson(j.stages)))
    }
    val phaseRows = t.phases.map { p =>
      Json.obj(Seq("phase" -> Json.str(p.name), "pass" -> p.pass.toString,
        "start_ms" -> p.startMs.toString, "dur_ms" -> p.durMs.toString))
    }
    Json.obj(Seq("spans" -> Json.arr(spanRows.toSeq), "jobs" -> Json.arr(jobRows.toSeq),
      "catalyst_phases" -> Json.arr(phaseRows.toSeq)))
  }
}
