package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of one traced pass, from the [[Recorder]]'s jobs,
  * stages and executions of the pass's queries. Also adds the plan,
  * execute, job and stage spans of those queries to the recorder. */
object Layers {

  def forPass(r: Recorder, samples: Seq[Main.Sample], start: Double,
              end: Double, cores: Int, spark: SparkSession): Map[String, Any] = {
    val qids = samples.map(_.qid).toSet
    val jobs = r.jobs.values.asScala.filter(j => qids(j.query)).toSeq
    val stagesOf = r.stages.values.asScala.toSeq.groupBy(_.job)
    def stages(js: Seq[r.Job]) = js.flatMap(j => stagesOf.getOrElse(j.id, Nil))
    val buildJobs = jobs.filter(_.phase == "build")
    val execJobs = jobs.filter(_.phase == "execute")
    val execs = r.executions.values.asScala
      .filter(x => qids(x.query) && x.phase == "execute").toSeq

    // spans: plan and execute under each write, jobs under their phase,
    // stages under their job
    val planEnd = execs.groupBy(_.query).map { case (q, xs) =>
      q -> xs.flatMap(_.phases.values.map(_._2)).maxOption }
    for (s <- samples; write <- Option(r.phaseSpans.get((s.qid, "write")))) {
      val writeStart = s.start + s.buildS * 1e3
      val writeEnd = s.start + s.wallS * 1e3
      val split = planEnd.get(s.qid).flatten.map(_.toDouble)
        .getOrElse(writeStart).max(writeStart).min(writeEnd)
      r.spans.add(Span(r.spanId(), write, s.qid, "plan", writeStart, split))
      r.spans.add(Span(r.spanId(), write, s.qid, "execute", split, writeEnd))
    }
    for (j <- jobs) {
      val parent = Option(r.phaseSpans.get((j.query,
        if (j.phase == "build") "build" else "write"))).getOrElse(0L)
      val id = r.spanId()
      r.spans.add(Span(id, parent, j.query, "job", j.start.toDouble,
        j.end.toDouble, Map("job" -> j.id, "site" -> j.site)))
      for (st <- stagesOf.getOrElse(j.id, Nil) if st.tasks > 0)
        r.spans.add(Span(r.spanId(), id, j.query, "stage",
          st.submitted.toDouble, st.completed.toDouble,
          Map("stage" -> st.id, "tasks" -> st.tasks, "stage_name" -> st.name)))
    }

    val ms = 1e-3
    val mb = 1.0 / 1048576
    def phaseS(name: String) = execs.flatMap(_.phases.get(name))
      .map { case (a, b) => (b - a) * ms }.sum
    val planS = Seq("analysis", "optimization", "planning").map(phaseS).sum
    // execution time net of the planning that happened inside the execution
    def executeS(x: r.Execution): Double = {
      val (a, b) = (x.end - x.durationNs / 1e6, x.end.toDouble)
      (x.durationNs / 1e6 - x.phases.values.map { case (p, q) =>
        (math.min(b, q.toDouble) - math.max(a, p.toDouble)).max(0.0) }.sum) * ms
    }
    // build + plan + execute against each query's wall time
    val byQuery = execs.groupBy(_.query)
    val coverage = samples.filter(_.error.isEmpty).map { s =>
      val xs = byQuery.getOrElse(s.qid, Nil)
      (s.buildS + xs.flatMap(_.phases.values).map { case (a, b) => (b - a) * ms }.sum +
        xs.map(executeS).sum) / s.wallS
    }
    val buildStages = stages(buildJobs).filter(_.tasks > 0)
    val execStages = stages(execJobs).filter(_.tasks > 0)
    val allStages = stages(jobs).filter(_.tasks > 0)
    val execTasks = execStages.map(_.tasks).sum
    val tableJobs = jobs.filter(_.site == "Tables")
    val families = buildJobs.filterNot(_.site == "Tables").groupBy { j =>
      if (Recorder.Families.contains(j.site)) j.site else "other" }
    val shape = execs.flatMap(_.shape).groupMapReduce(_._1)(_._2)(_ + _)
    val liveMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum * mb

    Map(
      "build_s" -> samples.map(_.buildS).sum,
      "build.jobs" -> buildJobs.size,
      "build.tasks" -> buildStages.map(_.tasks).sum,
      "build.task_cpu_s" -> buildStages.map(_.cpuNs).sum / 1e9,
      "tables.jobs" -> tableJobs.size,
      "tables.s" -> tableJobs.map(j => (j.end - j.start) * ms).sum,
      "plan_s" -> planS,
      "plan.analysis_s" -> phaseS("analysis"),
      "plan.optimization_s" -> phaseS("optimization"),
      "plan.planning_s" -> phaseS("planning"),
      "plan.graft_rules_s" -> execs.map(_.graftRulesNs).sum / 1e9,
      "execute_s" -> execs.map(executeS).sum,
      "trace.coverage_min" -> coverage.minOption.getOrElse(0.0),
      "trace.coverage_max" -> coverage.maxOption.getOrElse(0.0),
      "exec.jobs" -> execJobs.size,
      "exec.stages" -> execStages.size,
      "exec.tasks" -> execTasks,
      "exec.task_run_s" -> execStages.map(_.runMs).sum * ms,
      "exec.task_cpu_s" -> execStages.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> execStages.map(_.gcMs).sum * ms,
      "exec.task_overhead_s" ->
        execStages.map(s => s.durationMs - s.runMs).sum * ms,
      "exec.stage_wait_s" -> execStages.filter(s => s.submitted > 0)
        .map(s => (s.firstLaunch - s.submitted).max(0L)).sum * ms,
      "exec.core_util" -> allStages.map(_.durationMs).sum * ms /
        (cores * (end - start) * ms),
      "exec.empty_task_ratio" ->
        (if (execTasks == 0) 0.0 else execStages.map(_.emptyTasks).sum.toDouble / execTasks),
      "exec.input_mb" -> execStages.map(_.inputB).sum * mb,
      "exec.shuffle_read_mb" -> execStages.map(_.shuffleReadB).sum * mb,
      "exec.shuffle_write_mb" -> execStages.map(_.shuffleWriteB).sum * mb,
      "exec.spill_mb" -> allStages.map(_.spillB).sum * mb,
      "cache.rdds" -> r.cachedRdds.size,
      "cache.stored_mb" -> r.cachedRdds.values.asScala.map(_.longValue).sum * mb,
      "cache.live_after_mb" -> liveMb) ++
      Seq("exchanges", "smj", "bhj", "bnlj", "grouped_topk", "cached_scans")
        .map(k => s"plan.$k" -> shape.getOrElse(k, 0)) ++
      (Recorder.Families :+ "other")
        .map(f => s"build.jobs.$f" -> families.get(f).map(_.size).getOrElse(0))
  }
}
