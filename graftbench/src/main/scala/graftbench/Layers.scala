package graftbench

/** Derives the traced run's span tree and per-layer metrics from the
  * traced passes and the [[Tracer]]'s records.
  *
  * Jobs belong to the phase (build, plan or action) whose wall-clock
  * window holds their start time; a stage belongs to the first such job
  * that lists it; SQL executions (and their AQE re-plans and graft_cap
  * counters) belong to the phase in which they started. Per-pass metrics
  * are reported per round (sums over a round's traced passes, averaged
  * over rounds) as `<name>.cold` / `<name>.warm`.
  */
final class Layers(passes: Seq[Pass], tracer: Tracer, cores: Int,
                   mediaQuery: String => Boolean) {

  private val traced = passes.filter(_.traced)
  private val phases: Seq[(Pass, Phase)] =
    traced.flatMap(p => p.phases.map(p -> _)).sortBy(_._2.startMs)

  private def phaseAt(ms: Long): Option[(Pass, Phase)] =
    phases.filter { case (_, ph) => ph.startMs <= ms && ms <= ph.endMs }
      .lastOption

  /** job id -> (pass, phase) */
  val jobPhase: Map[Int, (Pass, Phase)] = tracer.synchronized {
    tracer.jobs.values.flatMap(j => phaseAt(j.startMs).map(j.jobId -> _)).toMap
  }

  /** stage -> job id, for stages that ran inside a traced phase */
  val stageJob: Map[(Int, Int), Int] = tracer.synchronized {
    tracer.stages.keys.flatMap { key =>
      tracer.jobs.values.filter(j => jobPhase.contains(j.jobId) && j.stageIds.contains(key._1))
        .map(_.jobId).minOption.map(key -> _)
    }.toMap
  }

  private def stagesOf(pred: (Pass, Phase) => Boolean): Seq[StageRec] =
    stageJob.collect { case (k, j) if pred.tupled(jobPhase(j)) => tracer.stages(k) }.toSeq

  private def executionsOf(pred: (Pass, Phase) => Boolean): Seq[Long] =
    tracer.executionStartMs.collect {
      case (id, ms) if phaseAt(ms).exists(pred.tupled) => id
    }.toSeq

  private def skew(stages: Seq[StageRec]): Double = Stats.median(stages.flatMap { s =>
    val med = Stats.median(s.taskRunMs.map(_.toDouble).toSeq)
    if (s.taskRunMs.size >= 2 && med > 0) Some(s.taskRunMs.max / med) else None
  })

  def metrics(setupMedians: Map[String, Double], untracedColdS: Double,
              tracedColdS: Double): Map[String, Double] = {
    val perPass = Seq("cold", "warm").flatMap { label =>
      val ps = traced.filter(_.label == label)
      val rounds = math.max(1, ps.map(_.round).distinct.size).toDouble
      val in: (Pass, Phase) => Boolean = (p, _) => p.label == label
      val stages = stagesOf(in)
      val actionStages = stagesOf((p, ph) => p.label == label && ph.kind == "action")
      val mediaStages = stagesOf((p, _) => p.label == label && mediaQuery(p.query))
      val jobs = jobPhase.values.count(in.tupled)
      val buildJobs = jobPhase.values.count { case (p, ph) => p.label == label && ph.kind == "build" }
      val execs = executionsOf(in)
      def sumS(f: StageRec => Long, scale: Double) = stages.map(f).sum / scale / rounds
      val taskS = sumS(_.runMs, 1e3)
      val cpuS = sumS(_.cpuNs, 1e9)
      val actionS = ps.map(_.actionS).sum / rounds
      val mediaTaskS = mediaStages.map(_.runMs).sum / 1e3 / rounds
      val mediaCpuS = mediaStages.map(_.cpuNs).sum / 1e9 / rounds
      Seq(
        "Tables.input_mb" -> sumS(_.inputB, 1e6),
        "ops.build_s" -> ps.map(_.buildS).sum / rounds,
        "ops.build_jobs" -> buildJobs / rounds,
        "plans.plan_s" -> ps.map(_.planS).sum / rounds,
        "plans.plan_nodes" -> ps.map(_.planNodes).sum / rounds,
        "plans.aqe_replans" -> execs.map(tracer.replans).sum / rounds,
        "exec.action_s" -> actionS,
        "scheduler.jobs" -> jobs / rounds,
        "scheduler.stages" -> stages.size / rounds,
        "scheduler.tasks" -> stages.map(_.tasks).sum / rounds,
        "scheduler.core_busy_frac" -> (if (actionS > 0)
          actionStages.map(_.runMs).sum / 1e3 / rounds / (actionS * cores) else 0.0),
        "executor.task_s" -> taskS,
        "executor.cpu_s" -> cpuS,
        "executor.gc_s" -> sumS(_.gcMs, 1e3),
        "executor.cpu_frac" -> (if (taskS > 0) cpuS / taskS else 0.0),
        "shuffle.write_mb" -> sumS(_.shuffleWriteB, 1e6),
        "shuffle.read_mb" -> sumS(_.shuffleReadB, 1e6),
        "shuffle.spill_mb" -> sumS(_.spillB, 1e6),
        "shuffle.task_skew" -> skew(stages),
        "cache.peak_mb" -> ps.map(_.cacheMb).maxOption.getOrElse(0.0),
        "cache.disk_mb" -> ps.map(_.cacheDiskMb).maxOption.getOrElse(0.0),
        "cache.entries" -> ps.map(_.cacheEntries.toDouble).maxOption.getOrElse(0.0),
        "io.output_mb" -> sumS(_.outputB, 1e6),
        "io.output_rows" -> stages.map(_.outputRows).sum / rounds,
        "MultimodalDecode.task_s" -> mediaTaskS,
        "MultimodalDecode.cpu_frac" -> (if (mediaTaskS > 0) mediaCpuS / mediaTaskS else 0.0)
      ).map { case (k, v) => s"$k.$label" -> v }
    }
    val caps = executionsOf((_, _) => true).flatMap(tracer.caps.get)
    val capTotal = caps.map(_._1).sum
    perPass.toMap ++ Map(
      "Sessions.build_s" -> setupMedians("build_s"),
      "Sessions.warmup_s" -> setupMedians("warmup_s"),
      "Tables.resolve_s" -> setupMedians("resolve_s"),
      "GraftOps.capped_frac" -> (if (capTotal > 0) caps.map(_._2).sum.toDouble / capTotal else 0.0),
      "trace.overhead_frac" -> (if (untracedColdS > 0) tracedColdS / untracedColdS - 1 else 0.0))
  }

  /** run -> query -> pass -> {build, plan, action} -> job -> stage */
  def spans(run: Map[String, Any]): Seq[Map[String, Any]] = {
    val out = scala.collection.mutable.ArrayBuffer[Map[String, Any]](run ++ Map("id" -> "run", "kind" -> "run"))
    traced.groupBy(p => (p.round, p.query)).toSeq.sortBy(_._2.head.startMs).foreach {
      case ((round, query), ps) =>
        val qid = s"r$round/$query"
        out += Map("id" -> qid, "parent" -> "run", "kind" -> "query", "name" -> query,
          "start_ms" -> ps.map(_.startMs).min, "end_ms" -> ps.map(_.endMs).max)
        ps.foreach { p =>
          val pid = s"$qid/${p.label}"
          out += Map("id" -> pid, "parent" -> qid, "kind" -> "pass", "name" -> p.label,
            "start_ms" -> p.startMs, "end_ms" -> p.endMs, "fingerprint" -> p.fingerprint,
            "error" -> p.error.getOrElse(""), "plan_nodes" -> p.planNodes,
            "cache_mb" -> p.cacheMb)
          p.phases.foreach { ph =>
            out += Map("id" -> s"$pid/${ph.kind}", "parent" -> pid, "kind" -> ph.kind,
              "start_ms" -> ph.startMs, "end_ms" -> ph.endMs)
          }
        }
    }
    jobPhase.toSeq.sortBy(_._1).foreach { case (jobId, (p, ph)) =>
      val j = tracer.jobs(jobId)
      out += Map("id" -> s"job/$jobId", "parent" -> s"r${p.round}/${p.query}/${p.label}/${ph.kind}",
        "kind" -> "job", "start_ms" -> j.startMs, "end_ms" -> j.endMs)
    }
    stageJob.toSeq.sortBy(_._1).foreach { case ((sid, att), jobId) =>
      val s = tracer.stages((sid, att))
      out += Map("id" -> s"stage/$sid.$att", "parent" -> s"job/$jobId", "kind" -> "stage",
        "name" -> s.name, "start_ms" -> s.submitMs, "end_ms" -> s.completeMs,
        "tasks" -> s.tasks, "task_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1000000,
        "gc_ms" -> s.gcMs, "shuffle_write_b" -> s.shuffleWriteB,
        "shuffle_read_b" -> s.shuffleReadB, "spill_b" -> s.spillB,
        "input_b" -> s.inputB, "output_b" -> s.outputB, "output_rows" -> s.outputRows)
    }
    out.toSeq
  }
}
