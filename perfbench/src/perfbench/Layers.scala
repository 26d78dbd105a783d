package perfbench

/** Folds a traced run's spans and counts into the per-layer metrics.
  * Additive metrics are per timed pass; ratios and peaks are over the
  * timed passes as a whole. Every metric is present on every workload,
  * zero where the workload does not touch the layer. */
object Layers {
  def metrics(t: Tracer, passWalls: Seq[Double], cpus: Int,
      blockPuts0: Long): Map[String, Double] = {
    val n = passWalls.size.toDouble
    val ops = t.spans.filter(s => s.kind == "op" && s.pass >= 1).toSeq
    val phases = t.spans.filter(s => s.kind == "phase" && s.pass >= 1).toSeq
    val counts = phases.map(p => p -> t.phaseCounts(p.id)).toMap
    val jobsByOp = t.jobs.groupBy(_.parent.takeWhile(_ != '/'))

    def sumPhases(kinds: Set[String])(f: Counts => Long): Double =
      phases.filter(p => kinds(p.name)).map(p => f(counts(p))).sum.toDouble
    def all(f: Counts => Long): Double = counts.values.map(f).sum.toDouble
    def wall(kinds: Set[String]): Double =
      phases.filter(p => kinds(p.name)).map(_.seconds).sum
    /** op wall with no Spark job running, in seconds */
    def driverOnly(op: Span): Double = {
      val js = jobsByOp.getOrElse(op.id, Nil).map(j => (j.startMs, j.endMs))
      (op.endMs - op.startMs - Tracer.covered(js, op.startMs, op.endMs)) / 1e3
    }
    val plans = ops.flatMap(o => t.planByOp.get(o.id))
    def plan(f: PlanCounts => Long): Double = plans.map(f).sum.toDouble
    val opWall = ops.map(_.seconds).sum
    val runS = all(_.runMs) / 1e3
    val listed = all(_.stagesListed)
    val (puts, peak) = t.blockStats

    val engine = Map(
      "registry.build_s" -> wall(Set("build")) / n,
      "registry.build_jobs" -> sumPhases(Set("build"))(_.jobs) / n,
      "registry.build_job_s" -> sumPhases(Set("build"))(_.jobMs) / 1e3 / n,
      "engine.exec_s" -> wall(Set("exec", "read_exec")) / n,
      "engine.jobs" -> all(_.jobs) / n,
      "engine.stages" -> all(_.stagesRun) / n,
      "engine.tasks" -> all(_.tasks) / n,
      "engine.driver_gap_s" -> ops.map(driverOnly).sum / n,
      "engine.stage_reuse_frac" ->
        (if (listed > 0) 1 - all(_.stagesRun) / listed else 0.0),
      "engine.exchanges" -> plan(_.exchanges) / n,
      "engine.broadcast_bytes" -> plan(_.broadcastBytes) / n,
      "engine.task_run_s" -> runS / n,
      "engine.task_cpu_s" -> all(_.cpuNs) / 1e9 / n,
      "engine.gc_s" -> all(_.gcMs) / 1e3 / n,
      "engine.core_util" -> (if (opWall > 0) runS / (opWall * cpus) else 0.0),
      "shuffle.write_bytes" -> all(_.shuffleWrite) / n,
      "shuffle.read_bytes" -> all(_.shuffleRead) / n,
      "shuffle.fetch_wait_s" -> all(_.fetchWaitMs) / 1e3 / n,
      "shuffle.spill_bytes" -> all(_.spill) / n,
      "pins.blocks" -> (puts - blockPuts0) / n,
      "pins.peak_mb" -> peak / 1048576.0,
      "jvm.heap_after_gc_peak_mb" -> t.heapAfterGcPeak / 1048576.0,
      "cleanup.clear_s" -> wall(Set("clear")) / n,
      "lake.scan_bytes" -> plan(_.scanBytes) / n,
      "lake.scan_rows" -> plan(_.scanRows) / n,
      "lake.snapshot_s" -> wall(Set("snapshot")) / n,
      "lake.read_exec_s" -> wall(Set("read_exec")) / n)

    def verb(o: Span) = o.name.takeWhile(_ != ':')
    val verbOps = ops.groupBy(verb)
    val perVerb = LakeWorkload.Verbs.flatMap { v =>
      // a verb run once after the timed passes is reported per run
      val (vs, per) =
        if (LakeWorkload.RunVerbs(v))
          (t.spans.filter(o => o.kind == "op" && verb(o) == v).toSeq, 1.0)
        else (verbOps.getOrElse(v, Nil), n)
      val jobs = vs.map(o => jobsByOp.getOrElse(o.id, Nil).size).sum
      Seq(s"lake.${v}_s" -> vs.map(_.seconds).sum / per,
        s"lake.${v}_jobs" -> jobs / per,
        s"lake.${v}_driver_s" -> vs.map(driverOnly).sum / per)
    }
    val lakeOps = verbOps.filter { case (v, _) => LakeWorkload.Verbs.contains(v) }
      .values.flatten.map(_.id).toSet
    val written = phases.filter(p => lakeOps(p.parent)).map(p => counts(p).outBytes).sum
    val lakeDefaults = Map(
      "lake.commit_p50_s" -> 0.0, "lake.commit_tail_s" -> 0.0,
      "lake.read_p50_s" -> 0.0, "lake.read_tail_s" -> 0.0,
      "lake.ingest_rows_per_s" -> 0.0, "lake.stored_bytes_per_input_byte" -> 0.0,
      "lake.log_files" -> 0.0, "lake.live_files" -> 0.0)
    engine ++ perVerb ++ lakeDefaults + ("lake.bytes_written" -> written / n)
  }
}
