package perfbench

/** Runs a workload end to end (warm-up, timed region, checks) and turns
  * its ops and the probe's counters into the record's metrics. */
object Workloads {

  /** Readings taken around the timed region. */
  final case class Timed(wallS: Double, cpuNs: Long, gcS: Double, rssMb: Double,
      heapPeakMb: Double, stealS: Double)

  def timed[T](ctx: Ctx)(body: => T): (T, Timed) = {
    ctx.probe.foreach(_.start())
    Env.resetHeapPeak()
    val steal0 = Env.stealSeconds()
    val gc0 = Env.gcSeconds(); val c0 = Env.processCpuNs(); val t0 = Util.now()
    val out = body
    val t = Timed(Util.secs(t0), Env.processCpuNs() - c0, Env.gcSeconds() - gc0,
      Env.peakRssMb(), Env.heapPeakMb(), Env.stealSeconds() - steal0)
    ctx.probe.foreach(_.stop())
    (out, t)
  }

  def setupSeconds(): Double = (System.currentTimeMillis() - Env.jvmStartMs()) / 1000.0

  def queries(ctx: Ctx, spec: QueryLoad.Spec, expected: Expected): Result = {
    val ops = QueryLoad.sample(spec, expected, ctx.seconds)
    val repeatable = ops == QueryLoad.sample(spec, expected, ctx.seconds)
    // warm-up: one untimed execution of the sample (JIT, codegen, file
    // listings, caches)
    QueryLoad.run(ctx, spec, ops, warm = true)
    ctx.mark("warmup")
    val setupS = setupSeconds()
    val (done, t) = timed(ctx)(QueryLoad.run(ctx, spec, ops))
    val mismatches = QueryLoad.check(ctx, spec, done, expected)
    val results = done.map(_.op)
    assemble(ctx, spec.clients, results, Nil, t, setupS, mismatches,
      Map("stream_repeatable" -> repeatable, "sample" -> ops), Map.empty)
  }

  def lakehouse(ctx: Ctx): Result = Lakehouse.run(ctx)

  /** Builds the record. `writeSamples` are extra write latencies that are
    * not whole ops (pipeline model builds); `layerExtra` carries the
    * workload's own per-layer metrics. */
  def assemble(ctx: Ctx, clients: Int, ops: Seq[OpResult], writeSamples: Seq[Double],
      t: Timed, setupS: Double, mismatches: Seq[Mismatch], extra: Map[String, Any],
      layerExtra: Map[String, Double]): Result = {
    val ok = ops.filter(_.error.isEmpty)
    val n = math.max(1, ok.size)
    val wall = if (clients == 1) ops.map(_.seconds).sum else t.wallS
    val cpuS = (if (clients == 1) ops.map(_.cpuNs).sum else t.cpuNs) / 1e9
    val reads = ok.filter(_.kind == "read").map(_.seconds)
    val writes = ok.filter(_.kind == "write").map(_.seconds) ++ writeSamples
    val failedOps = mismatches.map(_.op).distinct.size
    val failed = math.min(ops.size, mismatches.size)
    val e2e = Map(
      "setup_s" -> setupS,
      "read_s_p50" -> Util.quantile(reads, 0.5),
      "read_s_p90" -> Util.quantile(reads, 0.9),
      "ops_per_s" -> ok.size / wall,
      "cpu_s_per_op" -> cpuS / n,
      "peak_rss_mb" -> t.rssMb,
      "failed_ratio" -> failed.toDouble / math.max(1, ops.size)) ++
      (if (writes.nonEmpty) Map(
        "write_s_p50" -> Util.quantile(writes, 0.5),
        "write_s_p90" -> Util.quantile(writes, 0.9)) else Map.empty)
    val spans = ctx.probe.map(_.allSpans()).getOrElse(Nil)
    val layers: Map[String, Double] = ctx.probe.map { p =>
      val c = p.totalCounters
      val self = Probe.selfSeconds(spans)
      val runs = p.graftRuleRuns
      Map(
        "plans.analysis_s" -> p.planSeconds("analysis") / n,
        "plans.optimizer_s" -> p.planSeconds("optimization") / n,
        "plans.physical_s" -> p.planSeconds("planning") / n,
        "plans.graft_rule_s" -> p.graftRuleSeconds / n,
        "plans.graft_rule_runs" -> runs.toDouble / n,
        "plans.graft_rule_hit_ratio" -> (if (runs == 0) 0.0 else p.graftRuleHits.toDouble / runs),
        "queries.lifecycle_s" -> ok.map(_.lifecycleNs).sum / 1e9 / n,
        "exec.jobs" -> c.jobs.get.toDouble / n,
        "exec.stages" -> c.stages.get.toDouble / n,
        "exec.tasks" -> c.tasks.get.toDouble / n,
        "exec.task_cpu_s" -> c.taskCpuNs.get / 1e9 / n,
        "exec.task_run_s" -> c.taskRunMs.get / 1e3 / n,
        "exec.task_gc_s" -> c.taskGcMs.get / 1e3 / n,
        "exec.shuffle_write_bytes" -> c.shuffleWrite.get.toDouble / n,
        "exec.shuffle_read_bytes" -> c.shuffleRead.get.toDouble / n,
        "exec.spill_bytes" -> c.spill.get.toDouble / n,
        "exec.input_bytes" -> c.input.get.toDouble / n,
        "exec.driver_gap_s" -> ok.map(o => p.driverGapNs(o.id, o.start, o.end)).sum / 1e9 / n,
        "spark_sched.queue_s" -> ok.map(o => p.queueNs(o.id)).sum / 1e9 / n,
        "spark_sched.slot_busy_ratio" -> c.taskRunMs.get / 1e3 / (ctx.cores * wall),
        "frames.blocks" -> p.rddBlocks.toDouble / n,
        "frames.stored_bytes_peak" -> p.rddStoredPeak.toDouble,
        "jvm.gc_s" -> t.gcS / n,
        "jvm.heap_peak_mb" -> t.heapPeakMb,
        "trace.callback_s" -> p.callbackSeconds / n) ++
        Seq("op", "queries", "action", "exec", "plans", "sources", "pipeline")
          .map(l => s"$l.self_s" -> self.getOrElse(l, 0.0) / n).toMap ++
        Sources.zero ++ Map("pipeline.model_s" -> 0.0, "pipeline.reused_ratio" -> 0.0) ++
        Map("write_s_p50" -> 0.0, "write_s_p90" -> 0.0, "stored_bytes_per_user_byte" -> 0.0) ++
        e2e.filter(_._1.startsWith("write_s")) ++ layerExtra ++
        Map("failed_ratio" -> e2e("failed_ratio"))
    }.getOrElse(Map.empty)
    val perOp = ops.map { o =>
      val counts = ctx.probe.map { p =>
        val c = p.opCounts(o.id)
        Map("jobs" -> c.jobs.get, "stages" -> c.stages.get, "tasks" -> c.tasks.get)
      }.getOrElse(Map.empty)
      Map("id" -> o.id, "name" -> o.name, "kind" -> o.kind, "s" -> o.seconds,
        "lifecycle_s" -> o.lifecycleNs / 1e9, "error" -> o.error) ++ counts
    }
    Result(Map(
      "correct" -> mismatches.isEmpty,
      "attempted" -> ops.size,
      "failed" -> failed,
      "failed_ops" -> failedOps,
      "mismatches" -> mismatches.map(m => Map("op" -> m.op, "reason" -> m.reason)),
      "timed_wall_s" -> wall,
      "host_steal_s" -> t.stealS,
      "samples" -> Map("read" -> reads.size, "write" -> writes.size),
      "e2e" -> e2e,
      "layers" -> layers,
      "ops" -> perOp) ++ extra, spans)
  }
}
