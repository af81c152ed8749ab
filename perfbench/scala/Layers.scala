package perfbench

import org.apache.spark.sql.SparkSession

/** One traced operation and its disjoint layer parts, in ms. */
private final case class Traced(s: Sample, t: OpTrace) {
  val wall = s.wallS * 1000
  val build = s.buildS * 1000
  val b = t.batches.toSeq
  val stream = b.nonEmpty
  val trigger = b.map(_.triggerMs).sum.toDouble
  val addBatch = b.map(_.addBatchMs).sum.toDouble
  val queryPlanning = b.map(_.queryPlanningMs).sum.toDouble
  val buildOther = build - t.frameParsingMs - t.frameAnalysisMs
  val actionCatalyst = t.actionAnalysisMs + t.actionOptimizationMs + t.actionPlanningMs
  val exec = math.max(0.0, s.actionS * 1000 - actionCatalyst)
  val catalyst = t.frameParsingMs + t.frameAnalysisMs + actionCatalyst + queryPlanning
  val lastPerRun = b.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
  def fields: Seq[(String, Double)] = Seq(
    "wall_ms" -> wall, "build.ms" -> build, "build.other_ms" -> buildOther,
    "catalyst.parsing_ms" -> t.frameParsingMs, "catalyst.analysis_ms" -> (t.frameAnalysisMs + t.actionAnalysisMs),
    "catalyst.optimization_ms" -> t.actionOptimizationMs, "catalyst.planning_ms" -> t.actionPlanningMs,
    "exec.ms" -> exec, "exec.jobs" -> t.jobs.toDouble, "exec.stages" -> t.stages.toDouble,
    "exec.tasks" -> t.tasks.toDouble, "exec.cpu_ms" -> t.cpuNs / 1e6, "exec.run_ms" -> t.runMs.toDouble,
    "exec.gc_ms" -> t.gcMs.toDouble, "exec.shuffle_read_bytes" -> t.shuffleReadBytes.toDouble,
    "exec.shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble, "exec.spill_bytes" -> t.spillBytes.toDouble,
    "stream.outside_trigger_ms" -> (if (stream) wall - trigger else 0.0), "stream.batches" -> b.size.toDouble,
    "stream.trigger_ms" -> trigger, "stream.add_batch_ms" -> addBatch, "stream.query_planning_ms" -> queryPlanning,
    "stream.wal_commit_ms" -> b.map(_.walCommitMs).sum.toDouble,
    "stream.commit_offsets_ms" -> b.map(_.commitOffsetsMs).sum.toDouble,
    "stream.latest_offset_ms" -> b.map(_.latestOffsetMs).sum.toDouble,
    "state.commit_ms" -> b.map(_.stateCommitMs).sum.toDouble,
    "state.rows_total" -> lastPerRun.map(_.stateRows).sum.toDouble,
    "state.memory_bytes" -> lastPerRun.map(_.stateMemoryBytes).sum.toDouble)
}

/** Per-layer metrics of a traced run: one JSON line per traced operation
  * and per micro-batch, a summary line, and the per-layer metric set.
  *
  * A traced operation's wall splits into disjoint parts:
  *  - catalyst: parsing and analysis of the frame `run` returned, analysis,
  *    optimization and planning of the noop write, and the query planning
  *    of every micro-batch;
  *  - execution: the rest of the write, plus every micro-batch's addBatch;
  *  - micro-batch: the rest of each trigger (WAL, offsets, state commit);
  *  - catalog (batch operations): the rest of building the frame, i.e.
  *    fixture loads, view registration and the dialect rewrite;
  *  - lifecycle (streaming operations): the rest of building the frame,
  *    i.e. time outside any trigger (staging, start, stop, checkpoints).
  * `share.unattributed` is what is left of the traced passes' wall. */
final class Layers(wl: Workload, o: Opts, samples: Seq[Sample], passWall: Seq[(Boolean, Double)],
                   tracer: Tracer, spark: SparkSession, failedShare: Double) {
  import Main.{median, percentile}

  def metrics(): Seq[(String, Double, String)] = {
    val registerMs = catalogProbe()
    val rows = samples.filter(s => s.traced && s.ok).flatMap(s => tracer.op(s.seq).map(Traced(s, _)))
    val n = math.max(rows.size, 1).toDouble
    val perOp = if (rows.isEmpty) Map.empty[String, Double]
      else rows.map(_.fields.toMap).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) }).map { case (k, v) => k -> v / n }
    val streamRows = rows.filter(_.stream)
    val batches = rows.flatMap(_.b)
    val tracedWall = passWall.collect { case (true, w) => w }
    val untracedWall = passWall.collect { case (false, w) => w }
    val wallMs = tracedWall.sum * 1000
    def share(f: Traced => Double) = if (wallMs > 0) rows.map(f).sum / wallMs else 0.0
    val shares = Seq(
      "share.catalog" -> share(r => if (r.stream) 0.0 else r.buildOther),
      "share.catalyst" -> share(_.catalyst),
      "share.execution" -> share(r => r.exec + r.addBatch),
      "share.microbatch" -> share(r => r.trigger - r.addBatch - r.queryPlanning),
      "share.lifecycle" -> share(r => if (r.stream) r.buildOther - r.trigger else 0.0))
    val overheadMs = (mean0(tracedWall) - mean0(untracedWall)) * 1000
    val cpuMs = rows.map(_.t.cpuNs / 1e6).sum
    val tasks = rows.map(_.t.tasks).sum

    def ms(k: String) = (k, perOp.getOrElse(k, 0.0), "ms")
    def count(k: String) = (k, perOp.getOrElse(k, 0.0), "count")
    def bytes(k: String) = (k, perOp.getOrElse(k, 0.0), "bytes")
    val out = Seq(
      ("catalog.register_ms", registerMs, "ms"), ms("build.ms"), ms("build.other_ms"),
      ms("catalyst.parsing_ms"), ms("catalyst.analysis_ms"), ms("catalyst.optimization_ms"), ms("catalyst.planning_ms"),
      ms("exec.ms"), count("exec.jobs"), count("exec.stages"), count("exec.tasks"),
      ("exec.task_wait_ms", if (tasks > 0) rows.map(_.t.waitMs).sum.toDouble / tasks else 0.0, "ms"),
      ms("exec.cpu_ms"), ms("exec.run_ms"), ms("exec.gc_ms"),
      ("exec.cpu_util", if (rows.nonEmpty) cpuMs / (rows.map(_.wall).sum * o.cores) else 0.0, "ratio"),
      bytes("exec.shuffle_read_bytes"), bytes("exec.shuffle_write_bytes"), bytes("exec.spill_bytes"),
      ("exec.peak_mem_bytes", rows.map(_.t.peakMemBytes.toDouble).maxOption.getOrElse(0.0), "bytes"),
      ms("stream.outside_trigger_ms"), count("stream.batches"), ms("stream.trigger_ms"), ms("stream.add_batch_ms"),
      ms("stream.query_planning_ms"), ms("stream.wal_commit_ms"), ms("stream.commit_offsets_ms"),
      ms("stream.latest_offset_ms"), ms("state.commit_ms"),
      ("state.rows_total", if (streamRows.isEmpty) 0.0 else streamRows.map(_.fields.toMap.apply("state.rows_total")).sum / streamRows.size, "count"),
      ("state.memory_bytes", if (streamRows.isEmpty) 0.0 else streamRows.map(_.fields.toMap.apply("state.memory_bytes")).sum / streamRows.size, "bytes"),
      ("batch_p50_ms", percentile(batches.map(_.triggerMs.toDouble), 0.5), "ms"),
      ("batch_p90_ms", percentile(batches.map(_.triggerMs.toDouble), 0.9), "ms"),
      ("rows_per_s", if (batches.nonEmpty) batches.map(_.inputRows).sum / (batches.map(_.triggerMs).sum / 1000.0) else 0.0, "1/s"),
      ("failed_share", failedShare, "ratio")) ++
      shares.map { case (k, v) => (k, v, "ratio") } ++ Seq(
      ("share.unattributed", 1.0 - shares.map(_._2).sum, "ratio"),
      ("unattributed.ms", wallMs - rows.map(_.wall).sum - samples.filter(s => s.traced && !s.ok).map(_.wallS * 1000).sum, "ms"),
      ("unattributed.jobs", tracer.unattributedJobs.get.toDouble, "count"),
      ("unattributed.task_ms", tracer.unattributedTaskMs.get.toDouble, "ms"),
      ("unattributed.batches", tracer.unattributedBatches.get.toDouble, "count"),
      ("unattributed.actions", rows.count(!_.t.actionSeen).toDouble, "count"),
      ("trace.overhead_ms", overheadMs, "ms"),
      ("trace.overhead_share", if (untracedWall.nonEmpty) overheadMs / (mean0(untracedWall) * 1000) else 0.0, "ratio"))
    writeTrace(rows, out)
    out
  }

  private def mean0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Side probe of the catalog layer: median of three timed calls of
    * `Tables.registerAll` plus `TpcdsVerbatimQueries.register`. */
  private def catalogProbe(): Double = median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    graft.Tables.registerAll(spark, o.data)
    graft.coverage.TpcdsVerbatimQueries.register(spark, o.data)
    (System.nanoTime() - t0) / 1e6
  })

  private def writeTrace(rows: Seq[Traced], summary: Seq[(String, Double, String)]): Unit = if (o.traceOut.nonEmpty) {
    val head = Seq("kind" -> "run", "workload" -> wl.name, "seed" -> o.seed, "cores" -> o.cores, "seconds" -> o.seconds)
    val opLines = rows.map(r => Json.obj(Seq("kind" -> "op", "workload" -> wl.name, "op" -> r.s.op,
      "seq" -> r.s.seq, "pass" -> r.s.pass) ++ r.fields))
    val batchLines = rows.flatMap(r => r.b.sortBy(x => (x.runId, x.batchId)).map(x => Json.obj(Seq(
      "kind" -> "batch", "workload" -> wl.name, "op" -> r.s.op, "seq" -> r.s.seq, "run_id" -> x.runId,
      "batch_id" -> x.batchId, "trigger_ms" -> x.triggerMs, "add_batch_ms" -> x.addBatchMs,
      "query_planning_ms" -> x.queryPlanningMs, "wal_commit_ms" -> x.walCommitMs,
      "commit_offsets_ms" -> x.commitOffsetsMs, "latest_offset_ms" -> x.latestOffsetMs,
      "input_rows" -> x.inputRows, "state_commit_ms" -> x.stateCommitMs,
      "state_rows_total" -> x.stateRows, "state_memory_bytes" -> x.stateMemoryBytes))))
    val failedLines = samples.filter(s => s.traced && !s.ok).map(s => Json.obj(Seq(
      "kind" -> "failed", "workload" -> wl.name, "op" -> s.op, "seq" -> s.seq, "error" -> s.error)))
    val sum = Json.obj(Seq("kind" -> "summary", "workload" -> wl.name) ++ summary.map { case (k, v, _) => k -> v })
    Json.writeLines(o.traceOut, Json.obj(head) +: (opLines ++ batchLines ++ failedLines :+ sum))
  }
}
