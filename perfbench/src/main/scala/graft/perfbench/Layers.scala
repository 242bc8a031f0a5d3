package graft.perfbench

import Main.{Exec, Pass}

/** Per-layer metrics of a traced run, averaged over its recorded passes:
  * what each Spark layer did inside the measured entry executions.
  */
final class Layers(execs: Seq[Exec], passes: Seq[Pass],
    measuredBatches: Seq[Recorder.BatchRec]) {
  private val recorded = passes.filter(_.full).map(_.n).toSet
  private val n = math.max(1, recorded.size).toDouble
  private val ex = execs.filter(e => recorded(e.pass))
  private val ids = ex.map(_.id).toSet
  private def inExec(t: Long) = ex.exists(e => t >= e.start && t <= e.end)

  private val (jobs, stages, tasks, plans) = Recorder.synchronized {
    val js = Recorder.jobs.filter(j => ids(j.exec)).toSeq
    val stageIds = js.flatMap(_.stages).toSet
    (js,
      // stages a job lists but skips (their output is reused) never run
      Recorder.stages.values.filter(s => stageIds(s.id) && s.submit >= 0).toSeq,
      Recorder.tasks.filter(t => stageIds(t.stage)).toSeq,
      Recorder.plans.filter(p => inExec(p.end)).toSeq)
  }
  private val batches = measuredBatches.filter(b => inExec(b.start))

  private def perPass(xs: Iterable[Long]): Double = xs.sum / n
  private def perBatch(f: Recorder.BatchRec => Long): Double =
    if (batches.isEmpty) 0.0 else batches.map(f).sum.toDouble / batches.size

  def metrics: Map[String, Double] = Map(
    "scan.bytes" -> perPass(tasks.map(_.inBytes)),
    "scan.rows" -> perPass(tasks.map(_.inRows)),
    "entry.build_s" -> perPass(ex.map(e => e.built - e.start)) / 1e3,
    "entry.write_s" -> perPass(ex.map(e => e.end - e.built)) / 1e3,
    "driver.self_ms" -> perPass(ex.map { e =>
      Stats.selfTime(e.start, e.end,
        jobs.filter(_.exec == e.id).map(j => (j.submit, math.max(j.submit, j.end))))
    }),
    "catalyst.analysis_ms" -> perPass(plans.map(_.analysisMs)),
    "catalyst.optimization_ms" -> perPass(plans.map(_.optimizationMs)),
    "catalyst.planning_ms" -> perPass(plans.map(_.planningMs)),
    "catalyst.exchanges" -> perPass(plans.map(_.exchanges.toLong)),
    "scheduler.jobs" -> jobs.size / n,
    "scheduler.stages" -> stages.size / n,
    "scheduler.tasks" -> tasks.size / n,
    "scheduler.task_wait_ms" -> perPass(tasks.map(_.waitMs)),
    "scheduler.failed_tasks" -> tasks.count(_.failed) / n,
    "executor.run_ms" -> perPass(tasks.map(_.runMs)),
    "executor.cpu_ms" -> perPass(tasks.map(_.cpuNs)) / 1e6,
    "executor.gc_ms" -> perPass(tasks.map(_.gcMs)),
    "shuffle.write_bytes" -> perPass(tasks.map(_.shWrite)),
    "shuffle.read_bytes" -> perPass(tasks.map(_.shRead)),
    "shuffle.fetch_wait_ms" -> perPass(tasks.map(_.fetchWaitMs)),
    "spill.disk_bytes" -> perPass(tasks.map(_.spillDisk)),
    "output.bytes" -> perPass(tasks.map(_.outBytes)),
    "output.records" -> perPass(tasks.map(_.outRows)),
    "microbatch.count" -> batches.size / n,
    "microbatch.empty_frac" -> perBatch(b => if (b.inputRows == 0) 1L else 0L),
    "microbatch.jobs_per_batch" ->
      (if (batches.isEmpty) 0.0
       else jobs.count(_.batch.nonEmpty).toDouble / batches.size),
    "microbatch.add_batch_ms" -> perBatch(_.durations.getOrElse("addBatch", 0L)),
    "microbatch.planning_ms" -> perBatch(_.durations.getOrElse("queryPlanning", 0L)),
    "microbatch.wal_commit_ms" -> perBatch(_.durations.getOrElse("walCommit", 0L)),
    "microbatch.commit_offsets_ms" ->
      perBatch(_.durations.getOrElse("commitOffsets", 0L)),
    "statestore.commit_ms" -> perBatch(_.stateCommitMs),
    "statestore.update_ms" -> perBatch(_.stateUpdateMs),
    "statestore.rows" -> perPass(batches.map(_.stateRows)),
    "statestore.mem_bytes" ->
      (if (batches.isEmpty) 0.0 else batches.map(_.stateMem).max.toDouble)) ++
    Workloads.modules.map { m =>
      s"module.${m}_s" ->
        ex.filter(e => Workloads.module(e.name) == m).map(_.ns).sum / 1e9 / n
    }
}
