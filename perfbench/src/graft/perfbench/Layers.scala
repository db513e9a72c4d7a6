package graft.perfbench

import graft.perfbench.Main.OpRun

/** Per-layer figures of one traced pass, from the main thread's step timings and
  * the listener's jobs, stages and tasks. */
object Layers {
  private val MB = 1024.0 * 1024.0

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def apply(runs: Seq[OpRun], jobs: Seq[JobRec], stages: Seq[StageRec], tasks: Seq[TaskRec],
      steps: Seq[Recorder.Step], wallS: Double, cores: Int): Map[String, Double] = {
    val jobStep = jobs.map(j => j.id -> Recorder.stepOf(j, steps)).toMap
    def jobsIn(kind: String) = jobs.count(j => jobStep(j.id)._1 == kind)
    val jobsPerOp = runs.map(r => jobs.count(j => jobStep(j.id)._2 == r.op).toDouble)
    val taskS = tasks.map(_.durMs).sum / 1e3
    val inMB = tasks.map(_.input).sum / MB
    val outMB = tasks.map(_.output).sum / MB
    val moduleS = Main.modules.map { case (m, _) =>
      s"ops.$m.s" -> runs.filter(r => Main.moduleOf(r.op) == m).map(_.wallMs).sum / 1e3
    }
    Map(
      "ops.build_s" -> runs.map(_.buildMs).sum / 1e3,
      "ops.build_jobs" -> jobsIn("build").toDouble,
      "ops.jobs_per_op_p50" -> median(jobsPerOp),
      "plan.plan_s" -> runs.map(_.planMs).sum / 1e3,
      "plans.graft_nodes" -> runs.map(_.graftNodes).sum.toDouble,
      "exec.exec_s" -> runs.map(_.execMs).sum / 1e3,
      "exec.exec_jobs" -> jobsIn("exec").toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_s" -> taskS,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.core_util" -> taskS / (wallS * cores),
      "exec.single_task_stage_s" ->
        stages.filter(_.numTasks == 1).map(s => s.endMs - s.submitMs).sum / 1e3,
      "exec.driver_gap_s" -> math.max(0.0, wallS - Recorder.busyMs(tasks) / 1e3),
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / MB,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / MB,
      "exec.spill_mb" -> tasks.map(_.spill).sum / MB,
      "exec.input_mb" -> inMB,
      "exec.output_mb" -> outMB,
      "exec.output_per_input" -> (if (inMB > 0) outMB / inMB else 0.0)
    ) ++ moduleS
  }
}
