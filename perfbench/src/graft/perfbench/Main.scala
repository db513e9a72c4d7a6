package graft.perfbench

import graft.SparkEntry
import graft.ops._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import scala.collection.mutable.ArrayBuffer

/** JVM side of the benchmark. `perfbench/run.py` launches it with
  * `key=value` arguments and reads the JSON file named by `out=`.
  *
  * Modes:
  *  - `run`: setup (plus the Shared memos when `memos=1`), one cold pass,
  *    one untimed pass that writes every output as parquet for the content
  *    check, then `warm_passes` warm passes; no pass starts once the warm
  *    phase has run `seconds`. With `trace=1` every other warm pass carries
  *    a listener, and the loader probe runs at the end;
  *  - `inventory`: every op of `SparkEntry.queries` with its module and
  *    its DuckDB oracle SQL;
  *  - `selftest`: listener counts against `statusTracker` on a small query.
  *
  * Every op is called through its public entry point and timed from
  * outside: build = `SparkEntry.queries(k)(spark, sfDir)`, plan =
  * `df.queryExecution.executedPlan`, execute = a `noop` write. */
object Main {
  type Q = (SparkSession, String) => DataFrame
  type Sink = (String, DataFrame) => Unit

  /** The modules `SparkEntry.queries` concatenates, in its order. */
  lazy val modules: Seq[(String, Map[String, Q])] = Seq(
    "Scans" -> Scans.ops, "Filters" -> Filters.ops, "Aggregations" -> Aggregations.ops,
    "Joins" -> Joins.ops, "Windows" -> Windows.ops, "Sorts" -> Sorts.ops,
    "SetOps" -> SetOps.ops, "Scalars" -> Scalars.ops, "LlmPipeline" -> LlmPipeline.ops,
    "Streaming" -> Streaming.ops, "Extensions" -> Extensions.ops, "LlmExtras" -> LlmExtras.ops,
    "Reshape" -> Reshape.ops, "Subqueries" -> Subqueries.ops, "LlmCuration" -> LlmCuration.ops)

  /** Module of each op: the last module whose map holds the key, as in the
    * `++` chain of `SparkEntry.queries`. */
  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, ops) => ops.keys.map(_ -> m) }.toMap

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Conf keys whose values differ between runs by construction. */
  private val VolatileConf = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
    "spark.driver.port", "spark.driver.host", "spark.executor.id", "spark.sql.warehouse.dir",
    "spark.local.dir", "spark.app.initial.jar.urls", "spark.app.initial.file.urls")

  final case class OpRun(op: String, buildMs: Double, planMs: Double, execMs: Double,
      ok: Boolean, err: String, graftNodes: Int) {
    def wallMs: Double = buildMs + planMs + execMs
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val leaked = sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted
    require(leaked.isEmpty, s"SPARK_GRAFT_* variables must be unset: ${leaked.mkString(",")}")
    val result: Map[String, Any] = a("mode") match {
      case "inventory" => Map(
        "modules" -> moduleOf,
        "queries" -> SparkEntry.queries.keys.toSeq.sorted,
        "oracle" -> SparkEntry.oracleSql)
      case "run" => run(a)
      case "selftest" => selftest(a)
    }
    val json = org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), json + "\n")
  }

  def session(a: Map[String, String], cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.memory.storageFraction", "0.3")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .config("spark.local.dir", a("localdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** graft.Bench's untimed warm-up query. */
  def warmUp(spark: SparkSession, sf: String): Unit = {
    spark.read.parquet(s"$sf/region.parquet").groupBy("r_name").count().count()
    ()
  }

  private def confOf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.map { case (k, v) => k -> (if (VolatileConf(k)) "<per-run>" else v) }

  /** Executed-plan nodes and expressions whose class lives in graft.plans,
    * looking through adaptive wrappers and subqueries. */
  def graftNodes(p: SparkPlan): Int = {
    def isGraft(x: AnyRef) = x.getClass.getName.startsWith("graft.plans.")
    def walk(n: SparkPlan): Int = n match {
      case ad: AdaptiveSparkPlanExec => walk(ad.executedPlan)
      case _ =>
        val self = (if (isGraft(n)) 1 else 0) +
          n.expressions.map(_.collect { case e if isGraft(e) => 1 }.sum).sum
        self + (n.children ++ n.subqueries).map(walk).sum +
          n.innerChildren.collect { case c: SparkPlan => walk(c) }.sum
    }
    walk(p)
  }

  private def run(a: Map[String, String]): Map[String, Any] = {
    val sf = a("sf")
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val ops = a("ops").split(",").toSeq
    val fns = ops.map(o => o -> SparkEntry.queries(o))
    val startNs = System.nanoTime()
    val spark = session(a, cores)
    val sessionStartS = (System.nanoTime() - startNs) / 1e9
    val sc = spark.sparkContext
    val rec = new Recorder
    val steps = ArrayBuffer[Recorder.Step]()
    def drainAll(): (Seq[JobRec], Seq[StageRec], Seq[TaskRec]) = {
      PerfbenchBus.flush(sc); rec.drain()
    }
    def timed[A](kind: String, name: String)(f: => A): (A, Double) = {
      sc.setLocalProperty(Recorder.StepKey, s"$kind|$name")
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val r = f
        (r, (System.nanoTime() - t0) / 1e6)
      } finally {
        steps += Recorder.Step(kind, name, m0, System.currentTimeMillis())
        sc.setLocalProperty(Recorder.StepKey, null)
      }
    }
    if (traced) sc.addSparkListener(rec)
    warmUp(spark, sf)
    val memos = if (a("memos") == "1") {
      val (ms, _) = timed("memo", "forceMemos")(Shared.forceMemos(spark, sf))
      ms.foreach { case (n, t) => require(t >= 0, s"memo $n failed to build") }
      ms
    } else Nil
    val memoJobs = if (traced) drainAll()._1.count(j => Recorder.stepOf(j, steps.toSeq)._1 == "memo") else 0
    val setupEndMs = System.currentTimeMillis()

    def runOp(name: String, fn: Q, sink: Sink, countNodes: Boolean): OpRun = {
      var b, p, e = 0.0
      var nodes = 0
      try {
        val (df, tb) = timed("build", name)(fn(spark, sf)); b = tb
        val (plan, tp) = timed("plan", name)(df.queryExecution.executedPlan); p = tp
        if (countNodes) nodes = graftNodes(plan)
        e = timed("exec", name)(sink(name, df))._2
        OpRun(name, b, p, e, ok = true, "", nodes)
      } catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] $name FAILED: ${t.toString.take(500)}")
          OpRun(name, b, p, e, ok = false, t.toString.take(300), nodes)
      }
    }
    val noop: Sink = (_, df) => df.write.format("noop").mode("overwrite").save()
    def order(passIdx: Int) = new scala.util.Random(seed * 1000003L + passIdx).shuffle(fns)
    def pass(passIdx: Int, sink: Sink, trace: Boolean): Map[String, Any] = {
      if (trace) { drainAll(); sc.addSparkListener(rec) }
      steps.clear()
      val t0 = System.nanoTime()
      val runs = order(passIdx).map { case (n, f) => runOp(n, f, sink, trace) }
      val wallS = (System.nanoTime() - t0) / 1e9
      val layers = if (trace) {
        val (jobs, stages, tasks) = drainAll()
        sc.removeSparkListener(rec)
        Map("layers" -> Layers(runs, jobs, stages, tasks, steps.toSeq, wallS, cores))
      } else Map.empty
      Map("wall_s" -> wallS, "traced" -> trace,
        "ops" -> runs.map(r => Map("op" -> r.op, "build_ms" -> r.buildMs, "plan_ms" -> r.planMs,
          "exec_ms" -> r.execMs, "ok" -> r.ok, "err" -> r.err) ++
          (if (trace) Map("graft_nodes" -> r.graftNodes) else Map.empty))) ++ layers
    }

    if (traced) sc.removeSparkListener(rec)
    val cold = pass(0, noop, trace = false)
    val verifyDir = a("verify_dir")
    val verify = pass(1, (n, df) => df.write.mode("overwrite").parquet(s"$verifyDir/$n"), trace = false)
    // A fixed count of warm passes, so two trees are compared over the same
    // pass indices; `seconds` only caps the warm phase of a much slower tree.
    val warmPasses = a("warm_passes").toInt
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    val warm = ArrayBuffer[Map[String, Any]]()
    while (warm.size < warmPasses && (warm.isEmpty || System.nanoTime() < deadline))
      warm += pass(2 + warm.size, noop, trace = traced && warm.size % 2 == 0)

    // Loader probe: Tables.t called directly, three times per table.
    val probe = if (!traced) Map.empty[String, Any] else {
      drainAll()
      sc.addSparkListener(rec)
      steps.clear()
      val loads = for (t <- Tables; i <- 1 to 3)
        yield timed("probe", s"$t#$i")(graft.Tables.t(spark, sf, t))._2
      val probeJobs = drainAll()._1.count(j => Recorder.stepOf(j, steps.toSeq)._1 == "probe")
      sc.removeSparkListener(rec)
      Map("load_ms" -> loads, "jobs" -> probeJobs, "calls" -> loads.size)
    }
    val conf = confOf(spark)
    CacheReuse.release()
    spark.stop()
    Map("cores" -> cores, "conf" -> conf, "session_start_s" -> sessionStartS,
      "setup_end_ms" -> setupEndMs,
      "memos" -> memos.toMap, "memo_jobs" -> memoJobs,
      "cold" -> cold, "verify" -> verify, "warm" -> warm.toSeq, "probe" -> probe)
  }

  /** Listener job, stage and task counts against `statusTracker`'s on a
    * small synthetic query. */
  private def selftest(a: Map[String, String]): Map[String, Any] = {
    val spark = session(a, 2)
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    sc.setJobGroup("perfbench-selftest", "selftest")
    sc.setLocalProperty(Recorder.StepKey, "exec|selftest")
    import org.apache.spark.sql.functions.col
    spark.range(0, 200000, 1, 4).groupBy(col("id") % 7).count().collect()
    spark.range(0, 1000, 1, 3).selectExpr("sum(id)").collect()
    sc.clearJobGroup()
    PerfbenchBus.flush(sc)
    val (jobs, stages, tasks) = rec.drain()
    val tracker = sc.statusTracker
    val ids = tracker.getJobIdsForGroup("perfbench-selftest").toSeq
    val stageIds = ids.flatMap(tracker.getJobInfo(_)).flatMap(_.stageIds).distinct
    val stageInfos = stageIds.flatMap(tracker.getStageInfo(_))
    val out = Map(
      "listener_jobs" -> jobs.count(_.step == "exec|selftest"),
      "tracker_jobs" -> ids.size,
      "listener_stages" -> stages.size,
      "tracker_stages" -> stageInfos.count(_.numCompletedTasks > 0),
      "listener_tasks" -> tasks.size,
      "tracker_tasks" -> stageInfos.map(_.numCompletedTasks).sum)
    spark.stop()
    out
  }
}
