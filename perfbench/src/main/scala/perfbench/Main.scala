package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}

/** Closed-loop benchmark harness: one client, one query at a time, the
  * next sent only after the previous completes. Runs graft's registered
  * queries through its public entry points on inputs generated by
  * `gen.py`, and writes a result record (and, when traced, a span log)
  * for `run.py` to summarise and check against the DuckDB oracle.
  *
  * Usage: perfbench.Main --input DIR --work DIR --out DIR --queries q,..
  *   --tables t,.. --seconds S --seed N --trace 0|1 --cores N
  *   --launch-ms EPOCH_MS
  */
object Main extends AdaptiveSparkPlanHelper {

  /** One timed execution of one query. */
  final case class Run(phase: String, pass: Int, query: String, traced: Boolean,
      start: Double, built: Double, end: Double, error: String) {
    def ok: Boolean = error == null
    def latency: Double = (end - start) / 1000.0
    def build: Double = (built - start) / 1000.0
    /** traced only: the write's planning phases (seconds) and their
      * epoch-ms extent, the plan's shape and operator metrics */
    var plan: Map[String, Double] = Map.empty
    var planStart: Double = Double.NaN
    var planEnd: Double = Double.NaN
    var shape: Map[String, Double] = Map.empty
    var cachedBlocks: Int = 0
    def planS: Double = plan.values.sum
    /** from the end of planning to the end of the write */
    def exec: Double = if (planEnd.isNaN) 0.0 else (end - math.max(built, planEnd)) / 1000.0
  }

  private def nowMs: Double = System.nanoTime() / 1e6 + epochOffset
  private val epochOffset = System.currentTimeMillis() - System.nanoTime() / 1e6

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val queries = a("queries").split(",").toSeq
    val tables = a("tables").split(",").toSeq
    val inputDir = a("input")
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val conf = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")

    // ---- set-up, timed from process launch (JVM start and class loading
    // included): a session, then a row-count probe of every input through
    // graft's loader, which leaves the session warmed by its first jobs
    val t0 = a("launch-ms").toDouble
    val b = SparkSession.builder()
    conf.foreach { case (key, v) => b.config(key, v) }
    val spark = b.config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val tSession = nowMs
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val counter = new Counter
    sc.addSparkListener(counter)
    sc.setLocalProperty(Label.Key, Label("setup", 0, "-", "probe"))
    val inputRows = tables.map(t => t -> Tables.load(spark, inputDir, t).count()).toMap
    val setup = Map("setup_s" -> (nowMs - t0) / 1000.0,
      "session_s" -> (tSession - t0) / 1000.0, "probe_s" -> (nowMs - tSession) / 1000.0)

    // ---- plan records for traced passes: the noop write's own
    // QueryExecution (its tracker and executed plan) arrives here
    val executions = new LinkedBlockingQueue[QueryExecution]()
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (isNoopWrite(qe)) executions.put(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    def settle(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
      System.gc()
    }

    /** Builds and runs one query. It writes to the noop sink, except in
      * the first warm-up pass, which writes the result as parquet for the
      * oracle check. */
    def runOne(phase: String, pass: Int, q: String, traced: Boolean): Run = {
      settle()
      if (traced) executions.clear()
      val t0 = nowMs
      var t1 = t0
      var err: String = null
      try {
        sc.setLocalProperty(Label.Key, Label(phase, pass, q, "build"))
        val df = SparkEntry.queries(q)(spark, inputDir)
        t1 = nowMs
        sc.setLocalProperty(Label.Key, Label(phase, pass, q, "exec"))
        if (phase == "warm" && pass == 0)
          df.write.mode("overwrite").parquet(out.resolve(s"results/$q").toString)
        else df.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      }
      val r = Run(phase, pass, q, traced, t0, t1, nowMs, err)
      if (traced && r.ok) {
        r.cachedBlocks = sc.getRDDStorageInfo.map(_.numCachedPartitions).sum
        Option(executions.poll(10, TimeUnit.SECONDS)).foreach { qe =>
          val phases = qe.tracker.phases
          r.plan = phases.map { case (k, p) => k -> p.durationMs / 1000.0 }
          r.planStart = phases.values.map(_.startTimeMs).min.toDouble
          r.planEnd = phases.values.map(p => p.startTimeMs + p.durationMs).max.toDouble
          r.shape = planShape(qe.executedPlan)
        }
      }
      if (err != null) System.err.println(s"[perfbench] $phase pass $pass $q failed: $err")
      r
    }

    // ---- warm-up, untimed: two passes, as a query's latency is still
    // falling steeply over its first executions (JIT of its generated
    // code). The first pass writes the results run.py checks against the
    // DuckDB oracle.
    val warmStart = nowMs
    val warm = (0 until 2).flatMap { p =>
      new Random(seed + p).shuffle(queries).map(runOne("warm", p, _, traced = false))
    }
    val warmS = (nowMs - warmStart) / 1000.0
    counter.drain()

    // ---- timed closed loop, in whole passes until `seconds` is spent, so
    // every query has the same number of samples, and never fewer than
    // three: latency still falls over the first timed passes, so a run
    // that stopped after two would read slower than one that made three.
    // With --trace 1 every other execution is traced (alternating by pass
    // and position, so both kinds spread evenly over the run) and the
    // rest are not: the same run gives the tracing overhead.
    val recorder = new Recorder
    val runs = mutable.ArrayBuffer.empty[Run]
    val passes = mutable.ArrayBuffer.empty[Double]
    val loopStart = nowMs
    while (passes.size < 3 || (nowMs - loopStart) / 1000.0 < seconds) {
      val pass = passes.size
      val passStart = nowMs
      new Random(seed * 1000003L + pass + 1).shuffle(queries).zipWithIndex.foreach { case (q, i) =>
        val traced = trace && (pass + i) % 2 == 0
        if (traced) { sc.addSparkListener(recorder); spark.listenerManager.register(qeListener) }
        runs += runOne("timed", pass, q, traced)
        if (traced) {
          counter.drain()
          sc.removeSparkListener(recorder)
          spark.listenerManager.unregister(qeListener)
        }
      }
      passes += (nowMs - passStart) / 1000.0
    }
    val loopS = (nowMs - loopStart) / 1000.0
    counter.drain()
    val (timedRows, timedJobs) =
      counter.synchronized((counter.timedRowsRead.toMap, counter.timedJobs.toMap))
    val peakRssMb = vmHwmMb()

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"), Json(oracle))

    val spans = if (trace) buildSpans(runs.filter(_.traced).toSeq, recorder) else Seq.empty
    if (trace) {
      val w = Files.newBufferedWriter(out.resolve("trace.jsonl"))
      spans.foreach { s =>
        w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "label" -> s.label, "start_ms" -> s.start, "end_ms" -> s.end,
          "self_ms" -> selfTime(s, spans))))
        w.newLine()
      }
      w.close()
    }

    val record = mutable.LinkedHashMap[String, Any](
      "setup" -> setup,
      "warmup_s" -> warmS,
      "loop_s" -> loopS,
      "input_dir" -> inputDir,
      "input_rows" -> inputRows,
      "timed_rows_read" -> timedRows,
      "timed_jobs" -> timedJobs,
      "peak_rss_mb" -> peakRssMb,
      "pass_s" -> passes.toSeq,
      "runs" -> (warm ++ runs).map { r =>
        Map("phase" -> r.phase, "pass" -> r.pass, "query" -> r.query,
          "traced" -> r.traced, "latency_s" -> r.latency, "build_s" -> r.build,
          "error" -> r.error, "plan" -> r.plan, "shape" -> r.shape,
          "cached_blocks" -> r.cachedBlocks)
      },
      "rig" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "mem_total_kb" -> memTotalKb(),
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> spark.version,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "scala" -> scala.util.Properties.versionNumberString,
        "session_conf" -> conf.toMap))
    if (trace) record("layers") = layers(runs.filter(_.traced).toSeq,
      runs.filter(r => !r.traced).toSeq, recorder, spans, cores)
    Files.writeString(out.resolve("result.json"), Json(record))
    spark.stop()
  }

  // ---------------------------------------------------------------- plans

  private def isNoopWrite(qe: QueryExecution): Boolean =
    qe.logical.getClass.getSimpleName.matches("(OverwriteByExpression|AppendData).*")

  private def metric(p: SparkPlan, names: String*): Double =
    names.flatMap(p.metrics.get).map(_.value.toDouble).sum

  /** Shape counts and operator SQLMetrics of an executed (final AQE) plan. */
  private def planShape(root: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(root) { case p => p }
    def count(f: PartialFunction[SparkPlan, Boolean]) =
      nodes.count(p => f.applyOrElse(p, (_: SparkPlan) => false)).toDouble
    def sum(f: PartialFunction[SparkPlan, Double]) =
      nodes.collect(f).sum
    // rows out of the first filter above each scan (scan rows when none):
    // a filter's scan is reached through unary nodes such as ColumnarToRow
    def scanUnder(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Some(s)
      case _: FilterExec | _: ShuffleExchangeLike | _: BroadcastExchangeLike => None
      case u if u.children.size == 1 => scanUnder(u.children.head)
      case _ => None
    }
    val kept = nodes.collect { case s: FileSourceScanExec =>
      val f = nodes.collectFirst { case f: FilterExec if scanUnder(f.child).exists(_ eq s) => f }
      metric(f.getOrElse(s), "numOutputRows")
    }.sum
    Map(
      "exchanges" -> count { case _: ShuffleExchangeLike => true },
      "broadcasts" -> count { case _: BroadcastExchangeLike => true },
      "sorts" -> count { case _: SortExec => true },
      "windows" -> count { case _: WindowExec => true },
      "smj" -> count { case _: SortMergeJoinExec => true },
      "bhj" -> count { case _: BroadcastHashJoinExec => true },
      "shj" -> count { case _: ShuffledHashJoinExec => true },
      "bnlj" -> count { case _: BroadcastNestedLoopJoinExec => true },
      "files" -> sum { case s: FileSourceScanExec => metric(s, "numFiles") },
      "scan_rows" -> sum { case s: FileSourceScanExec => metric(s, "numOutputRows") },
      "kept_rows" -> kept,
      "scan_s" -> sum { case s: FileSourceScanExec => metric(s, "scanTime", "metadataTime") / 1000 },
      "sort_s" -> sum { case s: SortExec => metric(s, "sortTime") / 1000 },
      "agg_build_s" -> sum {
        case a: HashAggregateExec => metric(a, "aggTime") / 1000
        case a: ObjectHashAggregateExec => metric(a, "aggTime") / 1000
      },
      "join_build_s" -> sum { case j: ShuffledHashJoinExec => metric(j, "buildTime") / 1000 },
      "broadcast_s" -> sum { case b: BroadcastExchangeLike =>
        metric(b.asInstanceOf[SparkPlan], "collectTime", "buildTime", "broadcastTime") / 1000 })
  }

  // ---------------------------------------------------------------- spans

  /** query -> build | plan | exec, with Spark jobs under build/exec and
    * stages under jobs. The plan span is the write's planning phases, laid
    * at the start of the write; exec is the rest of the write. */
  private def buildSpans(runs: Seq[Run], rec: Recorder): Seq[Span] = {
    val spans = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, name: String, label: String, s: Double, e: Double): Int = {
      spans += Span(spans.size, parent, name, label, s, e); spans.size - 1
    }
    val stagesOf = rec.synchronized(rec.stages.toSeq).groupBy(_.jobId)
    val jobsOf = rec.synchronized(rec.jobs.toSeq).groupBy(_.label)
    runs.filter(_.ok).foreach { r =>
      val q = add(-1, "query", Label("timed", r.pass, r.query, "-"), r.start, r.end)
      val planEnd = if (r.planEnd.isNaN) r.built else math.max(r.built, r.planEnd)
      val steps = Seq(
        "build" -> (r.start, r.built),
        "plan" -> (if (r.planStart.isNaN) r.built else r.planStart, planEnd),
        "exec" -> (planEnd, r.end))
      steps.foreach { case (step, (s, e)) =>
        val label = Label("timed", r.pass, r.query, step)
        val id = add(q, step, label, s, e)
        jobsOf.getOrElse(label, Nil).foreach { j =>
          val jid = add(id, "job", s"job ${j.id}", j.start.toDouble, j.end.toDouble)
          stagesOf.getOrElse(j.id, Nil).foreach { st =>
            add(jid, "stage", s"stage ${st.id}", st.submitted.toDouble, st.completed.toDouble)
          }
        }
      }
    }
    spans.toSeq
  }

  private def selfTime(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    // children may overlap (parallel stages): subtract their union
    var covered = 0.0
    var cur = (Double.NaN, Double.NaN)
    kids.foreach { case (a, b) =>
      if (cur._1.isNaN || a > cur._2) { if (!cur._1.isNaN) covered += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (!cur._1.isNaN) covered += cur._2 - cur._1
    math.max(0.0, s.dur - covered)
  }

  // --------------------------------------------------------------- layers

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer metrics of the traced passes. Each additive metric is the
    * sum over the workload's queries of that query's median over traced
    * executions, i.e. "per pass" like suite_s. */
  private def layers(traced: Seq[Run], untraced: Seq[Run], rec: Recorder,
      spans: Seq[Span], cores: Int): Map[String, Double] = {
    val ok = traced.filter(_.ok)
    val jobs = rec.synchronized(rec.jobs.toSeq)
    val stageJob = rec.synchronized(rec.stages.toSeq).map(s => s.id -> s.jobId).toMap
    val tasks = rec.synchronized(rec.tasks.toSeq)
    val jobById = jobs.map(j => j.id -> j).toMap
    val tasksByLabel = tasks.groupBy(t => stageJob.get(t.stageId).flatMap(jobById.get)
      .map(_.label.split("/").take(3).mkString("/")).getOrElse(""))
    val jobsByLabel = jobs.groupBy(_.label)
    def key(r: Run) = s"timed/${r.pass}/${r.query}"
    def perQuery(f: Run => Double): Double =
      ok.groupBy(_.query).values.map(rs => median(rs.map(f))).sum
    def taskSum(r: Run, f: TaskRec => Double) = tasksByLabel.getOrElse(key(r), Nil).map(f).sum
    def jobsOf(r: Run, step: String) = jobsByLabel.getOrElse(Label("timed", r.pass, r.query, step), Nil)
    def allJobs(r: Run) = jobsOf(r, "build") ++ jobsOf(r, "exec")
    def stagesOfRun(r: Run) = {
      val ids = allJobs(r).map(_.id).toSet
      stageJob.collect { case (s, j) if ids(j) => s }.toSet
    }
    def buildTasks(r: Run) = {
      val ids = jobsOf(r, "build").flatMap(_.stageIds).toSet
      tasks.filter(t => ids(t.stageId))
    }
    // time a job was open with no task of it running: DAG scheduling,
    // task launch and result handling
    def schedWait(r: Run): Double = allJobs(r).map { j =>
      val ivs = tasks.filter(t => j.stageIds.contains(t.stageId))
        .map(t => (t.launch.toDouble, t.finish.toDouble))
      val span = Span(0, -1, "", "", j.start.toDouble, j.end.toDouble)
      selfTime(span, ivs.zipWithIndex.map { case ((a, b), i) => Span(i + 1, 0, "", "", a, b) })
    }.sum / 1000.0
    def skew(r: Run): Double = {
      val ids = stagesOfRun(r)
      tasks.filter(t => ids(t.stageId) && !t.failed).groupBy(_.stageId).values
        .filter(_.size >= 2).map { ts =>
          val d = ts.map(t => (t.finish - t.launch).toDouble)
          d.max / math.max(1.0, median(d))
        }.foldLeft(1.0)(math.max)
    }
    def spanSelf(r: Run, step: String): Double =
      spans.find(s => s.label == Label("timed", r.pass, r.query, step) && s.name == step)
        .map(s => selfTime(s, spans) / 1000.0).getOrElse(0.0)
    def suite(rs: Seq[Run]) = rs.filter(_.ok).groupBy(_.query).values.map(x => median(x.map(_.latency))).sum
    val tracedSuite = suite(traced)
    val build = perQuery(_.build)
    val plan = perQuery(_.planS)
    val exec = perQuery(_.exec)
    val taskS = perQuery(r => taskSum(r, _.runMs / 1000.0))
    val scanRows = perQuery(_.shape.getOrElse("scan_rows", 0.0))
    Map(
      "queries.build_s" -> build,
      "queries.build_self_s" -> perQuery(spanSelf(_, "build")),
      "queries.build_jobs" -> perQuery(jobsOf(_, "build").size.toDouble),
      "queries.build_task_s" -> perQuery(buildTasks(_).map(_.runMs / 1000.0).sum),
      "queries.cached_blocks" -> perQuery(_.cachedBlocks.toDouble),
      "plans.plan_s" -> plan,
      "plans.analysis_s" -> perQuery(_.plan.getOrElse("analysis", 0.0)),
      "plans.optimizer_s" -> perQuery(_.plan.getOrElse("optimization", 0.0)),
      "plans.physical_s" -> perQuery(_.plan.getOrElse("planning", 0.0)),
      "plans.exchanges" -> perQuery(_.shape.getOrElse("exchanges", 0.0)),
      "plans.broadcasts" -> perQuery(_.shape.getOrElse("broadcasts", 0.0)),
      "plans.sorts" -> perQuery(_.shape.getOrElse("sorts", 0.0)),
      "plans.windows" -> perQuery(_.shape.getOrElse("windows", 0.0)),
      "plans.smj" -> perQuery(_.shape.getOrElse("smj", 0.0)),
      "plans.bhj" -> perQuery(_.shape.getOrElse("bhj", 0.0)),
      "plans.shj" -> perQuery(_.shape.getOrElse("shj", 0.0)),
      "plans.bnlj" -> perQuery(_.shape.getOrElse("bnlj", 0.0)),
      "sources.files" -> perQuery(_.shape.getOrElse("files", 0.0)),
      "sources.bytes_read" -> perQuery(taskSum(_, _.bytesRead.toDouble)),
      "sources.rows_read" -> perQuery(taskSum(_, _.rowsRead.toDouble)),
      "sources.scan_s" -> perQuery(_.shape.getOrElse("scan_s", 0.0)),
      "sources.rows_kept_ratio" ->
        (if (scanRows > 0) perQuery(_.shape.getOrElse("kept_rows", 0.0)) / scanRows else 1.0),
      "exchange.write_bytes" -> perQuery(taskSum(_, _.shuffleWrite.toDouble)),
      "exchange.read_bytes" -> perQuery(taskSum(_, _.shuffleRead.toDouble)),
      "exchange.fetch_wait_s" -> perQuery(taskSum(_, _.fetchWaitMs / 1000.0)),
      "exchange.spill_bytes" -> perQuery(taskSum(_, _.spillBytes.toDouble)),
      "operators.exec_s" -> exec,
      "operators.exec_self_s" -> perQuery(spanSelf(_, "exec")),
      "operators.jobs" -> perQuery(allJobs(_).size.toDouble),
      "operators.stages" -> perQuery(stagesOfRun(_).size.toDouble),
      "operators.tasks" -> perQuery(r => tasksByLabel.getOrElse(key(r), Nil).size.toDouble),
      "operators.task_s" -> taskS,
      "operators.cpu_s" -> perQuery(taskSum(_, _.cpuNs / 1e9)),
      "operators.gc_s" -> perQuery(taskSum(_, _.gcMs / 1000.0)),
      "operators.busy_frac" -> (if (tracedSuite > 0) taskS / (tracedSuite * cores) else 0.0),
      "operators.sched_wait_s" -> perQuery(schedWait),
      "operators.stage_skew" -> ok.groupBy(_.query).values.map(rs => median(rs.map(skew)))
        .foldLeft(1.0)(math.max),
      "operators.sort_s" -> perQuery(_.shape.getOrElse("sort_s", 0.0)),
      "operators.agg_build_s" -> perQuery(_.shape.getOrElse("agg_build_s", 0.0)),
      "operators.join_build_s" -> perQuery(_.shape.getOrElse("join_build_s", 0.0)),
      "operators.broadcast_s" -> perQuery(_.shape.getOrElse("broadcast_s", 0.0)),
      "operators.peak_exec_mem_mb" -> tasks.map(_.peakMem.toDouble).foldLeft(0.0)(math.max) / (1 << 20),
      "operators.failed_tasks" -> tasks.count(_.failed).toDouble,
      "trace.suite_s" -> tracedSuite,
      "trace.overhead" -> (if (suite(untraced) > 0) tracedSuite / suite(untraced) else 0.0),
      "trace.accounted_frac" -> (if (tracedSuite > 0) (build + plan + exec) / tracedSuite else 0.0),
      "trace.spans" -> spans.size.toDouble)
  }

  // ------------------------------------------------------------------ rig

  private def procField(file: String, field: String): Long =
    try {
      scala.io.Source.fromFile(file).getLines().find(_.startsWith(field + ":"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }

  private def vmHwmMb(): Double = procField("/proc/self/status", "VmHWM") / 1024.0
  private def memTotalKb(): Long = procField("/proc/meminfo", "MemTotal")
}
