// Closed-loop benchmark main for the graft engine. Compiled by
// perfbench/run.py against the engine's classes; not part of the engine.
//
// It lives under org.apache.spark only to drain the listener bus
// (LiveListenerBus.waitUntilEmpty is private[spark]) at the end of each
// traced phase, so every job, stage, task and execution event is
// attributed to the operation and phase that caused it.
package org.apache.spark.graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftFunctions, GraftSession, SparkEntry, Tables}
import graft.operators.TextJobs

/** One operation of a workload: `builder` returns the DataFrame (the
  * engine's builder layer, which may run eager jobs), `action` runs the
  * final action on it.
  */
final case class Op(name: String, builder: () => DataFrame, action: DataFrame => Unit)

/** A span of the trace tree run → op → {builder, action} → job → stage. */
final case class Span(id: String, parent: String, kind: String, name: String, start: Long, end: Long)

/** One timed operation: wall-clock start (epoch ms) and phase durations. */
final case class OpRec(pass: Int, traced: Boolean, id: String, name: String, start: Long,
                       builderMs: Double, actionMs: Double, ok: Boolean)

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null             => "null"
    case s: String        => str(s)
    case b: Boolean       => b.toString
    case d: Double        => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int           => n.toString
    case n: Long          => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]   => s.map(apply).mkString("[", ",", "]")
    case other            => str(other.toString)
  }
}

/** Per-(op, phase) counters filled by [[Tracer]]. */
final class PhaseStats {
  var jobs, stages, tasks, tasksStarted, tasksWasted = 0L
  var runMs, cpuNs, gcMs, peakMem = 0L
  var shWriteBytes, shWriteRecords, shReadBytes, fetchWaitMs, spillBytes = 0L
  var inBytes, inRecords, outBytes = 0L
  var mapStageMs, reduceStageMs = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var planNodes, planExchanges, planScans = 0L
  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "tasks_started" -> tasksStarted,
    "tasks_wasted" -> tasksWasted, "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1000000L,
    "task_gc_ms" -> gcMs, "task_peak_mem_bytes" -> peakMem, "shuffle_write_bytes" -> shWriteBytes,
    "shuffle_write_records" -> shWriteRecords, "shuffle_read_bytes" -> shReadBytes,
    "shuffle_fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes,
    "scan_input_bytes" -> inBytes, "scan_input_records" -> inRecords, "write_output_bytes" -> outBytes,
    "map_stage_ms" -> mapStageMs, "reduce_stage_ms" -> reduceStageMs,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "plan_nodes" -> planNodes, "plan_exchanges" -> planExchanges, "plan_scans" -> planScans
  )
}

/** Attributes scheduler, task and Catalyst events to the (op, phase)
  * named by the job group and the `graftbench.phase` local property
  * the benchmark thread sets; QueryExecution events carry no properties,
  * so they go to the phase that was current when the bus was drained.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final case class JobRec(key: (String, String), start: Long, stageIds: Seq[Int])
  private val jobs        = mutable.Map[Int, JobRec]()
  private val jobEnds     = mutable.Map[Int, Long]()
  private val stageJob    = mutable.Map[Int, Int]()
  val stats               = mutable.Map[(String, String), PhaseStats]()
  val spans               = mutable.ArrayBuffer[Span]()
  @volatile var current: (String, String) = ("", "")

  private def st(k: (String, String)) = stats.getOrElseUpdate(k, new PhaseStats)
  private def keyOf(props: java.util.Properties): (String, String) =
    if (props == null) current
    else (Option(props.getProperty("spark.jobGroup.id")).getOrElse(current._1),
          Option(props.getProperty("graftbench.phase")).getOrElse(current._2))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    jobs(e.jobId) = JobRec(k, e.time, e.stageIds)
    st(k).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      jobEnds(e.jobId) = e.time
      spans += Span(s"job-${e.jobId}", s"${j.key._1}/${j.key._2}", "job", s"job ${e.jobId}", j.start, e.time)
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val active = jobs.collect { case (id, j) if !jobEnds.contains(id) && j.stageIds.contains(e.stageInfo.stageId) => id }
    if (active.nonEmpty) stageJob(e.stageInfo.stageId) = active.max
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (jobId <- stageJob.get(info.stageId); j <- jobs.get(jobId); s <- info.submissionTime; c <- info.completionTime) {
      val p = st(j.key)
      p.stages += 1
      if (info.shuffleDepId.isDefined) p.mapStageMs += c - s else p.reduceStageMs += c - s
      spans += Span(s"stage-${info.stageId}.${info.attemptNumber()}", s"job-$jobId", "stage", info.name, s, c)
    }
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach(j => st(j.key).tasksStarted += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val jobId = stageJob.get(e.stageId)
    val p     = st(jobId.flatMap(jobs.get).map(_.key).getOrElse(current))
    p.tasks += 1
    val late = jobId.flatMap(jobEnds.get).exists(_ < e.taskInfo.finishTime)
    if (e.reason != org.apache.spark.Success || late) p.tasksWasted += 1
    val m = e.taskMetrics
    if (m != null) {
      p.runMs += m.executorRunTime; p.cpuNs += m.executorCpuTime; p.gcMs += m.jvmGCTime
      p.peakMem = math.max(p.peakMem, m.peakExecutionMemory)
      p.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      p.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
      p.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      p.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      p.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      p.inBytes += m.inputMetrics.bytesRead; p.inRecords += m.inputMetrics.recordsRead
      p.outBytes += m.outputMetrics.bytesWritten
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case o                        => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }
  /** Adds the Catalyst phase times of one QueryExecution to `k`. */
  def addPhases(k: (String, String), qe: QueryExecution): Unit = synchronized {
    val p      = st(k)
    val phases = qe.tracker.phases
    def ms(n: String) = phases.get(n).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    p.analysisMs += ms("analysis"); p.optimizationMs += ms("optimization"); p.planningMs += ms("planning")
  }
  private def onExecution(qe: QueryExecution): Unit = synchronized {
    addPhases(current, qe)
    val p   = st(current)
    val all = nodes(qe.executedPlan)
    p.planNodes = all.size
    p.planExchanges = all.count(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike])
    p.planScans = all.count(_.nodeName.contains("Scan"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onExecution(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onExecution(qe)

  /** Job intervals of one (op, phase), for the dispatch gap. */
  def jobIntervals(k: (String, String)): Seq[(Long, Long)] = synchronized {
    jobs.collect { case (id, j) if j.key == k => (j.start, jobEnds.getOrElse(id, j.start)) }.toSeq
  }
}

object BenchMain {
  private def now(): Long = System.currentTimeMillis()
  private def nanos(): Long = System.nanoTime()

  /** Milliseconds of [lo, hi) not covered by any interval. */
  def uncovered(lo: Long, hi: Long, iv: Seq[(Long, Long)]): Long = {
    var cur = lo; var gap = 0L
    for ((s, e) <- iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._1 < x._2).sortBy(_._1)) {
      if (s > cur) gap += s - cur
      cur = math.max(cur, e)
    }
    gap + math.max(0L, hi - cur)
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def sinkWc(df: DataFrame, out: String): Unit = TextJobs.sinkText(df, "word", "cnt", out)
  private def sinkIi(df: DataFrame, out: String): Unit =
    TextJobs.sinkText(df.selectExpr("word", "concat(n_files, ' ', files) AS entry"), "word", "entry", out)

  def main(args: Array[String]): Unit = {
    val opt      = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val workload = opt("workload")
    val input    = opt("input")
    val work     = Paths.get(opt("work"))
    val seed     = opt("seed").toLong
    val seconds  = opt("seconds").toDouble
    val trace    = opt("trace") == "1"
    val cores    = opt("cores").toInt
    val queries  = opt.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq

    // GraftSession layer: the engine's builder and confs, at local[nproc]
    // with shuffle partitions = nproc, state kept inside the work dir.
    val t0 = nanos()
    val spark = GraftSession
      .builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    val buildMs = (nanos() - t0) / 1e6
    val sc      = spark.sparkContext

    val mrOut = work.resolve("mr-out")
    val ops: Seq[Op] = workload match {
      case "mr_corpus" =>
        Seq(
          Op("wc", () => TextJobs.wordCountDir(spark, input), df => sinkWc(df, mrOut.resolve("wc").toString)),
          Op("ii", () => TextJobs.invertedIndexDir(spark, input), df => sinkIi(df, mrOut.resolve("ii").toString))
        )
      case _ =>
        queries.map { q =>
          val f = SparkEntry.queries(q)
          Op(q, () => f(spark, input), df => df.write.format("noop").mode("overwrite").save())
        }
    }
    val loaders: Seq[(String, () => DataFrame)] = workload match {
      case "mr_corpus" => Seq("corpus" -> (() => TextJobs.corpus(spark, input)))
      case _ =>
        Seq[(String, (SparkSession, String) => DataFrame)](
          "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
          "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
          "lineitem" -> Tables.lineitem, "events" -> Tables.events, "documents" -> Tables.documents,
          "embeddings" -> Tables.embeddings
        ).map { case (n, f) => n -> (() => f(spark, input)) }
    }

    val failures = mutable.LinkedHashMap[String, String]()
    def attempt(name: String)(body: => Unit): Boolean =
      try { body; true }
      catch {
        case e: Throwable =>
          failures.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          false
      }

    // Warm-up: three passes over every op, because timed passes still
    // sped up for a while after one or two (JIT). The mix writes each
    // first result for the untimed oracle check; mr_corpus checks its
    // sink output at the end.
    val tw = nanos()
    val results = work.resolve("results")
    for (round <- 0 until 3; op <- ops) {
      sc.setJobGroup("warmup", op.name, interruptOnCancel = false)
      attempt(op.name) {
        val df = op.builder()
        if (round > 0 || workload == "mr_corpus") op.action(df)
        else df.coalesce(1).write.mode("overwrite").parquet(results.resolve(op.name).toString)
      }
    }
    sc.clearJobGroup()
    val warmupMs = (nanos() - tw) / 1e6
    println(s"GRAFTBENCH_READY ${buildMs} ${warmupMs}")
    System.out.flush()

    if (workload != "mr_corpus") {
      val oracle = SparkEntry.oracleSql
      Files.writeString(work.resolve("oracle_sql.json"),
        Json(queries.flatMap(q => oracle.get(q).map(q -> _)).toMap), StandardCharsets.UTF_8)
    }

    val tracer = new Tracer
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def setTracing(on: Boolean): Unit =
      if (on) { sc.addSparkListener(tracer); classic.listenerManager.register(tracer) }
      else { sc.removeSparkListener(tracer); classic.listenerManager.unregister(tracer) }
    def drain(): Unit = sc.listenerBus.waitUntilEmpty()

    val opRecs   = mutable.ArrayBuffer[OpRec]()
    val passRecs = mutable.ArrayBuffer[(Int, Boolean, Double)]()
    val loadMs   = mutable.ArrayBuffer[(String, Double)]()
    val runStart = now()
    val deadline = nanos() + (seconds * 1e9).toLong
    var pass     = 0
    var n        = 0
    // Closed loop, one client thread: whole passes until the time is
    // up. A traced run alternates traced and untraced passes so it can
    // state its own overhead.
    while (pass == 0 || nanos() < deadline || (trace && pass < 2)) {
      val traced = trace && pass % 2 == 0
      if (traced) {
        setTracing(true)
        loaders.foreach { case (t, f) =>
          val s = nanos(); attempt(s"load:$t")(f()); loadMs += t -> (nanos() - s) / 1e6
        }
      }
      val order = if (workload == "mr_corpus") ops else new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
      val ps = nanos()
      order.foreach { op =>
        val id = s"op-$n"; n += 1
        sc.setJobGroup(id, op.name, interruptOnCancel = false)
        val start = now()
        var df: DataFrame = null
        sc.setLocalProperty("graftbench.phase", "builder"); tracer.current = (id, "builder")
        val b0 = nanos()
        var ok = attempt(op.name) { df = op.builder() }
        val b1 = nanos()
        if (traced) {
          drain()
          // The returned DataFrame was analyzed eagerly when the builder
          // made it; no listener reports that QueryExecution.
          if (df != null) tracer.addPhases((id, "builder"), df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution)
        }
        sc.setLocalProperty("graftbench.phase", "action"); tracer.current = (id, "action")
        val a0 = nanos()
        ok = ok && attempt(op.name)(op.action(df))
        val a1 = nanos()
        if (traced) drain()
        opRecs += OpRec(pass, traced, id, op.name, start, (b1 - b0) / 1e6, (a1 - a0) / 1e6, ok)
      }
      passRecs += ((pass, traced, (nanos() - ps) / 1e6))
      if (traced) setTracing(false)
      pass += 1
    }
    sc.setLocalProperty("graftbench.phase", null)
    sc.clearJobGroup()

    if (trace) writeTrace(work, runStart, opRecs.filter(_.traced).toSeq, tracer)
    val out = Map(
      "session_build_ms" -> buildMs,
      "warmup_ms"        -> warmupMs,
      "vm_hwm_kb"        -> vmHwmKb(),
      "localdir_bytes"   -> dirBytes(work.resolve("spark-local")),
      "failures"         -> failures,
      "passes"           -> passRecs.map { case (p, t, ms) => Map("pass" -> p, "traced" -> t, "ms" -> ms) },
      "loads"            -> loadMs.map { case (t, ms) => Map("table" -> t, "ms" -> ms) },
      "ops" -> opRecs.map { r =>
        val base = Map[String, Any]("pass" -> r.pass, "traced" -> r.traced, "id" -> r.id, "name" -> r.name,
          "builder_ms" -> r.builderMs, "action_ms" -> r.actionMs, "ok" -> r.ok)
        if (!r.traced) base
        else {
          val b = tracer.stats.getOrElse((r.id, "builder"), new PhaseStats)
          val a = tracer.stats.getOrElse((r.id, "action"), new PhaseStats)
          val bEnd = r.start + r.builderMs.toLong
          val gap = uncovered(r.start, bEnd, tracer.jobIntervals((r.id, "builder"))) +
            uncovered(bEnd, bEnd + r.actionMs.toLong, tracer.jobIntervals((r.id, "action")))
          base ++ Map("builder" -> b.toMap, "action" -> a.toMap, "dispatch_gap_ms" -> gap)
        }
      }
    )
    Files.writeString(work.resolve("jvm_result.json"), Json(out), StandardCharsets.UTF_8)
    spark.stop()
  }

  /** Spans of the traced passes, one JSON object per line, all under one
    * run id; self time = duration minus the union of the children. */
  private def writeTrace(work: Path, runStart: Long, ops: Seq[OpRec], tracer: Tracer): Unit = {
    val runId = s"run-$runStart"
    val spans = mutable.ArrayBuffer[Span]()
    spans += Span(runId, "", "run", runId, runStart, now())
    ops.foreach { r =>
      val bEnd = r.start + r.builderMs.toLong
      val end  = bEnd + r.actionMs.toLong
      spans += Span(r.id, runId, "op", r.name, r.start, end)
      spans += Span(s"${r.id}/builder", r.id, "builder", s"${r.name} builder", r.start, bEnd)
      spans += Span(s"${r.id}/action", r.id, "action", s"${r.name} action", bEnd, end)
    }
    spans ++= tracer.spans
    val children = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val kids = children.getOrElse(s.id, Seq.empty).map(c => (c.start, c.end)).toSeq
      Json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "self_ms" -> uncovered(s.start, s.end, kids)))
    }
    Files.createDirectories(work.resolve("trace"))
    Files.writeString(work.resolve("trace/spans.jsonl"), lines.mkString("", "\n", "\n"), StandardCharsets.UTF_8)
  }
}
