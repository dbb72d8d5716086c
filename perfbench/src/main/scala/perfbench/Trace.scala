package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same time base
  * as Spark's listener event timestamps. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span. `kind` is `bench` (a span the benchmark opened around a public
  * call or a round), `sql` (a Spark SQL execution) or `job` (a Spark job).
  * `module` is the layer the span is attributed to; `site` the first
  * `graft.*` frame (Class.method) of the call site that launched it. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    module: String, site: String, start: Double, end: Double) {
  def dur: Double = math.max(0.0, end - start)
}

/** Aggregated task metrics of the stages that completed inside a job. */
final case class StageStats(cpuMs: Double = 0, runMs: Double = 0, gcMs: Double = 0,
    shuffleWriteB: Double = 0, shuffleReadB: Double = 0, spillB: Double = 0,
    tasks: Int = 0, stages: Int = 0) {
  def +(o: StageStats): StageStats = StageStats(cpuMs + o.cpuMs, runMs + o.runMs,
    gcMs + o.gcMs, shuffleWriteB + o.shuffleWriteB, shuffleReadB + o.shuffleReadB,
    spillB + o.spillB, tasks + o.tasks, stages + o.stages)
}

/** Call-site attribution: the module named by the first `graft.*` frame. */
object Attribution {
  private val Frame = """(?m)^graft\.([a-z]+)\.([A-Za-z0-9_]+)\$?[A-Za-z0-9_$]*\.([A-Za-z0-9_$]+)\(""".r

  def layerOf(cls: String): String = cls match {
    case "FrontierFilter" | "CuckooFilter" | "FilterInventory" => "FrontierFilter"
    case "UrlCanon" | "LinkExtract" | "LinkTypeChecker" | "UriScope" | "UriProtocol" => "canon"
    case "Robots" => "robots"
    case "Synth" => "synth"
    case other => other
  }

  /** (module, Class.method) of a long-form call site, if any graft frame. */
  def of(details: String): Option[(String, String)] =
    Option(details).flatMap(Frame.findFirstMatchIn).map { m =>
      val cls = m.group(2).takeWhile(_ != '$')
      val method = m.group(3).split('$').filter(s => s.nonEmpty && s != "anonfun")
        .headOption.getOrElse(m.group(3))
      (layerOf(cls), s"$cls.$method")
    }

  def ownFrame(details: String): Boolean =
    Option(details).exists(_.linesIterator.exists(_.startsWith("perfbench.")))
}

/** Spark listener half of the tracer: every job, stage and SQL execution,
  * with its call site and times, kept in memory. */
final class SparkRecorder extends SparkListener {
  final class JobRec(val id: Int, val start: Double, val stageIds: Seq[Int],
      val execId: Long, val details: String) {
    @volatile var end: Double = Double.NaN
    var stats = StageStats()
  }
  final class SqlRec(val id: Long, val start: Double, val details: String) {
    @volatile var end: Double = Double.NaN
  }
  val jobs = ArrayBuffer.empty[JobRec]
  val sqls = ArrayBuffer.empty[SqlRec]
  private val jobById = scala.collection.mutable.Map.empty[Int, JobRec]
  private val sqlById = scala.collection.mutable.Map.empty[Long, SqlRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val j = new JobRec(e.jobId, e.time.toDouble, e.stageIds, exec, details)
    jobs += j; jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val tm = si.taskMetrics
    val st = if (tm == null) StageStats(tasks = si.numTasks, stages = 1)
      else StageStats(tm.executorCpuTime / 1e6, tm.executorRunTime.toDouble,
        tm.jvmGCTime.toDouble, tm.shuffleWriteMetrics.bytesWritten.toDouble,
        (tm.shuffleReadMetrics.remoteBytesRead + tm.shuffleReadMetrics.localBytesRead).toDouble,
        (tm.memoryBytesSpilled + tm.diskBytesSpilled).toDouble, si.numTasks, 1)
    // a stage belongs to the latest still-open job that lists it
    jobs.reverseIterator.find(j => j.stageIds.contains(si.stageId))
      .foreach(j => j.stats = j.stats + st)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val r = new SqlRec(s.executionId, s.time.toDouble, s.details)
      sqls += r; sqlById(s.executionId) = r
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlById.get(s.executionId).foreach(_.end = s.time.toDouble)
    }
    case _ =>
  }
}

/** Query-execution half: Catalyst phase times (analysis, optimization,
  * planning) of every successful or failed action. */
final class PlanRecorder extends QueryExecutionListener {
  /** (epoch ms the planning finished, total phase ms) */
  val plans = ArrayBuffer.empty[(Double, Double)]
  private def rec(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) synchronized {
      plans += ((ph.map(_.endTimeMs).max.toDouble, ph.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
}

/** The tracer: the benchmark's own spans around public calls and rounds,
  * plus (while attached) every Spark SQL execution and job as child spans.
  * Spans stay in memory; [[spans]] assembles the tree when the run ends. */
final class Trace(spark: SparkSession) {
  private val ids = new AtomicInteger(0)
  private val bench = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var sparkRec: SparkRecorder = null
  private var planRec: PlanRecorder = null

  def attached: Boolean = sparkRec != null

  def attach(): Unit = if (!attached) {
    sparkRec = new SparkRecorder
    planRec = new PlanRecorder
    spark.sparkContext.addSparkListener(sparkRec)
    spark.listenerManager.register(planRec)
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkRec)
    spark.listenerManager.unregister(planRec)
  }

  /** Time `f` as a bench span named `name`, attributed to `module`. */
  def span[A](name: String, module: String)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = Clock.nowMs
    try f finally {
      stack = stack.tail
      bench += Span(id, parent, "bench", name, module, "", t0, Clock.nowMs)
    }
  }

  /** A bench span reconstructed after the fact (e.g. a round inside a
    * public call whose per-round durations the call returns). */
  def addSpan(name: String, module: String, parent: Int, start: Double, end: Double): Int = {
    val id = ids.incrementAndGet()
    bench += Span(id, parent, "bench", name, module, "", start, end)
    id
  }

  def benchSpans: Seq[Span] = bench.toSeq

  /** Every span: bench spans, then SQL executions and jobs parented to the
    * innermost bench span covering their start (jobs of an SQL execution
    * under that execution). Jobs without a `graft.*` frame in their own call
    * site (AQE, broadcast and subquery jobs report a thread-pool frame) take
    * the module of their SQL execution. Rebuilt whenever spans were added. */
  def spans: Seq[Span] = view.spans

  private final class View(val spans: Seq[Span], val jobStats: Map[String, StageStats]) {
    val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  }
  private var cached: ((Int, Int, Int), View) = null

  private def view: View = {
    if (attached) org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
    val key = if (sparkRec == null) (bench.size, 0, 0)
      else sparkRec.synchronized((bench.size, sparkRec.sqls.size, sparkRec.jobs.size))
    if (cached == null || cached._1 != key) cached = (key, build())
    cached._2
  }

  private def build(): View = {
    val bs = bench.toSeq
    def innermost(t: Double): Option[Span] = {
      val covering = bs.filter(s => s.start <= t && t <= s.end)
      if (covering.isEmpty) None else Some(covering.minBy(_.dur))
    }
    // no graft frame: an action the benchmark itself called on a plan built
    // by library calls belongs to the module of the bench span around it
    def moduleOf(details: String, t: Double): (String, String) = Attribution.of(details)
      .getOrElse(innermost(t).map(s => (s.module, s.name))
        .getOrElse(if (Attribution.ownFrame(details)) ("perfbench", "") else ("spark", "")))
    val out = ArrayBuffer.empty[Span] ++ bs
    var stats = Map.empty[String, StageStats]
    if (sparkRec != null) sparkRec.synchronized {
      val sqlSpan = scala.collection.mutable.Map.empty[Long, Span]
      sparkRec.sqls.foreach { s =>
        val (m, site) = moduleOf(s.details, s.start)
        val end = if (s.end.isNaN) s.start else s.end
        val sp = Span(Trace.SqlIds + s.id.toInt, innermost(s.start).map(_.id).getOrElse(0), "sql", s"sql-${s.id}",
          m, site, s.start, end)
        sqlSpan(s.id) = sp; out += sp
      }
      sparkRec.jobs.foreach { j =>
        val own = Attribution.of(j.details)
        val sql = sqlSpan.get(j.execId)
        val (m, site) = own.orElse(sql.map(s => (s.module, s.site)))
          .getOrElse(moduleOf(j.details, j.start))
        val end = if (j.end.isNaN) j.start else j.end
        out += Span(Trace.JobIds + j.id, sql.map(_.id).getOrElse(innermost(j.start).map(_.id).getOrElse(0)),
          "job", s"job-${j.id}", m, site, j.start, end)
      }
      stats = sparkRec.jobs.map(j => s"job-${j.id}" -> j.stats).toMap
    }
    new View(out.toSeq, stats)
  }

  def descendants(id: Int): Seq[Span] = {
    val v = view
    def go(i: Int): Seq[Span] = {
      val direct = v.children.getOrElse(i, Nil)
      direct ++ direct.flatMap(c => go(c.id))
    }
    go(id)
  }

  def statsOf(jobs: Seq[Span]): StageStats = {
    val st = view.jobStats
    jobs.flatMap(j => st.get(j.name)).foldLeft(StageStats())(_ + _)
  }

  /** Catalyst phase ms of the actions that finished planning in [start, end]. */
  def planningMs(start: Double, end: Double): Double =
    if (planRec == null) 0.0
    else planRec.synchronized(planRec.plans.filter { case (t, _) => t >= start && t <= end }.map(_._2).sum)

  /** Self time = span time minus the part its child spans cover. */
  def selfMs(s: Span): Double =
    s.dur - Trace.unionMs(view.children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)

  /** Self time summed per module over `roots` and all their descendants. */
  def selfByModule(roots: Seq[Span]): Seq[(String, Double)] =
    (roots ++ roots.flatMap(r => descendants(r.id))).groupBy(_.module)
      .map { case (m, ss) => m -> ss.map(selfMs).sum }.toSeq.sortBy(-_._2)

  /** Spans as JSON lines, for the trace file written at the end of a run. */
  def jsonLines: Seq[String] = spans.sortBy(_.start).map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "module" -> s.module, "site" -> s.site, "start_ms" -> s.start, "end_ms" -> s.end,
      "self_ms" -> selfMs(s))
  }
}

object Trace {
  /** Id ranges of the listener-derived spans (bench spans count from 1). */
  val SqlIds = 100000000
  val JobIds = 200000000

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val iv = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
