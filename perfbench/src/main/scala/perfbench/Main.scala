package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by perfbench/run.py):
  *
  *   Main --workload <crawl_deep|frontier_schedule> --seed <n>
  *        --seconds <s> --trace <0|1> --root <dir> [--scale tiny]
  *        [--plant quota] [--source <digest>]
  *
  * Untraced (`--trace 0`): set up, then run checked operations until the
  * seconds are spent, and report the end-to-end metrics. Traced
  * (`--trace 1`): one untraced and one traced operation, then the layer
  * metrics; the difference of the two operations is the tracing overhead.
  * The last stdout line is the result object.
  */
object Main {
  val workloads: Map[String, () => Workload] = Map(
    "crawl_deep" -> (() => new CrawlDeep),
    "frontier_schedule" -> (() => new FrontierSchedule))

  private def memTotalKb: Long = {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().collectFirst {
      case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L) finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = a.getOrElse("workload", "")
    val factory = workloads.getOrElse(name, {
      System.err.println(s"unknown workload '$name' (known: ${workloads.keys.toSeq.sorted.mkString(", ")})")
      sys.exit(2)
    })
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val root = new File(a("root")).getAbsolutePath
    val scale = Scale(a.getOrElse("scale", "full"))
    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val b = SparkSession.builder().appName(s"perfbench-$name").master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000
    val ctx = new Ctx(spark, root, seed, scale, a.get("plant"))
    val w = factory()

    // set-up: session, then input generation (repeated, median), warm-up
    val gens = (0 until (if (scale.tiny) 1 else 3)).map(rep => Stats.time(w.generate(ctx, rep)))
    val (_, warmS) = Stats.time(w.warmUp(ctx))
    val setupS = sessionS + Stats.median(gens.map(_._2)) + warmS
    ctx.log(f"set-up: session $sessionS%.2fs, generate ${gens.map(g => f"${g._2}%.2f").mkString("/")}s, warm-up $warmS%.2fs")

    // an operation that throws is a failed operation, not a failed run
    def attempt(f: => OpResult): OpResult =
      try f
      catch { case NonFatal(e) =>
        e.printStackTrace()
        OpResult(Double.NaN, Seq(s"threw ${e.getClass.getName}: ${e.getMessage}"), Map.empty)
      }

    val trace = new Trace(spark)
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    var layer = Seq.empty[Metric]
    var report = Seq.empty[String]
    if (!traced) {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      do {
        ops += attempt(w.op(ctx, ops.size, None))
        ctx.log(f"op ${ops.size}: ${ops.last.wallS}%.2fs")
      } while (System.nanoTime() < deadline)
    } else {
      ops += attempt(w.baseline(ctx))
      trace.attach()
      Layers.resetPeakHeap()
      ops += attempt(w.op(ctx, 1, Some(trace)))
      try {
        if (ops.last.failures.isEmpty) {
          layer = w.perLayer(ctx, ops.last, trace) :+
            Metric("trace.overhead_s", ops(1).wallS - ops(0).wallS, "s")
          report = w.traceReport(ctx, trace)
        }
      } finally trace.detach()
    }
    val checked = w.verify(ctx, ops.toSeq)
    val e2e = if (traced) Nil else {
      val good = checked.filter(_.failures.isEmpty)
      if (good.isEmpty) Nil else Metric("setup_s", setupS, "s") +: w.endToEnd(ctx, good)
    }
    val failed = checked.count(_.failures.nonEmpty)
    checked.zipWithIndex.foreach { case (o, i) =>
      o.failures.foreach(f => ctx.log(s"op $i FAILED: $f"))
    }

    val stamp = Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "scale" -> scale.name, "nproc" -> cores, "mem_total_kb" -> memTotalKb,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "source" -> a.getOrElse("source", "unknown"), "master" -> master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "input" -> gens.last._1, "ops" -> ops.size,
      "op_wall_s" -> ops.map(_.wallS))
    println(s"""{"stamp":$stamp}""")

    if (traced) {
      val dir = new File(root, "trace")
      dir.mkdirs()
      val f = new File(dir, s"$name-seed$seed-spans.jsonl")
      val pw = new PrintWriter(f, "UTF-8")
      try trace.jsonLines.foreach(pw.println) finally pw.close()
      val top = trace.selfByModule(trace.benchSpans.filter(_.parent == 0))
      println(Json.obj("trace_spans_file" -> f.getPath, "spans" -> trace.spans.size))
      println(Json.obj("trace_top_self_s" -> top.take(10).map { case (m, ms) => Map(m -> ms / 1000) }))
      report.foreach(println)
      println(Json.obj("trace_overhead_s" -> (ops(1).wallS - ops(0).wallS),
        "untraced_op_s" -> ops(0).wallS, "traced_op_s" -> ops(1).wallS))
    }

    val metrics = (if (traced) layer else e2e).map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit))
    spark.stop()
    println(Json.obj("correct" -> (failed == 0 && metrics.nonEmpty), "attempted" -> ops.size,
      "failed" -> failed, "metrics" -> metrics.toMap))
  }
}
