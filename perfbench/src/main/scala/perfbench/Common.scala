package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** Outcome of one timed operation: its wall time, the failed output checks
  * (empty = correct) and the workload-specific samples it produced. */
final case class OpResult(wallS: Double, failures: Seq[String], samples: Map[String, Seq[Double]])

/** Sizes a workload runs at; `tiny` is the smoke test's. */
final case class Scale(name: String) {
  def tiny: Boolean = name == "tiny"
}

/** Everything a workload needs: the session, the run's scratch root inside
  * the checkout, the seed, the sizes and the smoke test's planted defect. */
final class Ctx(val spark: SparkSession, val root: String, val seed: Long,
    val scale: Scale, val plant: Option[String]) {

  /** An absolute directory under the run root, wiped first. Absolute on
    * purpose: the crawl's filter GC compares inventory paths with listed
    * ones, which only agree for absolute state dirs. */
  def freshDir(name: String): String = {
    val d = new File(root, name).getAbsoluteFile
    Fs.rm(d)
    d.mkdirs()
    d.getPath
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")
}

object Fs {
  def rm(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** Bytes and regular-file count under `dir`, ignoring checksum sidecars. */
  def usage(dir: String): (Long, Int) = {
    var bytes = 0L
    var files = 0
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) {
        bytes += f.length()
        if (!f.getName.endsWith(".crc")) files += 1
      }
    walk(new File(dir))
    (bytes, files)
  }

  def copy(src: String, dst: String): Unit = {
    val s = new File(src).toPath
    val d = new File(dst).toPath
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally walk.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** A workload: set up once (timed as `setup_s`), then timed operations
  * until the run's seconds are spent; the traced run adds layer metrics. */
trait Workload {
  /** Input generation; `rep` numbers the repetitions (setup is timed as a
    * median over several). Returns a short description of the input sizes. */
  def generate(ctx: Ctx, rep: Int): Map[String, Any]

  /** Untimed-by-op work that belongs to set-up (e.g. JIT/codegen warm-up). */
  def warmUp(ctx: Ctx): Unit

  /** One timed operation, checked. `trace` is set in the traced run. */
  def op(ctx: Ctx, rep: Int, trace: Option[Trace]): OpResult

  /** The untraced operation the traced run compares against (the tracing
    * overhead is the difference of the two): the second of two, so that
    * both sides run warm. */
  def baseline(ctx: Ctx): OpResult = {
    val first = op(ctx, 0, None)
    val second = op(ctx, 0, None)
    second.copy(failures = first.failures ++ second.failures)
  }

  /** Checks that need every operation's output; the default checks each
    * operation as it runs. */
  def verify(ctx: Ctx, ops: Seq[OpResult]): Seq[OpResult] = ops

  /** End-to-end metrics (all but `setup_s`) from the run's operations. */
  def endToEnd(ctx: Ctx, ops: Seq[OpResult]): Seq[Metric]

  /** Per-layer metrics from the traced operation plus direct layer calls. */
  def perLayer(ctx: Ctx, traced: OpResult, trace: Trace): Seq[Metric]

  /** Human-readable lines about the traced run (round breakdowns etc.). */
  def traceReport(ctx: Ctx, trace: Trace): Seq[String] = Nil
}
