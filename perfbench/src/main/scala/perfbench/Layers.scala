package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.canon.{LinkExtract, UrlCanon}
import graft.crawl.{CuckooFilter, FilterInventory, FrontierFilter, SeenFilter}
import graft.robots.Robots
import graft.util.SerializableHadoopConf

/** Direct, outside-in measurements of single layers, run in the traced run
  * over the workload's own pages and urls. */
object Layers {

  /** Warmed single-threaded ns per operation: `body(i)` runs one operation
    * on item i; the median of five timed passes over `n` items. */
  def nsPerOp(n: Int)(body: Int => Unit): Double = {
    var i = 0
    val warmUntil = System.nanoTime() + 200000000L
    while (System.nanoTime() < warmUntil) { body(i % n); i += 1 }
    val passes = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var k = 0
      while (k < n) { body(k); k += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    Stats.median(passes)
  }

  final case class Page(protocol: String, host: String, url: String, body: String)
  object Page {
    def of(p: graft.model.Page): Page = Page(UrlCanon.protocolOf(p.url).getOrElse("https"),
      UrlCanon.hostOf(p.url).getOrElse(""), p.url,
      new String(p.html, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Kernel micro-timers: link extraction, url canonicalization, robots
    * checks and the cuckoo filter's insert/probe/delete. */
  def kernels(pages: Seq[Page], rawLinks: IndexedSeq[(String, String, String, String)],
      robots: Seq[Robots.HostRobots], urls: IndexedSeq[String], hashes: Array[Long]): Seq[Metric] = {
    val ps = pages.toIndexedSeq
    var links = 0L
    val extractNs = nsPerOp(ps.size) { i =>
      val p = ps(i); links += LinkExtract.extractLinks(p.protocol, p.host, p.body).size
    }
    val perPage = ps.map(p => LinkExtract.extractLinks(p.protocol, p.host, p.body).size)
    // raw hrefs as the round canonicalizes them: (protocol, raw uri, host,
    // parent url); by default the links of `pages`
    val raw = if (rawLinks.nonEmpty) rawLinks else ps.flatMap(p =>
      LinkExtract.extractLinks(p.protocol, p.host, p.body).map(l => (p.protocol, l.uri, p.host, p.url)))
      .take(20000)
    val canonNs = nsPerOp(raw.size) { i =>
      val (pr, u, h, parent) = raw(i); UrlCanon.formFullUrl(pr, u, h, Some(parent))
    }
    val rs = robots.toIndexedSeq
    val robotsNs = nsPerOp(urls.size) { i =>
      val r = rs(i % rs.size)
      Robots.canAccess(r.disallowAll, r.allowAll, r.body, "tarantula", urls(i))
    }
    val n = hashes.length
    // sized for the whole set, as a frontier bucket is: no saturation
    var cf = CuckooFilter.create(n.toLong)
    val insertNs = nsPerOp(n) { i =>
      if (i == 0) cf = CuckooFilter.create(n.toLong)
      cf.insert(hashes(i))
    }
    val probeNs = nsPerOp(n)(i => cf.mightContain(hashes(i)))
    val deleteNs = nsPerOp(n) { i =>
      if (i == 0) { cf = CuckooFilter.create(n.toLong); hashes.foreach(cf.insert) }
      cf.delete(hashes(i))
    }
    Seq(
      Metric("linkextract.us_per_page", extractNs / 1000, "us"),
      Metric("linkextract.links_per_page", perPage.sum.toDouble / math.max(1, perPage.size), "count"),
      Metric("urlcanon.ns_per_url", canonNs, "ns"),
      Metric("robots.ns_per_check", robotsNs, "ns"),
      Metric("cuckoo.insert_ns", insertNs, "ns"),
      Metric("cuckoo.probe_ns", probeNs, "ns"),
      Metric("cuckoo.delete_ns", deleteNs, "ns"))
  }

  /** Spark's own url hash and bucket, as the filters use them. */
  def hashed(spark: SparkSession, urls: Seq[String], buckets: Int): Array[(Int, Long)] = {
    import spark.implicits._
    urls.toDF("url").select(SeenFilter.bucketOf(col("url"), buckets).cast("int"),
      xxhash64(col("url"))).collect().map(r => (r.getInt(0), r.getLong(1)))
  }

  private def conf(spark: SparkSession) =
    new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)

  /** Bloom layer: false-positive rate on urls known to be new, the share of
    * `candidates` that would take the exact join, and the live filter bytes
    * the inventory of `dir` references. */
  def bloom(spark: SparkSession, dir: String, buckets: Int, knownNew: Seq[String],
      candidates: Seq[String]): Seq[Metric] = {
    val probe = new SeenFilter.FileBlooms(dir, buckets, conf(spark))
    def share(urls: Seq[String]) = {
      val h = hashed(spark, urls, buckets)
      if (h.isEmpty) 0.0 else h.count { case (b, x) => probe.mightContain(b, x) }.toDouble / h.length
    }
    val c = spark.sparkContext.hadoopConfiguration
    val live = FilterInventory.resolve(dir, c, ".bloom").values.toSeq.map(new HPath(_))
    val bytes = live.map(p => p.getFileSystem(c).getFileStatus(p).getLen).sum
    Seq(
      Metric("seenfilter.probe_fpp", share(knownNew), "ratio"),
      Metric("seenfilter.exact_join_share", share(candidates), "ratio"),
      Metric("seenfilter.bloom_mb", bytes / 1e6, "MB"))
  }

  /** Cuckoo layer: one round-sized delta (`inserts` enter, `deletes` leave)
    * applied by `FrontierFilter.writeDeltas` to filters built from `base`. */
  def cuckooDelta(spark: SparkSession, root: String, base: DataFrame, inserts: DataFrame,
      deletes: DataFrame, buckets: Int, cap: Long): Seq[Metric] = {
    val d0 = s"$root/cuckoo-base"
    val d1 = s"$root/cuckoo-delta"
    FrontierFilter.writeFromUrls(base, buckets, cap, d0)
    val (_, s) = Stats.time(FrontierFilter.writeDeltas(inserts, deletes, buckets, cap, d0, d1))
    Metric("cuckoo.delta_s", s, "s") +: cuckooFiles(d1)
  }

  /** Dead (saturated, probe-everything) buckets of a cuckoo filter dir. */
  def cuckooFiles(dir: String): Seq[Metric] = {
    val dead = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".dead"))
    Seq(Metric("cuckoo.dead_buckets", dead.toDouble, "count"))
  }

  /** Shared Spark engine over the traced operation's jobs. */
  def sparkMetrics(t: Trace, roots: Seq[Span], wallS: Double, cores: Int): Seq[Metric] = {
    val jobs = roots.flatMap(r => t.descendants(r.id)).filter(_.kind == "job")
    val st = t.statsOf(jobs)
    Seq(
      Metric("spark.executor_cpu_s", st.cpuMs / 1000, "s"),
      Metric("spark.cpu_util", if (wallS > 0) st.cpuMs / 1000 / (wallS * cores) else 0.0, "ratio"),
      Metric("spark.gc_s", st.gcMs / 1000, "s"),
      Metric("spark.shuffle_write_mb", st.shuffleWriteB / 1e6, "MB"),
      Metric("spark.shuffle_read_mb", st.shuffleReadB / 1e6, "MB"),
      Metric("spark.spill_mb", st.spillB / 1e6, "MB"),
      Metric("jvm.peak_heap_mb", peakHeapMb(), "MB"))
  }

  def resetPeakHeap(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def peakHeapMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1e6

  /** Table I/O per round from the filesystem counters taken around the
    * traced operation. */
  def tableIo(d: LocalFs.Snap, rounds: Int, stateDirs: Seq[String]): Seq[Metric] = {
    val r = math.max(rounds, 1).toDouble
    Seq(
      Metric("tableio.write_mb", d.writeB / 1e6 / r, "MB"),
      Metric("tableio.read_mb", d.readB / 1e6 / r, "MB"),
      Metric("tableio.list_ops", d.lists / r, "count"),
      Metric("tableio.files_created", d.creates / r, "count"),
      Metric("tableio.state_files", stateDirs.map(Fs.usage(_)._2).sum.toDouble, "count"))
  }

}
