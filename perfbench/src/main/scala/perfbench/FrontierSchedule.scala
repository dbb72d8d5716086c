package perfbench

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.crawl.{FrontierRound, SeenFilter}
import graft.io.TableIO
import graft.model.CrawlConfig
import graft.robots.Robots
import graft.synth.Synth

/** Read-only scheduling at scale: a skewed frontier of dirty raw uris (one
  * mega host holds a fifth of it) and a seen set covering a third, with
  * file Blooms built at set-up. One operation reopens that state and runs
  * one schedule round: canonicalize, hash, Bloom anti-join against seen,
  * salted per-host top-k, one action. */
final class FrontierSchedule extends Workload {
  private def frontierN(ctx: Ctx): Long = if (ctx.scale.tiny) 20000L else 200000L
  private def hosts(ctx: Ctx): Int = if (ctx.scale.tiny) 200 else 2000
  private val quota = 4
  private val buckets = CrawlConfig().seenBuckets
  // the mega host holds a fifth of the frontier: over the threshold, so the
  // salted two-phase top-k runs
  private def cfg(ctx: Ctx) = CrawlConfig(hostQuotaPerRound = quota,
    megaHostThreshold = frontierN(ctx) / 10)

  private var dir: String = ""
  private def fdir = s"$dir/frontier"
  private def sdir = s"$dir/seen"
  private def bdir = s"$dir/blooms"
  private var bloomCap = 0L

  // traced-operation state for the layer metrics
  private var tracedSpans: Seq[Int] = Nil
  private var tracedFs = LocalFs.Snap(0, 0, 0, 0)

  /** Frontier rows from spark.range: pure column expressions of (seed, id),
    * so the same seed gives the same rows at any parallelism. */
  def generate(ctx: Ctx, rep: Int): Map[String, Any] = {
    val spark = ctx.spark
    val seed = ctx.seed
    dir = ctx.freshDir(s"input-$rep")
    val hostId = when(pmod(xxhash64(lit(seed), col("id")), lit(5L)) === 0, lit(0L))
      .otherwise(pmod(xxhash64(lit(seed + 1), col("id")), lit(hosts(ctx).toLong)))
    val tag = f"s${seed & 0xffff}%05d"
    val base = spark.range(frontierN(ctx)).withColumn("host_id", hostId)
      .withColumn("host", concat(lit("host"), col("host_id").cast("string"), lit(".test")))
    base.select(col("id"), col("host"),
        // dirty raw uri: duplicate slashes and a dot segment
        concat(lit(s"a//b/../$tag/"), col("id").cast("string")).as("raw_uri"),
        pmod(xxhash64(lit(seed + 2), col("id")), lit(4L)).cast("int").as("depth"),
        pmod(xxhash64(lit(seed + 3), col("id")), lit(1000000L)).cast("int").as("rank"))
      .write.parquet(fdir)
    // a third of the frontier, in canonical form
    base.filter(pmod(xxhash64(lit(seed + 4), col("id")), lit(3L)) === 0)
      .select(concat(lit("https://"), col("host"), lit(s"/a/$tag/"), col("id").cast("string")).as("url"))
      .write.parquet(sdir)
    val seen = spark.read.parquet(sdir)
    val seenN = seen.count()
    bloomCap = SeenFilter.sizedFor(CrawlConfig().bloomExpectedPerBucket, seenN / buckets)
    SeenFilter.writeMergedBlooms(seen, buckets, bloomCap, None, bdir)
    Map("frontier_urls" -> frontierN(ctx), "hosts" -> hosts(ctx), "seen_urls" -> seenN,
      "mega_host_share" -> 0.2, "bloom_buckets" -> buckets)
  }

  private def canonical(frontier: DataFrame): DataFrame = frontier.select(
    FrontierRound.canonUdf(lit("https"), col("raw_uri"), col("host"),
      concat(lit("https://"), col("host"), lit("/"))).as("url"),
    col("raw_uri").as("raw_url"), col("host"), col("depth"),
    FrontierRound.prioChildUdf(lit(Array.emptyByteArray), col("rank")).as("priority"))
    .withColumn("url_hash", xxhash64(col("url")))

  /** The timed round: returns (fresh rows, scheduled rows). */
  private def round(ctx: Ctx, frontier: DataFrame, seen: DataFrame,
      blooms: Broadcast[SeenFilter.BloomProbe]): (Long, Long) = {
    val c = cfg(ctx)
    val mega = FrontierRound.findMegaHostsDf(frontier, c.megaHostThreshold)
    val fresh = SeenFilter.bloomAntiJoin(canonical(frontier), seen, blooms)
    val flagged0 = FrontierRound.scheduleFlagged(fresh, c, mega)
    val flagged = if (!ctx.plant.contains("quota")) flagged0 else {
      // planted defect: quota+1 extra scheduled rows on one host
      val one = flagged0.filter(col("is_scheduled")).limit(1)
      flagged0.unionByName(one.crossJoin(ctx.spark.range(quota + 1).toDF("__i")).drop("__i"))
    }
    val r = flagged.agg(count(lit(1)), sum(when(col("is_scheduled"), 1L).otherwise(0L))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private final case class Opened(frontier: DataFrame, seen: DataFrame,
      blooms: Broadcast[SeenFilter.BloomProbe], inputN: Long)

  /** Reopen the persisted state, as a restarted scheduler does. */
  private def reopen(ctx: Ctx, bloomDir: String): Opened = {
    val spark = ctx.spark
    val f = spark.read.parquet(fdir)
    Opened(f, spark.read.parquet(sdir).select("url"),
      SeenFilter.broadcastFileBlooms(spark, buckets, bloomDir), f.count())
  }

  /** Two full rounds: a JVM's first rounds run several times slower than a
    * running scheduler's, and a run measures the latter. */
  def warmUp(ctx: Ctx): Unit = (0 until 2).foreach { _ =>
    val o = reopen(ctx, bdir)
    round(ctx, o.frontier, o.seen, o.blooms)
    o.blooms.unpersist(false)
  }

  def op(ctx: Ctx, rep: Int, trace: Option[Trace]): OpResult = {
    def sp[A](name: String)(f: => A): A = trace.map(_.span(name, "FrontierRound")(f)).getOrElse(f)
    val fs0 = LocalFs.snap()
    val (o, reopenS) = Stats.time(sp("schedule.reopen")(reopen(ctx, bdir)))
    val ((freshN, scheduled), roundS) = Stats.time(sp("schedule.round")(round(ctx, o.frontier, o.seen, o.blooms)))
    o.blooms.unpersist(false)
    trace.foreach { t =>
      tracedFs = LocalFs.snap() - fs0
      tracedSpans = t.benchSpans.filter(s => s.name.startsWith("schedule.")).map(_.id)
    }
    OpResult(reopenS + roundS, Nil, Map(
      "round_s" -> Seq(roundS), "resume_s" -> Seq(reopenS), "input" -> Seq(o.inputN.toDouble),
      "fresh" -> Seq(freshN.toDouble), "scheduled" -> Seq(scheduled.toDouble)))
  }

  /** The expected answer, computed once with a plain left-anti join; every
    * operation's Bloom-path rows and scheduled count must match it. */
  private def expected(ctx: Ctx): (Long, Long) = {
    val spark = ctx.spark
    val fresh = canonical(spark.read.parquet(fdir))
      .join(spark.read.parquet(sdir).select("url"), Seq("url"), "left_anti")
    val perHost = fresh.groupBy("host").count()
      .agg(sum(col("count")), sum(least(col("count"), lit(quota.toLong)))).collect()(0)
    (perHost.getLong(0), perHost.getLong(1))
  }

  override def verify(ctx: Ctx, ops: Seq[OpResult]): Seq[OpResult] = {
    val (freshN, sched) = expected(ctx)
    ops.map { o => if (o.samples.isEmpty) o else {
      val f = o.samples("fresh").head.toLong
      val s = o.samples("scheduled").head.toLong
      o.copy(failures = o.failures ++ Seq(
        (f != freshN, s"bloom-path rows $f != plain left_anti rows $freshN"),
        (s != sched, s"scheduled $s != sum over hosts of min(quota, fresh) = $sched")
      ).collect { case (true, m) => m })
    }}
  }

  def endToEnd(ctx: Ctx, ops: Seq[OpResult]): Seq[Metric] = {
    def per(f: OpResult => Double) = Stats.median(ops.map(f))
    def one(o: OpResult, k: String) = o.samples(k).head
    // a round that first rebuilds the seen Blooms from the whole seen table,
    // the work a crawl pays when the seen load outgrows the filters; the
    // median of three
    val compactionS = Stats.median((0 until 3).map { i =>
      val rebuildDir = ctx.freshDir(s"blooms-rebuilt-$i")
      Stats.time {
        SeenFilter.writeMergedBlooms(ctx.spark.read.parquet(sdir), buckets, bloomCap, None, rebuildDir)
        val o = reopen(ctx, rebuildDir)
        round(ctx, o.frontier, o.seen, o.blooms)
        o.blooms.unpersist(false)
      }._2
    })
    val stateB = Seq(fdir, sdir, bdir).map(Fs.usage(_)._1).sum
    Seq(
      Metric("fetched_per_s", per(o => one(o, "scheduled") / one(o, "round_s")), "1/s"),
      Metric("round_p50_s", per(o => one(o, "round_s")), "s"),
      Metric("compaction_round_s", compactionS, "s"),
      Metric("resume_s", per(o => one(o, "resume_s")), "s"),
      Metric("urls_per_s", per(o => one(o, "input") / one(o, "round_s")), "1/s"),
      Metric("state_mb", stateB / 1e6, "MB"))
  }

  override def traceReport(ctx: Ctx, t: Trace): Seq[String] =
    Crawl.roundLines("frontier_schedule", Crawl.roundTraces(t, tracedSpans))

  def perLayer(ctx: Ctx, op: OpResult, t: Trace): Seq[Metric] = {
    val spark = ctx.spark
    val c = cfg(ctx)
    val byId = t.spans.map(s => s.id -> s).toMap
    val roots = tracedSpans.map(byId)
    val rts = Crawl.roundTraces(t, tracedSpans.filter(id => byId(id).name == "schedule.round"))
    val engine = Layers.sparkMetrics(t, roots, roots.map(_.dur).sum / 1000,
      Runtime.getRuntime.availableProcessors())
    val io = Layers.tableIo(tracedFs, rts.size, Seq(fdir, sdir, bdir))

    val frontier = spark.read.parquet(fdir)
    val seen = spark.read.parquet(sdir).select("url")
    val sampleN = if (ctx.scale.tiny) 2000 else 20000
    val canon = canonical(frontier).drop("url_hash").cache()
    val sample = canon.limit(sampleN * 5).cache()
    val urls = sample.select("url").limit(sampleN).collect().map(_.getString(0)).toIndexedSeq

    // direct FrontierRound.run over a slice of the canonical frontier: no
    // pages exist, so every scheduled url ends as a connection error
    val entries = sample.select(col("url"), col("raw_url"), col("host"), lit("https").as("protocol"),
      col("depth"), col("priority"))
    val emptyPages = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.Encoders.product[graft.model.Page].schema)
    val emptyRobots = spark.createDataFrame(Seq.empty[graft.model.RobotsRow])
    val emptyRedirects = spark.createDataFrame(Seq.empty[graft.model.RedirectRow])
    val robotsCache = FrontierRound.buildRobotsCache(emptyRobots).localCheckpoint(true)
    val resolved = FrontierRound.resolveRedirects(spark, emptyRedirects, c)
    val blooms = SeenFilter.broadcastFileBlooms(spark, buckets, bdir)
    val n0 = t.benchSpans.size
    t.span("frontierround.run", "FrontierRound") {
      val out = FrontierRound.run(spark, 1, entries, seen, emptyPages, robotsCache, resolved, c, Some(blooms))
      out.results.write.format("noop").mode("overwrite").save()
      out.newFrontier.write.format("noop").mode("overwrite").save()
      out.unpersist()
    }
    val dspan = t.benchSpans.drop(n0).find(_.name == "frontierround.run").get
    val dstats = t.statsOf(t.descendants(dspan.id).filter(_.kind == "job"))
    robotsCache.unpersist(); resolved.unpersist()

    // Bloom layer: a round-sized merge onto the set-up filters, then probes
    val merged = ctx.freshDir("layer-blooms")
    val (_, mergeRoundS) = Stats.time(SeenFilter.writeMergedBlooms(
      sample.select("url").limit(sampleN), buckets, bloomCap, Some(bdir), merged))
    val knownNew = (0 until sampleN).map(i => s"https://never-${ctx.seed}.test/x/$i")
    val bloom = Layers.bloom(spark, bdir, buckets, knownNew, urls)
    val cuckoo = Layers.cuckooDelta(spark, ctx.freshDir("layer-cuckoo"), sample.select("url"),
      canon.select("url").except(sample.select("url")).limit(sampleN), sample.select("url").limit(sampleN),
      buckets, SeenFilter.sizedFor(c.cuckooExpectedPerBucket, sampleN * 5L / buckets))

    // kernels: canonicalization over the frontier's own raw uris; link
    // extraction and robots over synthesized pages of the same seed (the
    // schedule has no page bodies of its own)
    val raw = frontier.select("raw_uri", "host").limit(sampleN).collect().map { r =>
      ("https", r.getString(0), r.getString(1), s"https://${r.getString(1)}/")
    }.toIndexedSeq
    val g = Synth.graph(ctx.seed, if (ctx.scale.tiny) 10 else 40, 20, 4)
    val pages = g.pages.filter(_.html != null).map(Layers.Page.of)
    val hashes = Layers.hashed(spark, urls, 1).map(_._2)
    val kernels = Layers.kernels(pages, raw, g.robots.map(r => Robots.fromStatus(r.status, r.body)),
      urls, hashes)

    // TableIO compaction over two seen slices of the sample
    val tdir = ctx.freshDir("layer-tableio")
    val tio = new TableIO(spark, tdir)
    val slices = sample.select(col("url"), SeenFilter.bucketOf(col("url"), buckets).as("bucket"))
    tio.writeSeen(0, slices.filter(pmod(xxhash64(col("url")), lit(2L)) === 0))
    tio.writeSeen(1, slices.filter(pmod(xxhash64(col("url")), lit(2L)) === 1))
    val (_, compactS) = Stats.time(tio.compactSeen(1))
    blooms.unpersist(false); sample.unpersist(); canon.unpersist()

    Crawl.crawlJobMetrics(rts) ++ Seq(
      Metric("frontierround.round_exec_s", dspan.dur / 1000, "s"),
      Metric("frontierround.enqueue_yield", 0.0, "ratio"),
      Metric("frontierround.shuffle_mb", dstats.shuffleWriteB / 1e6, "MB"),
      Metric("seenfilter.merge_s", mergeRoundS, "s")) ++ bloom ++ cuckoo ++ kernels ++ io ++
      Seq(Metric("tableio.compact_s", compactS, "s")) ++ engine
  }
}
