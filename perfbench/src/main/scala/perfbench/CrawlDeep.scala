package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.crawl.{FrontierRound, SeenFilter}
import graft.io.TableIO
import graft.model.{CrawlConfig, CrawlStatus}
import graft.robots.Robots
import graft.synth.Synth

/** The persistent crawl over `Synth.chainGraph`: every host is one chain, so
  * a round carries one url per host and the per-round fixed cost (planning,
  * job dispatch, TableIO listing and commit, compaction, cuckoo deltas)
  * dominates. Each operation crawls half the chain, stops, and resumes to
  * the end with the cuckoo frontier gate on. */
final class CrawlDeep extends Workload {
  private def hosts(ctx: Ctx) = if (ctx.scale.tiny) 3 else 16
  private val chain = 2
  private var in: Crawl.Input = _
  private var ref: String = ""

  // captured by the traced operation for the layer metrics
  private var tracedRounds: Seq[Int] = Nil
  private var tracedCalls: Seq[Crawl.Call] = Nil
  private var tracedFs = LocalFs.Snap(0, 0, 0, 0)
  private var tracedState = ""
  /** A checkpoint with a non-empty frontier, for the direct round. */
  private var midState = ""

  private def cfg(ctx: Ctx): CrawlConfig = CrawlConfig(maxDepth = chain + 1,
    hostQuotaPerRound = 4, seenCompactEvery = 2, useCuckooFrontier = true,
    runId = "perfbench-deep", maxRounds = chain + 8)

  /** `Synth.chainGraph` with seed-chosen host names. */
  private def graph(ctx: Ctx): Synth.Graph = {
    val g = Synth.chainGraph(hosts(ctx), chain)
    // same-length names for every seed, so on-disk sizes do not depend on it
    val off = 1000000 + (Synth.mix(ctx.seed, 99) % 90000).toInt * 100
    val rename = (0 until hosts(ctx)).map(h => Synth.host(h) -> Synth.host(h + off)).toMap
    def re(s: String) = rename.foldLeft(s) { case (a, (k, v)) => a.replace(s"//$k/", s"//$v/") }
    Synth.Graph(g.pages.map(p => p.copy(url = re(p.url))),
      g.robots.map(r => r.copy(host = rename(r.host))), g.redirects, g.seeds.map(re))
  }

  def generate(ctx: Ctx, rep: Int): Map[String, Any] = {
    val g = graph(ctx)
    in = Crawl.write(ctx, g, s"input-$rep")
    Map("hosts" -> hosts(ctx), "chain" -> chain, "pages" -> g.pages.size)
  }

  /** No warm-up: each untraced run times one crawl from a cold JVM, as a
    * launched crawl job runs; the run length would not fit a second crawl. */
  def warmUp(ctx: Ctx): Unit = ()

  /** The traced run's untraced side: the uninterrupted crawl of the same
    * input first (its digest is what every stopped-and-resumed crawl must
    * reproduce; it also warms the JVM), then one untraced operation. */
  override def baseline(ctx: Ctx): OpResult = {
    val state = ctx.freshDir("reference-state")
    Crawl.run(ctx, in, cfg(ctx), state, resume = false, None, "reference")
    val res = new TableIO(ctx.spark, state).readResults()
    ref = Crawl.digest(res)
    val o = op(ctx, 0, None)
    o.copy(failures = Crawl.check(res, in.pages, cfg(ctx)) ++ chainCheck(ctx, res) ++ o.failures)
  }

  private def results(ctx: Ctx, stateDir: String): DataFrame = {
    val r = new TableIO(ctx.spark, stateDir).readResults()
    if (ctx.plant.contains("quota")) Crawl.plantQuota(r, cfg(ctx).hostQuotaPerRound) else r
  }

  /** Every host's chain fetched once, link i at round i and depth i. */
  private def chainCheck(ctx: Ctx, res: DataFrame): Seq[String] = {
    val rx = """https://([^/]+)/c/(\d+)""".r
    val rows = res.select("url", "round", "depth", "crawl_status").collect()
    val bad = rows.count { r =>
      r.getString(0) match {
        case rx(_, i) => !(r.getInt(1) == i.toInt && r.getInt(2) == i.toInt &&
          r.getString(3) == CrawlStatus.Fetched)
        case _ => true
      }
    }
    val expected = hosts(ctx) * chain
    Seq(
      (bad > 0, s"$bad result rows off the chain schedule"),
      (rows.length != expected, s"${rows.length} result rows, the chain expects $expected")
    ).collect { case (true, m) => m }
  }

  def op(ctx: Ctx, rep: Int, trace: Option[Trace]): OpResult = {
    val c = cfg(ctx)
    val state = ctx.freshDir("state")
    val fs0 = LocalFs.snap()
    val first = Crawl.run(ctx, in, c.copy(maxRounds = chain / 2), state, resume = false,
      trace, "crawljob.run")
    val fs1 = LocalFs.snap()
    if (trace.isDefined) {
      midState = ctx.freshDir("mid-state")
      Fs.copy(state, midState)
    }
    val fs2 = LocalFs.snap()
    val second = Crawl.run(ctx, in, c, state, resume = true, trace, "crawljob.resume")
    val fs3 = LocalFs.snap()
    val res = results(ctx, state)
    // the uninterrupted reference crawl runs in the traced run only
    lazy val d = Crawl.digest(res)
    val failures = Crawl.check(res, in.pages, c) ++ chainCheck(ctx, res) ++
      (if (ref.nonEmpty && d != ref) Seq(s"resumed digest $d differs from the uninterrupted crawl's $ref")
       else Nil)

    val calls = Seq(first, second)
    val rounds = calls.flatMap { call =>
      val firstRound = call.res.rounds - call.res.roundSecs.size
      call.res.roundSecs.zipWithIndex.map { case (s, i) => (firstRound + i, s) }
    }
    val agg = res.agg(count(lit(1)),
      sum(when(col("crawl_status") === CrawlStatus.Fetched, 1L).otherwise(0L))).collect()(0)
    trace.foreach { t =>
      tracedCalls = calls
      tracedFs = (fs1 - fs0) + (fs3 - fs2)
      tracedState = state
      tracedRounds = calls.flatMap(k => Crawl.addRoundSpans(ctx, t, k, state,
        k.res.rounds - k.res.roundSecs.size))
    }
    OpResult(first.wallS + second.wallS, failures, Map(
      "fetched" -> Seq(agg.getLong(1).toDouble),
      "scheduled" -> Seq(agg.getLong(0).toDouble),
      "run_s" -> Seq(first.wallS + second.wallS),
      "round_s" -> rounds.map(_._2),
      "compaction_s" -> rounds.collect { case (r, s) if (r + 1) % c.seenCompactEvery == 0 => s },
      "resume_s" -> Seq(second.wallS - second.res.roundSecs.sum),
      "state_mb" -> Seq(Fs.usage(state)._1 / 1e6)))
  }

  def endToEnd(ctx: Ctx, ops: Seq[OpResult]): Seq[Metric] = {
    def all(k: String) = ops.flatMap(_.samples(k))
    def perOp(f: OpResult => Double) = Stats.median(ops.map(f))
    def one(o: OpResult, k: String) = o.samples(k).head
    Seq(
      Metric("fetched_per_s", perOp(o => one(o, "fetched") / one(o, "run_s")), "1/s"),
      Metric("round_p50_s", Stats.median(all("round_s")), "s"),
      Metric("compaction_round_s", Stats.median(all("compaction_s")), "s"),
      Metric("resume_s", Stats.median(all("resume_s")), "s"),
      Metric("urls_per_s", perOp(o => one(o, "scheduled") / o.samples("round_s").sum), "1/s"),
      Metric("state_mb", Stats.median(all("state_mb")), "MB"))
  }

  override def traceReport(ctx: Ctx, t: Trace): Seq[String] =
    Crawl.roundLines("crawl_deep", Crawl.roundTraces(t, tracedRounds))

  def perLayer(ctx: Ctx, op: OpResult, t: Trace): Seq[Metric] = {
    val spark = ctx.spark
    val c = cfg(ctx)
    val rts = Crawl.roundTraces(t, tracedRounds)
    val byId = t.spans.map(s => s.id -> s).toMap
    val rounds = tracedRounds.map(byId)
    def siteS(r: Span, prefix: String) = {
      val js = t.descendants(r.id).filter(j => j.kind == "job" && j.site.startsWith(prefix))
      Trace.unionMs(js.map(j => (j.start, j.end)), r.start, r.end) / 1000
    }
    // per round: Spark time of the Bloom merge, the cuckoo delta, compaction
    val mergeS = Stats.median(rounds.map(siteS(_, "SeenFilter.writeMergedBlooms")))
    val deltaS = Stats.median(rounds.map(r => siteS(r, "FrontierFilter.")))
    val compactS = Stats.median(rounds.map(r => siteS(r, "TableIO.compact")))
    val engine = Layers.sparkMetrics(t, tracedCalls.map(k => byId(k.spanId)),
      tracedCalls.map(_.wallS).sum, Runtime.getRuntime.availableProcessors())
    val io = Layers.tableIo(tracedFs, rounds.size, Seq(tracedState))
    val direct = directRound(ctx, t, c)

    val state = new TableIO(spark, tracedState)
    val urls = state.readResults().select("url").collect().map(_.getString(0)).toIndexedSeq
    val last = state.lastCommittedRound()
    val knownNew = (0 until 20000).map(i => s"https://never-${ctx.seed}.test/x/$i")
    val bloom = Layers.bloom(spark, state.bloomsDir(last), c.seenBuckets, knownNew, urls)
    val cuckoo = Layers.cuckooFiles(state.cuckooDir(last))
    // kernels: the chain's own urls, plus synthesized link-rich pages of the
    // same seed for extraction and robots (chain pages hold one link each)
    val g = Synth.graph(ctx.seed, if (ctx.scale.tiny) 10 else 40, 20, 4)
    val pages = g.pages.filter(_.html != null).map(Layers.Page.of)
    val kurls = (urls ++ g.pages.map(_.url)).take(20000)
    val kernels = Layers.kernels(pages, IndexedSeq.empty,
      g.robots.map(r => Robots.fromStatus(r.status, r.body)), kurls,
      Layers.hashed(spark, kurls, 1).map(_._2))
    Crawl.crawlJobMetrics(rts) ++ direct ++
      Seq(Metric("seenfilter.merge_s", mergeS, "s")) ++ bloom ++
      Seq(Metric("cuckoo.delta_s", deltaS, "s")) ++ cuckoo ++ kernels ++ io ++
      Seq(Metric("tableio.compact_s", compactS, "s")) ++ engine
  }

  /** One round planned by `FrontierRound.run` over the mid-crawl checkpoint
    * and executed with a noop sink. */
  private def directRound(ctx: Ctx, t: Trace, c: CrawlConfig): Seq[Metric] = {
    val spark = ctx.spark
    val io = new TableIO(spark, midState)
    val last = io.lastCommittedRound()
    val frontier = io.readFrontier(last)
    val seen = io.readSeen(last).map(_.select("url")).get
    val robotsCache = FrontierRound.buildRobotsCache(in.robots).localCheckpoint(true)
    val resolved = FrontierRound.resolveRedirects(spark, in.redirects, c)
    val blooms = SeenFilter.broadcastFileBlooms(spark, c.seenBuckets, io.bloomsDir(last))
    val n0 = t.benchSpans.size
    val (entered, links) = t.span("frontierround.run", "FrontierRound") {
      val out = FrontierRound.run(spark, last + 1, frontier, seen, in.pages, robotsCache,
        resolved, c, Some(blooms))
      out.results.write.format("noop").mode("overwrite").save()
      out.newFrontier.write.format("noop").mode("overwrite").save()
      val e = out.entered.count()
      val l = out.results.filter(col("n_links") >= 0).agg(sum(col("n_links"))).collect()(0)
      out.unpersist()
      (e, if (l.isNullAt(0)) 0L else l.getLong(0))
    }
    val span = t.benchSpans.drop(n0).find(_.name == "frontierround.run").get
    val st = t.statsOf(t.descendants(span.id).filter(_.kind == "job"))
    robotsCache.unpersist(); resolved.unpersist(); blooms.unpersist(false)
    Seq(Metric("frontierround.round_exec_s", span.dur / 1000, "s"),
      Metric("frontierround.enqueue_yield", if (links > 0) entered.toDouble / links else 0.0, "ratio"),
      Metric("frontierround.shuffle_mb", st.shuffleWriteB / 1e6, "MB"))
  }
}
