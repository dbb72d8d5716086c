package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.crawl.CrawlJob
import graft.io.TableIO
import graft.model.{CrawlConfig, CrawlStatus}
import graft.synth.Synth

/** Crawl plumbing: input on disk, one traced or untraced `CrawlJob.run`
  * call, the output checks and the per-round trace. */
object Crawl {

  final case class Input(pages: DataFrame, robots: DataFrame, redirects: DataFrame,
      seeds: Seq[String])

  /** Writes the graph as parquet (the persistent loop's real input) and
    * reads it back. */
  def write(ctx: Ctx, g: Synth.Graph, name: String): Input = {
    val dir = ctx.freshDir(name)
    Synth.write(ctx.spark, g, dir)
    val s = ctx.spark
    Input(s.read.parquet(s"$dir/pages"), s.read.parquet(s"$dir/robots"),
      s.read.parquet(s"$dir/redirects"), g.seeds)
  }

  /** One `CrawlJob.run` call, as a bench span when traced. */
  final case class Call(res: CrawlJob.JobResult, wallS: Double, spanId: Int, end: Double)

  def run(ctx: Ctx, in: Input, cfg: CrawlConfig, stateDir: String, resume: Boolean,
      trace: Option[Trace], label: String): Call = {
    def call() = CrawlJob.run(ctx.spark, in.seeds, in.pages, in.robots, in.redirects,
      cfg, stateDir, resume)
    val t0 = Clock.nowMs
    val res = trace match {
      case Some(t) => t.span(label, "CrawlJob")(call())
      case None => call()
    }
    val t1 = Clock.nowMs
    val id = trace.flatMap(_.benchSpans.lastOption).map(_.id).getOrElse(0)
    Call(res, (t1 - t0) / 1000, id, t1)
  }

  /** Rebuilds the round spans of a traced call from the per-round times it
    * returned. Rounds run back to back and end just before the call reads
    * its results tables, so the loop end is the call end minus that read,
    * which is timed here with the same public calls. */
  def addRoundSpans(ctx: Ctx, t: Trace, c: Call, stateDir: String, firstRound: Int): Seq[Int] = {
    val (_, tailS) = Stats.time {
      val io = new TableIO(ctx.spark, stateDir)
      io.readResults(); io.readMetrics()
    }
    var end = c.end - tailS * 1000
    val spans = c.res.roundSecs.zipWithIndex.reverse.map { case (s, i) =>
      val start = end - s * 1000
      val id = t.addSpan(s"round-${firstRound + i}", "CrawlJob", c.spanId, start, end)
      end = start
      id
    }
    spans.reverse
  }

  // ---------------- output checks ----------------

  /** Planted defect for the smoke test: quota+1 extra HTTP-exchange rows on
    * one (round, host), with fresh urls so only the quota check can trip. */
  def plantQuota(results: DataFrame, quota: Int): DataFrame = {
    val victim = results.filter(col("crawl_status") === CrawlStatus.Fetched).limit(1)
    val extra = victim.crossJoin(results.sparkSession.range(quota + 1).toDF("__i"))
      .withColumn("url", concat(col("url"), lit("#planted-"), col("__i").cast("string")))
      .drop("__i")
    results.unionByName(extra)
  }

  /** The crawl output checks; returns one message per violated check. */
  def check(results: DataFrame, pages: DataFrame, cfg: CrawlConfig): Seq[String] = {
    val http = results.filter(col("crawl_status").isin(CrawlStatus.Fetched, CrawlStatus.ConnectionError))
    val quota = http.groupBy("round", "host").count()
      .filter(col("count") > cfg.hostQuotaPerRound).count()
    val dupUrls = results.groupBy("url").count().filter(col("count") > 1).count()
    val fetched = results.filter(col("crawl_status") === CrawlStatus.Fetched)
    val textBad = fetched.filter(col("text").isNotNull)
      .join(pages.select(col("url").as("p_url"), col("text").as("p_text")),
        col("final_url") === col("p_url"), "left")
      .filter(col("p_url").isNull || !(col("text") === col("p_text"))).count()
    val parsedNoText = fetched.filter(col("n_links") >= 0 && col("text").isNull).count()
    val tooDeep = if (cfg.maxDepth <= 0) 0L
      else fetched.filter(col("depth") >= cfg.maxDepth).count()
    Seq(
      (quota, s"$quota (round, host) pairs exceed quota ${cfg.hostQuotaPerRound}"),
      (dupUrls, s"$dupUrls urls appear more than once"),
      (textBad, s"$textBad fetched rows differ from pages.text at final_url"),
      (parsedNoText, s"$parsedNoText parsed rows lack text"),
      (tooDeep, s"$tooDeep fetches at depth >= ${cfg.maxDepth}")
    ).collect { case (n, msg) if n > 0 => msg }
  }

  /** Digest of the ordered results without run id and timings. */
  def digest(results: DataFrame): String = {
    val cols = results.columns.filterNot(Set("run_id", "fetch_start_ms", "fetch_end_ms"))
    val ordered = CrawlJob.orderedResults(results.select(cols.map(col).toIndexedSeq: _*))
    val rows = ordered.withColumn("priority", hex(col("priority")))
      .select(to_json(struct(col("*"))).as("j"), col("schedule_rank"))
      .collect().sortBy(_.getLong(1)).map(_.getString(0))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  // ---------------- per-round trace ----------------

  final case class RoundTrace(round: String, wallS: Double, sparkS: Double, gapS: Double,
      planningS: Double, sqls: Int, jobs: Int, stages: Int, tasks: Int,
      byModule: Seq[(String, Double)], bySite: Seq[(String, Double)])

  def roundTraces(t: Trace, roundIds: Seq[Int]): Seq[RoundTrace] = {
    val byId = t.spans.map(s => s.id -> s).toMap
    roundIds.map(byId).map { r =>
      val desc = t.descendants(r.id)
      val jobs = desc.filter(_.kind == "job")
      val sqls = desc.filter(_.kind == "sql")
      val sparkMs = Trace.unionMs(jobs.map(j => (j.start, j.end)), r.start, r.end)
      val st = t.statsOf(jobs)
      def unionBy(key: Span => String) = jobs.groupBy(key).map { case (k, js) =>
        k -> Trace.unionMs(js.map(j => (j.start, j.end)), r.start, r.end) / 1000
      }.toSeq.sortBy(-_._2)
      RoundTrace(r.name, r.dur / 1000, sparkMs / 1000, (r.dur - sparkMs) / 1000,
        t.planningMs(r.start, r.end) / 1000, sqls.size, jobs.size, st.stages, st.tasks,
        unionBy(_.module), unionBy(j => if (j.site.isEmpty) j.module else j.site))
    }
  }

  def roundLines(workload: String, rts: Seq[RoundTrace]): Seq[String] = rts.map { r =>
    Json.obj("trace_round" -> workload, "round" -> r.round, "wall_s" -> r.wallS,
      "spark_s" -> r.sparkS, "driver_gap_s" -> r.gapS, "planning_s" -> r.planningS,
      "sql_execs" -> r.sqls, "jobs" -> r.jobs, "stages" -> r.stages, "tasks" -> r.tasks,
      "spark_s_by_module" -> r.byModule.toMap, "spark_s_by_site" -> r.bySite.take(8).toMap)
  }

  /** crawljob.* layer metrics: per-round medians over the traced rounds. */
  def crawlJobMetrics(rts: Seq[RoundTrace]): Seq[Metric] = Seq(
    Metric("crawljob.driver_gap_s", Stats.median(rts.map(_.gapS)), "s"),
    Metric("crawljob.planning_s", Stats.median(rts.map(_.planningS)), "s"),
    Metric("crawljob.sql_execs", Stats.median(rts.map(_.sqls.toDouble)), "count"),
    Metric("crawljob.jobs", Stats.median(rts.map(_.jobs.toDouble)), "count"),
    Metric("crawljob.stages", Stats.median(rts.map(_.stages.toDouble)), "count"),
    Metric("crawljob.tasks", Stats.median(rts.map(_.tasks.toDouble)), "count"))
}
