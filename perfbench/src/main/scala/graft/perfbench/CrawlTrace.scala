package graft.perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.crawl.CrawlSession
import graft.extract.Extractor
import graft.frontier.{Politeness, SeenSet, SnapshotTable}
import graft.functions.SpanFieldColumns
import graft.model._

/** The traced crawl: one more repetition of the workload's fixed crawl with
  * the [[Tracer]] listener on. Each `runRound` is a span; after it, the
  * round's layer calls are replayed on the round's own inputs (frontier and
  * seen read at the round's parent versions), each input persisted first and
  * each call forced into a noop sink inside its own child span. Commits
  * replay into scratch tables.
  */
final class CrawlTrace(ctx: Ctx, cfg: CrawlConfig, in: CrawlBench.Inputs, dir: Path) {

  private val spark = ctx.spark
  private val tracer = new Tracer(s"${CrawlBench.Name}-seed${ctx.args.seed}")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** per-round facts the spans do not carry. */
  private final case class RoundFacts(roundSpan: Int, claimed: Long, fetched: Long,
      children: Long, candidates: Long, fresh: Long, exactRoute: Boolean,
      files: Long, bytes: Long)

  def run(s: CrawlSession, untracedOpP50: Double, untracedThroughput: Double): Unit = {
    val facts = mutable.ArrayBuffer.empty[RoundFacts]
    val state = CrawlBench.stateDirs(dir)
    def du() = state.map(Ctx.du).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    spark.sparkContext.addSparkListener(tracer.listener)
    try tracer.span("crawl") { _ =>
      var done = false
      while (!done) {
        val (pv, sv) = (s.frontierTable.currentVersion, s.seenTable.currentVersion)
        val (f0, b0) = du()
        var roundId = -1
        val r = tracer.span("round") { sp => roundId = sp.id; s.runRound() }
        r match {
          case None => done = true
          case Some(rr) =>
            val (f1, b1) = du()
            facts += replay(roundId, s, pv, sv, rr.claimed)
              .copy(files = f1 - f0, bytes = b1 - b0)
        }
      }
    } finally {
      tracer.finish(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer.listener)
    }
    Files.writeString(ctx.work.resolve(s"trace-${CrawlBench.Name}.json"), tracer.toJson)
    report(s, facts.toSeq, untracedOpP50, untracedThroughput)
  }

  private def replay(roundId: Int, s: CrawlSession, pv: Long, sv: Long,
      claimedRows: Long): RoundFacts = tracer.span("replay", parent = roundId) { _ =>
    val ft = s.frontierTable
    val keep = mutable.ArrayBuffer.empty[DataFrame]
    def persisted(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(); keep += p; (p, p.count())
    }
    tracer.span("frontier.read") { _ =>
      ft.metric(pv, "round"); ft.metric(pv, "processed"); ft.rowsOf(pv)
      if (sv >= 0) s.seenTable.rowsOf(sv)
      noop(ft.readVersion(pv))
    }
    val frontierRows = ft.rowsOf(pv)
    val processed = ft.metric(pv, "processed").map(_.toLong).getOrElse(0L)
    val remaining = cfg.maxAccessCount - processed
    val (frontier, _) = persisted(ft.readVersion(pv))
    val salt = if (frontierRows <= CrawlSession.SingleWindowClaimRows) 1 else 16
    val cap = if (remaining >= frontierRows) Long.MaxValue else remaining
    def claim = Politeness.claim(frontier, cfg.hostBudgetPerRound, cap, saltBuckets = salt)
    tracer.span("frontier.claim") { _ => noop(claim) }
    val (claimed, n) = persisted(claim)
    require(n == claimedRows, s"claim replay drifted: $n != $claimedRows")

    val corpus = in.corpus
    def fetch = CrawlSession.fetchJoin(corpus, claimed, n)
    tracer.span("crawl.fetch_join") { _ => noop(fetch) }
    val (fetched, nFetched) = persisted(fetch.select(
      claimed("url"), claimed("parentUrl"), claimed("depth"), claimed("urlHash"),
      claimed("host").as("claimHost"), lit("GET").as("method"),
      lit("text/html").as("mimeType"), lit("UTF-8").as("charSet"),
      coalesce(corpus("httpStatus"), lit(200)).as("httpStatusCode"),
      SpanFieldColumns.spanTextLength(corpus("spans")).as("contentLength"),
      pmod(claimed("urlHash"), lit(500)).as("executionTime"),
      corpus("lastModified").as("lastModified"), corpus("spans").as("spans")))
    val pages = fetched.filter(!col("url").rlike(cfg.sitemapPattern) &&
      size(Extractor.spanRefs(col("spans"), "redirect")) === 0)

    tracer.span("extract.extract") { _ => noop(Extractor.extract(pages, cfg).drop("children")) }
    tracer.span("extract.childlinks") { _ => noop(Extractor.childLinks(pages, cfg)) }
    val (children, nChildren) = persisted(Extractor.childLinks(pages, cfg))
    tracer.span("model.canonicalize") { _ =>
      noop(children.select(UrlOps.canonicalizeCol(col("child")).as("url"))
        .select(col("url"), UrlOps.urlHashCol(col("url"))))
    }
    val (cand, nCand) = persisted(children
      .select(UrlOps.canonicalizeCol(col("child")).as("url"),
        (col("depth") + 1).as("depth"), col("parentUrl"))
      .filter(trim(col("url")) =!= "")
      .withColumn("urlHash", UrlOps.urlHashCol(col("url")))
      .withColumn("host", UrlOps.hostCol(col("url")))
      .dropDuplicates("url"))
    val seenCount = if (sv < 0) 0L else s.seenTable.rowsOf(sv)
    val exact = seenCount < CrawlSession.AutoBloomMinItems
    def fresh =
      if (seenCount == 0) cand
      else SeenSet.filterNew(cand, s.seenTable.readVersion(sv), seenCount,
        maxBloomItems = if (exact) 0L else CrawlSession.AutoBloomMaxItems)
    tracer.span("frontier.seen_filter") { _ => noop(fresh) }
    val (newEntries, nFresh) = persisted(fresh.select(frontier.columns.map(col): _*))

    val scratch = dir.resolve(s"replay-scratch")
    val fScratch = new SnapshotTable(scratch.resolve("frontier").toString, spark)
    val (base, _) = fScratch.commitFull(frontier)
    tracer.span("frontier.commit") { _ =>
      fScratch.commitDeltaTo(newEntries, claimed.select("urlHash", "url"), base,
        tombstoneRowsHint = n)
    }
    val (docs, _) = persisted(Extractor.extract(pages, cfg).drop("children")
      .withColumn("@timestamp", lit(new Timestamp(1700000000000L))))
    val dScratch = new SnapshotTable(scratch.resolve("docs").toString, spark, sequenced = true)
    tracer.span("docs.commit") { _ => dScratch.commitAppend(docs) }
    keep.foreach(_.unpersist())
    Ctx.rmTree(scratch)
    RoundFacts(roundId, n, nFetched, nChildren, nCand, nFresh, exact, 0L, 0L)
  }

  private def report(s: CrawlSession, facts: Seq[RoundFacts], untracedOpP50: Double,
      untracedThroughput: Double): Unit = {
    val spans = tracer.all
    val rounds = facts.map(f => spans(f.roundSpan))
    def kids(f: RoundFacts, name: String): Seq[Tracer.Span] =
      spans.filter(r => r.name == "replay" && r.parent == f.roundSpan)
        .flatMap(r => tracer.children(r.id)).filter(_.name == name)
    def perRoundS(name: String): Double =
      mean(facts.map(f => kids(f, name).map(_.durMs).sum / 1e3))
    val v = mutable.Map.empty[String, Double]
    def m(name: String, x: Double, unit: String): Unit = v(name) = x
    val claimed = facts.map(_.claimed).sum.toDouble

    m("crawl.jobs_per_round", mean(rounds.map(_("jobs"))), "jobs")
    m("crawl.stages_per_round", mean(rounds.map(_("stages"))), "stages")
    m("crawl.tasks_per_round", mean(rounds.map(_("tasks"))), "tasks")
    m("crawl.driver_gap_s", mean(rounds.map(_("driver_gap_ms") / 1e3)), "s")
    m("crawl.fetch_join_s", perRoundS("crawl.fetch_join"), "s")
    m("crawl.fetch_scan_rows_per_claim",
      facts.map(f => kids(f, "crawl.fetch_join").map(_("input_records")).sum).sum /
        math.max(1.0, claimed), "rows/page")
    m("crawl.shuffle_bytes_per_round", mean(rounds.map(_("shuffle_write_bytes"))), "B")
    m("crawl.spill_bytes_per_round", mean(rounds.map(_("spill_bytes"))), "B")
    m("crawl.task_skew", Ctx.median(rounds.map(_("task_skew"))), "ratio")
    m("frontier.claim_s", perRoundS("frontier.claim"), "s")
    m("frontier.claim_rows", claimed / math.max(1, facts.size), "rows")
    m("frontier.seen_filter_s", perRoundS("frontier.seen_filter"), "s")
    m("frontier.seen_new_frac",
      facts.map(_.fresh).sum.toDouble / math.max(1L, facts.map(_.candidates).sum), "ratio")
    m("frontier.seen_route_exact_rounds", facts.count(_.exactRoute).toDouble, "rounds")
    m("frontier.seen_route_bloom_rounds", facts.count(!_.exactRoute).toDouble, "rounds")
    m("frontier.read_s", perRoundS("frontier.read"), "s")
    m("frontier.commit_s", perRoundS("frontier.commit"), "s")
    m("frontier.files_per_round", mean(facts.map(_.files.toDouble)), "files")
    m("frontier.bytes_per_round", mean(facts.map(_.bytes.toDouble)), "B")
    val extractS = facts.map(f => kids(f, "extract.extract").map(_.durMs).sum / 1e3).sum
    m("extract.extract_s", perRoundS("extract.extract"), "s")
    m("extract.pages_per_s", facts.map(_.fetched).sum / math.max(1e-9, extractS), "pages/s")
    m("extract.childlinks_s", perRoundS("extract.childlinks"), "s")
    m("extract.children_per_page",
      facts.map(_.children).sum.toDouble / math.max(1L, facts.map(_.fetched).sum), "links/page")
    m("model.canonicalize_s", perRoundS("model.canonicalize"), "s")
    val dv = s.docsTable.currentVersion
    m("docs.commit_s", perRoundS("docs.commit"), "s")
    m("docs.bytes_per_live_doc",
      Ctx.du(dir.resolve("docs"))._2.toDouble / math.max(1L, s.docsTable.rowsOf(dv)), "B/doc")
    CrawlTrace.Units.foreach { case (n, u) => ctx.metric(n, v(n), u) }
    AnalyticsBench.Battery.foreach(AnalyticsBench.zeroQueryMetrics(ctx, _))

    val tracedRoundS = rounds.map(_.durMs / 1e3)
    ctx.metric("trace.op_p50_ratio", Ctx.median(tracedRoundS) / untracedOpP50, "ratio")
    val bounded = facts.zip(tracedRoundS).dropRight(1)
    ctx.metric("trace.throughput_ratio",
      bounded.map(_._1.claimed).sum / bounded.map(_._2).sum / untracedThroughput, "ratio")
    ctx.note("jobs_per_round", Ctx.jsonArr(rounds.map(_("jobs"))))
    ctx.note("traced_round_s", Ctx.jsonArr(tracedRoundS))
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object CrawlTrace {
  /** the traced crawl's per-layer metrics and their units. */
  val Units: Seq[(String, String)] = Seq(
    "crawl.jobs_per_round" -> "jobs", "crawl.stages_per_round" -> "stages",
    "crawl.tasks_per_round" -> "tasks", "crawl.driver_gap_s" -> "s",
    "crawl.fetch_join_s" -> "s", "crawl.fetch_scan_rows_per_claim" -> "rows/page",
    "crawl.shuffle_bytes_per_round" -> "B", "crawl.spill_bytes_per_round" -> "B",
    "crawl.task_skew" -> "ratio",
    "frontier.claim_s" -> "s", "frontier.claim_rows" -> "rows",
    "frontier.seen_filter_s" -> "s", "frontier.seen_new_frac" -> "ratio",
    "frontier.seen_route_exact_rounds" -> "rounds",
    "frontier.seen_route_bloom_rounds" -> "rounds",
    "frontier.read_s" -> "s", "frontier.commit_s" -> "s",
    "frontier.files_per_round" -> "files", "frontier.bytes_per_round" -> "B",
    "extract.extract_s" -> "s", "extract.pages_per_s" -> "pages/s",
    "extract.childlinks_s" -> "s", "extract.children_per_page" -> "links/page",
    "model.canonicalize_s" -> "s",
    "docs.commit_s" -> "s", "docs.bytes_per_live_doc" -> "B/doc")

  /** a workload that runs none of the crawl layers measures zero in each. */
  def zeroMetrics(ctx: Ctx): Unit = Units.foreach { case (n, u) => ctx.metric(n, 0.0, u) }
}
