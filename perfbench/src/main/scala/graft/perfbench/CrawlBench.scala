package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.SyntheticCorpus
import graft.crawl.{CrawlSession, Oracle}
import graft.extract.RuleCompiler
import graft.model._
import graft.model.Extraction.SpanText

/** crawl_small_rounds: a BFS crawl in Default write mode whose rounds are
  * small, so per-round fixed cost (Spark jobs, commits, manifest I/O)
  * dominates and every engine size gate sits on its small side. A run sets
  * up `Ctx.SetupReps` times (fresh session, cached inputs, `CrawlSession.init`),
  * then runs the fixed crawl to completion, repeating it in fresh work
  * directories. Only `runRound` calls are timed.
  */
object CrawlBench {
  val Name = "crawl_small_rounds"

  /** corpus pages, hosts, seed pages, per-host budget per round, access budget */
  val Pages = 20000L
  val HostCount = 200
  val Seeds = 200
  val HostBudget = 3
  val Budget = 2500L

  final case class Inputs(corpus: DataFrame, robots: DataFrame)

  /** the crawl config for `seed`: `Seeds` distinct random pages of the corpus. */
  def config(seed: Long): CrawlConfig = {
    val cdf = SyntheticCorpus.zipfCdf(HostCount, 1.1)
    val r = new java.util.Random(seed * 7919L + 17L)
    val seeds = Iterator.continually(math.floorMod(r.nextLong(), Pages))
      .distinct.take(Seeds).toSeq
      .map(i => UrlOps.canonicalize(
        SyntheticCorpus.urlOf(i, SyntheticCorpus.hostOfDoc(i, seed, cdf))))
    CrawlConfig(sessionId = Name, seeds = seeds, maxAccessCount = Budget,
      hostBudgetPerRound = HostBudget,
      rules = Seq(ScrapingRule(
        urlPattern = ".*/page/.*",
        properties = Seq(
          PropertyRule("title", SpanText("title"), trimSpaces = true),
          PropertyRule("body", SpanText("p"), isArray = true, trimSpaces = true)))))
  }

  /** Generates the corpus once per generator key, seed and size. */
  def prepareInputs(ctx: Ctx): Path = {
    val a = ctx.args
    val dir = java.nio.file.Paths.get(a.cache, s"crawl-${a.genKey}-n$Pages-s${a.seed}")
    if (!Files.exists(dir.resolve("_DONE"))) {
      Ctx.rmTree(dir)
      val b = SyntheticCorpus.Builder(Pages, seed = a.seed, hostCount = HostCount)
      b.corpus(ctx.spark).toDF().write.parquet(dir.resolve("corpus.parquet").toString)
      b.robots(ctx.spark).toDF().coalesce(1)
        .write.parquet(dir.resolve("robots.parquet").toString)
      Files.writeString(dir.resolve("_DONE"), "")
    }
    dir
  }

  def readInputs(spark: SparkSession, dir: Path): Inputs =
    Inputs(spark.read.parquet(dir.resolve("corpus.parquet").toString),
      spark.read.parquet(dir.resolve("robots.parquet").toString))

  /** a new seeded crawl in a fresh directory: everything before the first
    * timed `runRound`. Returns the session and the seconds `init` took.
    */
  def newCrawl(ctx: Ctx, cfg: CrawlConfig, in: Inputs, dir: Path): (CrawlSession, Double) = {
    Ctx.rmTree(dir)
    val s = new CrawlSession(ctx.spark, cfg, in.corpus, in.robots, dir.toString,
      recordOrder = false)
    (s, Ctx.seconds(s.init())._2)
  }

  /** state directories of the measured session. */
  def stateDirs(dir: Path): Seq[Path] =
    Seq(dir.resolve(s"sessions/$Name"), dir.resolve("docs"), dir.resolve("docsidx"))

  def run(ctx: Ctx): Unit = {
    val cfg = config(ctx.args.seed)
    val firstSessionS = ctx.startSession()
    val (inDir, genS) = Ctx.seconds(prepareInputs(ctx))
    ctx.note("gen_s", genS.toString)

    // --- set-up, SetupReps times; the last one's crawl is measured first ---
    val setups = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var in: Inputs = null
    var crawl: CrawlSession = null
    for (rep <- 0 until Ctx.SetupReps) {
      val sessionS = if (rep == 0) firstSessionS else ctx.startSession()
      val (inputs, inputsS) = Ctx.seconds(readInputs(ctx.spark, inDir))
      in = inputs
      val (c, initS) = newCrawl(ctx, cfg, in, ctx.work.resolve(s"crawl$rep"))
      crawl = c
      setups += ((sessionS, inputsS, initS))
      if (rep > 0) Ctx.rmTree(ctx.work.resolve(s"crawl${rep - 1}"))
    }
    ctx.reportSetup(setups.toSeq)
    ctx.warmUp()

    // --- measured crawls ----------------------------------------------------
    // The fixed crawl runs to completion, then again in fresh directories
    // until the rounds have taken `--seconds`, at least twice. The first
    // crawl's first round is the cold operation; the warm metrics come from
    // the later crawls, by which time the JIT has settled.
    val crawls = mutable.ArrayBuffer.empty[Measured]
    var dir = ctx.work.resolve(s"crawl${Ctx.SetupReps - 1}")
    def timedS = crawls.map(_.roundS.sum).sum
    while (crawls.size < 2 || timedS < ctx.args.seconds) {
      if (crawls.nonEmpty) {
        Ctx.rmTree(dir)
        dir = ctx.work.resolve(s"crawl-m${crawls.size}")
        crawl = newCrawl(ctx, cfg, in, dir)._1
      }
      val m = measureCrawl(ctx, crawl)
      if (crawls.isEmpty) {
        val bytes = stateDirs(dir).map(d => Ctx.du(d)._2).sum
        ctx.metric("state_bytes_per_page", bytes.toDouble / math.max(1L, m.claimed), "B/page")
        verify(ctx, cfg, crawl, in, m)
      } else {
        // every repetition of the fixed crawl must produce the same state
        val first = crawls.head
        ctx.check(s"crawl ${crawls.size}: docs digest", m.docsDigest == first.docsDigest,
          s"${m.docsDigest} != ${first.docsDigest}")
        ctx.check(s"crawl ${crawls.size}: seen digest", m.seenDigest == first.seenDigest,
          s"${m.seenDigest} != ${first.seenDigest}")
      }
      crawls += m
    }
    Ctx.rmTree(dir)

    val warmRoundS = crawls.tail.flatMap(_.roundS).toSeq
    // throughput over the rounds the host budget bounds: the last round is
    // cut short by the access budget, by an amount that depends on the seed
    val bounded = crawls.tail.flatMap(c => c.roundS.zip(c.rounds).dropRight(1))
    val throughput = bounded.map(_._2.claimed).sum / bounded.map(_._1).sum
    ctx.metric("throughput_per_s", throughput, "1/s")
    ctx.metric("op_p50_s", Ctx.median(warmRoundS), "s")
    ctx.metric("cold_s", crawls.head.roundS.head, "s")
    ctx.note("crawls", crawls.size.toString)
    ctx.note("pages_per_crawl", crawls.head.claimed.toString)
    ctx.note("warm_round_samples", warmRoundS.size.toString)
    ctx.note("round_s", Ctx.jsonArr(crawls.head.roundS))
    ctx.note("warm_round_s", Ctx.jsonArr(warmRoundS))
    ctx.note("gate_sides", gateSides(crawls.head))

    if (ctx.args.trace) {
      val dirT = ctx.work.resolve("crawl-traced")
      val c = newCrawl(ctx, cfg, in, dirT)._1
      new CrawlTrace(ctx, cfg, in, dirT).run(c, Ctx.median(warmRoundS), throughput)
      Ctx.rmTree(dirT)
    }
  }

  /** One measured crawl: per-round times and what each round did. */
  final case class Measured(roundS: Seq[Double],
      rounds: Seq[CrawlSession.RoundResult], claimed: Long,
      docsDigest: Long, seenDigest: Long)

  def measureCrawl(ctx: Ctx, s: CrawlSession): Measured = {
    val roundS = mutable.ArrayBuffer.empty[Double]
    val rounds = mutable.ArrayBuffer.empty[CrawlSession.RoundResult]
    var done = false
    while (!done) {
      val (r, dt) = Ctx.seconds(s.runRound())
      r match {
        case Some(rr) => ctx.attempted += 1; roundS += dt; rounds += rr
        case None => done = true // the end-of-crawl probe
      }
    }
    Measured(roundS.toSeq, rounds.toSeq, rounds.map(_.claimed).sum,
      digest(s.docsTable.read()), digest(s.seenTable.read().select("url")))
  }

  /** order-free 64-bit digest of a table's rows. */
  def digest(df: DataFrame): Long = {
    val r = df.select(sum(xxhash64(to_json(struct(df.columns.map(col): _*)))))
      .collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Correctness of the first crawl, outside the timed region: invariants,
    * then the claimed, seen and docs sets against `crawl.Oracle`.
    */
  def verify(ctx: Ctx, cfg: CrawlConfig, s: CrawlSession, in: Inputs, m: Measured): Unit = {
    ctx.note("docs_digest", s""""${m.docsDigest}"""")
    ctx.note("seen_digest", s""""${m.seenDigest}"""")
    val spark = ctx.spark
    import spark.implicits._
    val seen = s.seenTable.read().select("url")
    val claimed = seen.except(s.frontierTable.read().select("url"))
    ctx.check("processed == budget", m.rounds.lastOption.exists(_.processed == Budget),
      s"processed=${m.rounds.lastOption.map(_.processed)} budget=$Budget")
    val claimedSet = claimed.as[String].collect().toSet
    ctx.check("claimed == sum of round claims", claimedSet.size == m.claimed,
      s"claimed=${claimedSet.size} rounds=${m.claimed}")
    val docs = s.docsTable.read().select("url").as[String].collect()
    ctx.check("docs subset of claimed", docs.forall(claimedSet), "docs outside the claimed set")
    ctx.check("no duplicate live doc url", docs.length == docs.toSet.size,
      "duplicate urls among live docs")

    val pages = in.corpus.as[PageDoc].collect().map(p => p.doc_id -> p).toMap
    val robots = in.robots.as[RobotsRules].collect().map(r => r.host -> r.disallow_prefixes).toMap
    val o = Oracle.crawl(pages, robots, cfg)
    val oracleClaimed = o.crawlOrder.map(_._1).toSet
    // a claimed page stores a doc when it exists, is no sitemap and matches a rule
    val oracleDocs = oracleClaimed.filter(u => pages.contains(u) &&
      !u.matches(cfg.sitemapPattern) &&
      cfg.rules.exists(r => u.matches(RuleCompiler.anchored(r.urlPattern))))
    ctx.check("claimed set == oracle", claimedSet == oracleClaimed,
      s"engine=${claimedSet.size} oracle=${oracleClaimed.size}")
    ctx.check("seen set == oracle", seen.as[String].collect().toSet == o.seen,
      "seen set differs")
    ctx.check("docs set == oracle", docs.toSet == oracleDocs, "docs set differs")
  }

  /** which side of each engine size gate the crawl's rounds fell on. */
  def gateSides(m: Measured): String = {
    def maxOf(f: CrawlSession.RoundResult => Long) = m.rounds.map(f).maxOption.getOrElse(0L)
    // a round claimed from: what it claimed plus what was left, minus what it added
    val frontierMax = maxOf(r => r.frontierLeft - r.newUrls + r.claimed)
    s"""{"max_claim_rows": ${maxOf(_.claimed)}, "max_frontier_rows": $frontierMax, """ +
      s""""max_seen_rows": ${maxOf(_.seenTotal)}, """ +
      s""""SmallWriteRows": ${CrawlSession.SmallWriteRows}, """ +
      s""""SingleWindowClaimRows": ${CrawlSession.SingleWindowClaimRows}, """ +
      s""""AutoBloomMinItems": ${CrawlSession.AutoBloomMinItems}, """ +
      s""""FetchBroadcastMaxRows": ${CrawlSession.FetchBroadcastMaxRows}}"""
  }
}
