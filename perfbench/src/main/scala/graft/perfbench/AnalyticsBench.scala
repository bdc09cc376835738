package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** docs_analytics: a fixed battery of `SparkEntry.queries` over seeded
  * `documents`/`events` tables. After set-up and an unrelated warm-up job,
  * the first (cold) pass writes every result as parquet for the DuckDB
  * oracle check; warm passes force each query into a noop sink until
  * `--seconds` have passed, and at least `WarmPasses` times. The seed
  * permutes the query order in each pass.
  */
object AnalyticsBench {
  val Name = "docs_analytics"

  /** one query per ops family: Dedup, GraphOps, SearchOps (fuzzy and the
    * persisted trigram index) and EventOps.
    */
  val Battery: Seq[String] = Seq(
    "q_dedup_clusters", "q_graph_pagerank", "q_search_fuzzy",
    "q_event_sessionize", "q_search_wildcard_idx")

  /** warm passes a run makes at least, whatever `--seconds` says. */
  val WarmPasses = 3

  def zeroQueryMetrics(ctx: Ctx, q: String): Unit = {
    ctx.metric(s"ops.$q.s", 0.0, "s")
    ctx.metric(s"ops.$q.cold_s", 0.0, "s")
    ctx.metric(s"ops.$q.jobs", 0.0, "jobs")
    ctx.metric(s"ops.$q.shuffle_bytes", 0.0, "B")
  }

  def run(ctx: Ctx): Unit = {
    val d = ctx.args.inputs
    val setups = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    for (rep <- 0 until Ctx.SetupReps) {
      val sessionS = ctx.startSession()
      val (_, inputsS) = Ctx.seconds(Seq("documents", "events")
        .foreach(t => ctx.spark.read.parquet(s"$d/$t.parquet").count()))
      setups += ((sessionS, inputsS, 0.0))
    }
    ctx.reportSetup(setups.toSeq)
    val spark = ctx.spark
    val indexDir = ctx.work.resolve("trigram-index")
    val queries = new Queries(spark, indexDir.toString)

    ctx.warmUp()

    val out = ctx.work.resolve("results")
    Files.createDirectories(out)
    def order(pass: Int): Seq[String] =
      new scala.util.Random(ctx.args.seed * 31L + pass).shuffle(Battery)
    def call(q: String, sink: DataFrame => Unit): Option[Double] = {
      ctx.attempted += 1
      try Some(Ctx.seconds(sink(queries(q, d)))._2)
      catch { case e: Exception =>
        ctx.check(s"$q ran", ok = false, String.valueOf(e.getMessage).take(300)); None }
    }

    val t0 = System.nanoTime()
    val cold = order(0).map(q => q -> call(q, _.coalesce(1).write.mode("overwrite")
      .parquet(out.resolve(s"$q.parquet").toString))).toMap
    val warm = mutable.ArrayBuffer.empty[(String, Double)]
    val passS = mutable.ArrayBuffer.empty[Double]
    var pass = 1
    while (pass <= WarmPasses || (System.nanoTime() - t0) / 1e9 < ctx.args.seconds) {
      val (_, dt) = Ctx.seconds(order(pass).foreach(q => call(q, noop).foreach(s => warm += q -> s)))
      passS += dt
      pass += 1
    }
    writeOracleSql(out)

    val docs = spark.read.parquet(s"$d/documents.parquet").count()
    ctx.metric("throughput_per_s", Ctx.median(passS.map(Battery.size / _).toSeq), "1/s")
    ctx.metric("op_p50_s", Ctx.median(warm.map(_._2).toSeq), "s")
    ctx.metric("cold_s", cold.values.flatten.sum, "s")
    ctx.metric("state_bytes_per_page", Ctx.du(indexDir)._2.toDouble / docs, "B/page")
    ctx.note("query_battery_s", Ctx.median(passS.toSeq).toString)
    ctx.note("warm_passes", passS.size.toString)
    ctx.note("query_samples", warm.size.toString)
    ctx.note("query_cold_warm_s", Battery.map(q =>
      s""""$q": [${cold(q).getOrElse(Double.NaN)}, ${Ctx.median(warm.filter(_._1 == q).map(_._2).toSeq)}]""")
      .mkString("{", ", ", "}"))

    if (ctx.args.trace) {
      val tracer = new Tracer(s"$Name-seed${ctx.args.seed}")
      spark.sparkContext.addSparkListener(tracer.listener)
      val traced = mutable.ArrayBuffer.empty[(String, Int)]
      try tracer.span("pass") { _ =>
        order(pass).foreach { q =>
          tracer.span(q) { sp => traced += q -> sp.id; call(q, noop) }
        }
      } finally {
        tracer.finish(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer.listener)
      }
      Files.writeString(ctx.work.resolve(s"trace-$Name.json"), tracer.toJson)
      val spans = tracer.all
      for ((q, id) <- traced) {
        ctx.metric(s"ops.$q.s", Ctx.median(warm.filter(_._1 == q).map(_._2).toSeq), "s")
        ctx.metric(s"ops.$q.cold_s", cold(q).getOrElse(Double.NaN), "s")
        ctx.metric(s"ops.$q.jobs", spans(id)("jobs"), "jobs")
        ctx.metric(s"ops.$q.shuffle_bytes", spans(id)("shuffle_write_bytes"), "B")
      }
      val tracedPass = spans.find(_.name == "pass").get.durMs / 1e3
      ctx.metric("trace.op_p50_ratio",
        Ctx.median(traced.map(x => spans(x._2).durMs / 1e3).toSeq) /
          Ctx.median(warm.map(_._2).toSeq), "ratio")
      ctx.metric("trace.throughput_ratio", Ctx.median(passS.toSeq) / tracedPass, "ratio")
      CrawlTrace.zeroMetrics(ctx)
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** oracle SQL of the battery, for the DuckDB check in run.py. */
  private def writeOracleSql(out: Path): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = Battery.map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}").mkString("{", ",\n", "}")
    Files.writeString(out.resolve("oracle_sql.json"), json)
  }

  /** The battery's queries. Every query is `SparkEntry.queries` except the
    * indexed wildcard search, whose SparkEntry form keeps its trigram index
    * in a process-wide temp directory; here the same index build and
    * indexed search run with the index kept inside the benchmark's work
    * directory. Like SparkEntry, the index is built once per process.
    */
  final class Queries(spark: SparkSession, indexDir: String) {
    private var index: DataFrame = _
    def apply(q: String, d: String): DataFrame =
      if (q != "q_search_wildcard_idx") SparkEntry.queries(q)(spark, d)
      else {
        val docs = spark.read.parquet(s"$d/documents.parquet")
        if (index == null) {
          graft.ops.SearchOps.buildTrigramIndex(docs, "perfbench_wc_idx", indexDir, nBuckets = 16)
          index = graft.sources.BucketedStore.read(spark, "perfbench_wc_idx_tri")
        }
        graft.ops.SearchOps.wildcardSearchIndexed(docs, index, "rt filter")
      }
  }
}
