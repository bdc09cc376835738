package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver JVM: runs one workload for one seed and writes its
  * result as JSON. Launched by `perfbench/run.py`, which builds this
  * project, prepares the analytics inputs, checks query results against the
  * DuckDB oracles and prints the final result line.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --cache DIR --gen-key K [--inputs DIR] --result FILE`; `--inputs` is
  * the docs_analytics table directory, which run.py generates.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cache: String, genKey: String,
      inputs: String, result: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv("cache"), kv("gen-key"),
      kv.getOrElse("inputs", ""), kv("result"))
    val ctx = new Ctx(a)
    try {
      a.workload match {
        case CrawlBench.Name => CrawlBench.run(ctx)
        case AnalyticsBench.Name => AnalyticsBench.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.metric("peak_rss_mb", Ctx.peakRssMb, "MB")
    } finally ctx.stopSession()
    ctx.writeResult()
  }
}

/** Per-run state shared by the workloads: the Spark session (re-created for
  * each set-up repetition), the work directory, and the result being built.
  */
final class Ctx(val args: Main.Args) {
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  val work: Path = Paths.get(args.work).toAbsolutePath
  Files.createDirectories(work)

  private var session: SparkSession = _
  def spark: SparkSession = session

  /** Starts a fresh local session (stopping any previous one) under the
    * fixed run environment; returns the seconds it took.
    */
  def startSession(): Double = {
    stopSession()
    val t0 = System.nanoTime()
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    (System.nanoTime() - t0) / 1e9
  }

  def stopSession(): Unit = if (session != null) { session.stop(); session = null }

  /** an unrelated job run before the first measured operation, so that
    * operation is cold for the engine, not for Spark's own start-up.
    */
  def warmUp(): Unit =
    session.range(0, 1000000, 1, cores).selectExpr("sum(id)").collect()

  // --- result ---------------------------------------------------------------
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val report = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  /** extra facts for the human report (raw JSON values). */
  def note(name: String, json: String): Unit = report(name) = json

  /** set-up repetitions as (session, inputs, init) seconds: their medians. */
  def reportSetup(setups: Seq[(Double, Double, Double)]): Unit = {
    metric("setup_s", Ctx.median(setups.map(s => s._1 + s._2 + s._3)), "s")
    metric("setup.session_s", Ctx.median(setups.map(_._1)), "s")
    metric("setup.inputs_s", Ctx.median(setups.map(_._2)), "s")
    metric("setup.init_s", Ctx.median(setups.map(_._3)), "s")
    note("setup_reps_s", Ctx.jsonArr(setups.map(s => s._1 + s._2 + s._3)))
  }

  /** one correctness check; a failing check counts as a failed operation. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) { failed += 1; failures += s"$what: $detail" }

  def writeResult(): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    val ms = metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }.mkString(", ")
    val rs = report.map { case (k, v) => s"${str(k)}: $v" }.mkString(", ")
    val json = s"""{"attempted": $attempted, "failed": $failed, """ +
      s""""failures": [${failures.map(str).mkString(", ")}], """ +
      s""""metrics": {$ms}, "report": {$rs}}"""
    Files.writeString(Paths.get(args.result), json + "\n")
  }
}

object Ctx {
  /** set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** (files, bytes) under `dir`, following no links. */
  def du(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val files = s.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[Path])
        (files.length.toLong, files.map(p => Files.size(p)).sum)
      } finally s.close()
    }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.deleteIfExists(q))
    finally s.close()
  }

  def jsonArr(xs: Seq[Double]): String = xs.map(_.toString).mkString("[", ", ", "]")
}
