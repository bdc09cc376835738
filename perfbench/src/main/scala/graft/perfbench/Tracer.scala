package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's own calls into the engine, plus a
  * [[SparkListener]] whose jobs, stages and tasks are attributed afterwards
  * to the innermost span that was open when each job was submitted.
  *
  * Attribution is by time, not by Spark local properties: the engine submits
  * some jobs from its own pool threads, whose inherited properties are stale.
  * Spans never overlap except by nesting, so the time rule is exact up to
  * the listener's millisecond clock.
  */
final class Tracer(val runId: String) {
  import Tracer._

  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  /** Runs `f` inside a new span. Its parent is `parent` when given (a replay
    * span points at the round it replays), else the innermost open span.
    */
  def span[A](name: String, parent: Int = -2)(f: Span => A): A = {
    val p = if (parent != -2) parent else open.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, p, nowMs)
    spans += s
    open = s :: open
    try f(s)
    finally { s.endMs = nowMs; open = open.tail }
  }

  def all: Seq[Span] = spans.toSeq
  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  // --- Spark side: raw events, attributed in finish() ----------------------
  private final case class Job(id: Int, submitMs: Long, stageIds: Seq[Int]) {
    var endMs: Long = -1L
  }
  private final case class StageDone(tasks: Int, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, inputRecords: Long, outputBytes: Long,
      outputRecords: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, StageDone]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages(si.stageId) =
        if (m == null) StageDone(si.numTasks, 0, 0, 0, 0, 0, 0)
        else StageDone(si.numTasks,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    }
  }

  /** Waits for the listener bus, then folds every recorded job into the
    * counters of the innermost span open at its submission, and computes
    * each span's self time and driver gap (span time with no job running).
    */
  def finish(sc: SparkContext): Unit = synchronized {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    val depth = mutable.Map.empty[Int, Int]
    def depthOf(s: Span): Int =
      depth.getOrElseUpdate(s.id, if (s.parent < 0) 0 else depthOf(spans(s.parent)) + 1)
    val jobIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
    for (j <- jobs.values) {
      val t = j.submitMs.toDouble
      val owner = spans.filter(s => s.startMs <= t + 0.5 && t <= s.endMs + 0.5)
        .sortBy(s => (-depthOf(s), -s.startMs)).headOption
      owner.foreach { s =>
        s.add("jobs", 1)
        j.stageIds.flatMap(id => stages.get(id).map(id -> _)).foreach { case (id, st) =>
          s.add("stages", 1); s.add("tasks", st.tasks)
          s.add("shuffle_read_bytes", st.shuffleRead.toDouble)
          s.add("shuffle_write_bytes", st.shuffleWrite.toDouble)
          s.add("spill_bytes", st.spill.toDouble)
          s.add("input_records", st.inputRecords.toDouble)
          s.add("output_bytes", st.outputBytes.toDouble)
          s.add("output_records", st.outputRecords.toDouble)
          val ds = taskMs.getOrElse(id, mutable.ArrayBuffer.empty[Long]).sorted
          if (ds.size >= 2) {
            val skew = ds.last.toDouble / math.max(1L, ds((ds.size - 1) / 2))
            s.counters("task_skew") = math.max(s.counters.getOrElse("task_skew", 1.0), skew)
          }
        }
        val end = if (j.endMs < 0) s.endMs else j.endMs.toDouble
        jobIntervals.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += ((t, end))
      }
    }
    for (s <- spans) {
      val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs))
      s.counters("self_ms") = s.durMs - covered(s, kids.toSeq)
      s.counters("driver_gap_ms") =
        s.durMs - covered(s, jobIntervals.getOrElse(s.id, mutable.ArrayBuffer.empty).toSeq)
      s.counters.getOrElseUpdate("task_skew", 1.0)
    }
  }

  /** the part of span `s` covered by the union of `ivs`, in ms. */
  private def covered(s: Span, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (curA, curB) = (Double.NaN, Double.NaN)
    for ((a, b) <- clipped) {
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** the spans as a JSON array, one object per span. */
  def toJson: String = spans.map { s =>
    val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"counters":{$cs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startMs: Double) {
    var endMs: Double = Double.NaN
    val counters: mutable.Map[String, Double] = mutable.Map.empty
    def durMs: Double = endMs - startMs
    def apply(k: String): Double = counters.getOrElse(k, 0.0)
    def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  }
}
