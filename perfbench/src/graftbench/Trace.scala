package graftbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One span: a timed call into a layer. Times are wall-clock epoch ms. */
final case class Span(id: Long, parent: Long, scope: String, name: String, startMs: Double,
    endMs: Double, attrs: Map[String, Double] = Map.empty) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = endMs - startMs
}

/** In-memory span store for the traced run; written out when the run ends.
  * With tracing off every call is a plain pass-through.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  /** What the spans being recorded belong to: the traced drains
    * ("stream"), their read-back ("read") or the isolated layer calls
    * ("replay"). Spans are only kept while `recording`: during the traced
    * drains and the replays, not during set-up or the untraced drains.
    */
  @volatile var scope = "stream"
  @volatile var recording = false

  def span[A](name: String)(body: => A): A =
    if (!enabled || !recording) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.currentTimeMillis().toDouble
      val n0 = System.nanoTime()
      try body
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, scope, name, t0, t0 + (System.nanoTime() - n0) / 1e6))
      }
    }

  def add(parent: Long, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Double] = Map.empty, scope: String = scope): Long = {
    val id = ids.incrementAndGet()
    if (enabled && recording) spans.add(Span(id, parent, scope, name, startMs, endMs, attrs))
    id
  }

  def currentId: Long = stack.get().headOption.getOrElse(0L)

  def jsonLines: Iterator[String] = spans.asScala.iterator.map { s =>
    val a = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"scope":"${s.scope}","name":"${s.name}",""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"attrs":{$a}}"""
  }

  /** Self time per (scope, layer): each span's duration minus the part of
    * it its children cover, summed by layer (the span name up to the first
    * dot).
    */
  def selfTimeMs: Map[(String, String), Double] = {
    val all = spans.asScala.toVector
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.MinValue)) { case ((acc, end), (a, b)) =>
          if (a >= end) (acc + (b - a), b)
          else if (b > end) (acc + (b - end), b)
          else (acc, end)
        }._1
      (s.scope, s.layer) -> math.max(0.0, s.durMs - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Collects every micro-batch's progress and records it as spans: one
  * `engine.batch` span per trigger with its `durationMs` phases laid out in
  * execution order as children, and the state operators' figures as
  * attributes of the `engine.addBatch` child. State update and commit
  * times are summed over tasks by Spark; divided by the task slots they
  * become approximate wall-clock `state.update` / `state.commit` children
  * of `engine.addBatch`.
  */
final class ProgressCollector(tracer: Tracer, parent: () => Long, scope: () => String, slots: Int)
    extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows == 0 && p.durationMs.getOrDefault("addBatch", 0L) == 0L) return
    progress.add(p)
    System.err.println(s"[perfbench] batch ${p.batchId} rows ${p.numInputRows} durationMs " +
      p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
    // events arrive asynchronously, possibly after the tracer moved on to
    // the read-back, so the scope is the stream's, not the tracer's
    val sc = scope()
    val batch = tracer.add(parent(), "engine.batch", start, start + d.getOrElse("triggerExecution", 0.0),
      Map("batch_id" -> p.batchId.toDouble, "input_rows" -> p.numInputRows.toDouble), sc)
    var t = start
    for ((phase, layer) <- ProgressCollector.Phases) {
      val ms = d.getOrElse(phase, 0.0)
      val attrs =
        if (phase != "addBatch") Map.empty[String, Double]
        else Map(
          "state_update_ms" -> p.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble,
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum.toDouble,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble,
          "state_memory_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum.toDouble,
          "dropped_late" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble)
      val id = tracer.add(batch, s"$layer.$phase", t, t + ms, attrs, sc)
      if (phase == "addBatch" && p.stateOperators.nonEmpty) {
        val upd = attrs("state_update_ms") / slots
        val com = math.min(attrs("state_commit_ms") / slots, math.max(0.0, ms - upd))
        tracer.add(id, "state.update", t, t + math.min(upd, ms), scope = sc)
        tracer.add(id, "state.commit", t + ms - com, t + ms, scope = sc)
      }
      t += ms
    }
  }
  def all: Vector[StreamingQueryProgress] = progress.asScala.toVector
}

object ProgressCollector {
  /** `durationMs` phases in the order a micro-batch runs them, with the
    * layer each one is billed to.
    */
  val Phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "source", "walCommit" -> "engine", "getBatch" -> "source",
    "queryPlanning" -> "engine", "addBatch" -> "engine", "commitOffsets" -> "engine")
}

/** Task-level shuffle figures: bytes written, and per stage the records
  * each task read from the shuffle (for the skew ratio).
  */
final class ShuffleCollector extends SparkListener {
  val writeBytes = new AtomicLong(0)
  private val perStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    writeBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    val read = e.taskMetrics.shuffleReadMetrics.recordsRead
    if (read > 0) perStage.synchronized {
      perStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += read
    }
  }
  /** Median over shuffle-reading stages of (max ÷ median task records). */
  def skew: Double = {
    val ratios = perStage.synchronized(perStage.values.map(_.sorted.toVector).toVector)
      .filter(_.size > 1).map(v => v.last.toDouble / math.max(1L, v(v.size / 2)))
    if (ratios.isEmpty) 1.0 else Stats.median(ratios)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The highest of 95, 90, 75 with at least ten samples beyond it, or 50. */
  def tailPct(n: Int): Double =
    Seq(95.0, 90.0, 75.0).find(p => n - math.ceil(p / 100 * n) >= 10).getOrElse(50.0)

  /** The value at [[tailPct]]: nearest rank, or the median when no tail
    * percentile has ten samples beyond it.
    */
  def tail(xs: Seq[Double]): Double = {
    val p = tailPct(xs.size)
    if (p == 50.0) median(xs) else pct(xs, p)
  }
}
