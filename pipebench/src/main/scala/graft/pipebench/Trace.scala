package graft.pipebench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}

/** One traced layer call: `start`/`end` are `System.nanoTime` readings,
  * `parent` the span that was open when this one began. Spans of one
  * pipeline run share `run`. */
final case class Span(
    id: Int, parent: Option[Int], layer: String, name: String, run: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

object Spans {

  /** Self time of every span: its duration minus the part of its
    * interval covered by its direct children (overlapping children
    * merged, anything outside the span clipped). Over a tree whose
    * children nest inside their parents, the self times add up to the
    * root's duration. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    spans.map { s =>
      val clipped = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
      s.id -> (s.dur - covered(clipped))
    }.toMap
  }

  /** Length of the union of half-open intervals. */
  private[pipebench] def covered(intervals: Seq[(Long, Long)]): Long =
    intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((total, reach), (a, b)) =>
        if (b <= reach) (total, reach) else (total + b - math.max(a, reach), b)
    }._1
}

/** Task-level totals of the Spark jobs run under one job group. */
final class Totals {
  var jobs = 0L
  var tasks = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var readBytes = 0L
  var writeBytes = 0L
  var peakMem = 0L
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty

  def add(o: Totals): Unit = {
    jobs += o.jobs; tasks += o.tasks; shuffleWrite += o.shuffleWrite
    spill += o.spill; readBytes += o.readBytes; writeBytes += o.writeBytes
    peakMem = math.max(peakMem, o.peakMem)
    o.stageTaskMs.foreach { case (k, v) =>
      stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }

  /** max / median task time of the stage that used the most task time
    * (stages with fewer than two tasks have no skew); 1.0 when no
    * stage qualifies. */
  def taskSkew: Double = {
    val multi = stageTaskMs.values.filter(_.size >= 2)
    if (multi.isEmpty) 1.0
    else {
      val ts = multi.maxBy(_.sum).sorted
      val med = math.max(ts(ts.size / 2), 1L).toDouble
      ts.last / med
    }
  }
}

/** Attributes job, stage and task metrics to the job group that was
  * set when each job started; jobs outside any group are not counted.
  * Listener callbacks run on Spark's bus thread; readers call `take`
  * after draining the bus. */
final class TaskTotals extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Totals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { group =>
        byGroup.getOrElseUpdate(group, new Totals).jobs += 1
        e.stageIds.foreach(id => if (!stageGroup.contains(id)) stageGroup(id) = group)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && stageGroup.contains(e.stageId)) {
      val t = byGroup.getOrElseUpdate(stageGroup(e.stageId), new Totals)
      t.tasks += 1
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.readBytes += m.inputMetrics.bytesRead
      t.writeBytes += m.outputMetrics.bytesWritten
      t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
      t.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Removes and returns the totals of group `run` and of its
    * sub-groups `run/...`, keyed by group id. */
  def take(run: String): Map[String, Totals] = synchronized {
    val hit = byGroup.keys.filter(k => k == run || k.startsWith(run + "/")).toList
    val out = hit.map(k => k -> byGroup(k)).toMap
    byGroup --= hit
    out
  }
}

/** Facts read from a finished query's final adaptive plan. */
final case class PlanFacts(
    exchanges: Long, reusedExchanges: Long, broadcastBytes: Long,
    candidatePairs: Long)

object PlanFacts extends AdaptiveSparkPlanHelper {
  val empty: PlanFacts = PlanFacts(0, 0, 0, 0)

  def of(plan: SparkPlan): PlanFacts = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    // candidate pairs: the distinct (id_a, id_b) aggregate of the LSH
    // candidate stage; its final (smallest) output is the pair count
    val pairAggs = nodes.collect {
      case a: HashAggregateExec
          if a.groupingExpressions.map(_.name) == Seq("id_a", "id_b") =>
        metric(a, "numOutputRows")
    }
    PlanFacts(
      exchanges = nodes.count {
        case _: ShuffleExchangeExec | _: BroadcastExchangeExec => true
        case _ => false
      },
      reusedExchanges = nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      broadcastBytes = nodes.collect { case b: BroadcastExchangeExec => metric(b, "dataSize") }.sum,
      candidatePairs = if (pairAggs.isEmpty) 0L else pairAggs.min)
  }

  def +(a: PlanFacts, b: PlanFacts): PlanFacts = PlanFacts(
    a.exchanges + b.exchanges, a.reusedExchanges + b.reusedExchanges,
    a.broadcastBytes + b.broadcastBytes, a.candidatePairs + b.candidatePairs)
}

/** Wraps the benchmark's calls into each library layer. Disabled, it
  * only runs the body. Enabled, each call becomes a span tagged with
  * its own job group; a frame-returning call is materialised at the
  * span boundary so its work is billed to it, and its row count and
  * plan facts are read after the span closes. */
final class Tracer(spark: SparkSession, val run: String, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var last = -1L
  val rowsOut: mutable.Map[Int, Long] = mutable.Map.empty
  val facts: mutable.Map[Int, PlanFacts] = mutable.Map.empty

  /** Rows out of the latest frame call; -1 when tracing is off. */
  def lastRows: Long = last

  def spans: Seq[Span] = done.toSeq
  def group(id: Int): String = s"$run/s$id"
  def untimedGroup: String = s"$run/untimed"

  private def setGroup(g: String): Unit = sc.setJobGroup(g, g, interruptOnCancel = false)

  /** Runs `body` inside a span; returns its result and the span id. */
  def span[T](layer: String, name: String)(body: => T): (T, Int) = {
    if (!enabled) return (body, -1)
    val id = nextId
    nextId += 1
    val parent = open.headOption
    open = id :: open
    setGroup(group(id))
    val t0 = System.nanoTime()
    try (body, id)
    finally {
      done += Span(id, parent, layer, name, run, t0, System.nanoTime())
      open = open.tail
      setGroup(open.headOption.map(group).getOrElse(run))
    }
  }

  /** A layer call that runs an action (a write, a store append). */
  def call[T](layer: String, name: String)(body: => T): T = span(layer, name)(body)._1

  /** A layer call that returns a frame. */
  def frame(layer: String, name: String)(body: => DataFrame): DataFrame =
    if (!enabled) body
    else {
      var lazyDf: DataFrame = null
      val (out, id) = span(layer, name) {
        lazyDf = body
        lazyDf.localCheckpoint(eager = true)
      }
      untimed {
        last = out.count()
        rowsOut(id) = last
        facts(id) = PlanFacts.of(lazyDf.queryExecution.executedPlan)
      }
      out
    }

  /** A frame with several consumers, computed once. Traced frames
    * already are; untraced, the pipeline checkpoints it here. */
  def reuse(df: DataFrame): DataFrame = if (enabled) df else df.localCheckpoint(eager = true)

  /** Work outside every span (counts, checks): billed to no layer. */
  def untimed[T](body: => T): T = {
    if (!enabled) return body
    setGroup(untimedGroup)
    try body finally setGroup(open.headOption.map(group).getOrElse(run))
  }
}
