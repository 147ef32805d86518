package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer's public entry point. */
final case class Span(name: String, layer: String, startNs: Long, endNs: Long)

/** In-memory span log: every layer-boundary call the harness makes is
  * recorded here and written out once, when the run ends.
  */
final class Spans {
  private val q = new ConcurrentLinkedQueue[Span]()

  def time[T](name: String, layer: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally q.add(Span(name, layer, t0, System.nanoTime()))
  }

  def all: Seq[Span] = q.asScala.toSeq.sortBy(_.startNs)

  def writeJsonl(path: java.io.File): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb ++= s"""{"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.writeString(path.toPath, sb.toString)
  }
}

/** Spark-side counters, keyed by the job's `perfbench.tag` local property
  * (or the micro-batch id Spark stamps on streaming jobs). Only attached
  * in traced runs; every mutation happens on the listener-bus thread and
  * is read after [[SparkTrace.drain]].
  */
final class SparkTrace extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, inBytes, shwBytes, shrBytes, spillBytes, peakMem = 0L
    val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  val byTag = mutable.LinkedHashMap.empty[String, Agg]
  private val stageTag = mutable.Map.empty[Int, String]
  private val jobOpen = mutable.Map.empty[Int, (String, Long)]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val skews = mutable.ArrayBuffer.empty[Double]
  private val sentinels = new AtomicLong(0)

  private def agg(tag: String): Agg = byTag.getOrElseUpdate(tag, new Agg)

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(p => Option(p.getProperty(SparkTrace.TagKey)))
      .orElse(Option(p).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(id => s"trigger.$id"))
      .getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    e.stageIds.foreach(stageTag(_) = tag)
    jobOpen(e.jobId) = (tag, e.time)
    agg(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOpen.remove(e.jobId).foreach { case (tag, t0) =>
      agg(tag).jobWindows += ((t0, e.time))
      if (tag.startsWith(SparkTrace.Sentinel)) sentinels.incrementAndGet(): Unit
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    agg(stageTag.getOrElse(id, "other")).stages += 1
    stageTaskMs.remove(id).foreach { ds =>
      if (ds.size >= 2) {
        val sorted = ds.sorted
        val med = Stats.quantile(sorted.map(_.toDouble).toSeq, 0.5)
        if (med > 0) skews += sorted.last / med
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageTag.getOrElse(e.stageId, "other"))
    a.tasks += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.shwBytes += m.shuffleWriteMetrics.bytesWritten
      a.shrBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  /** Block until every event posted before this call has been delivered:
    * a tagged sentinel job is submitted and awaited on the bus.
    */
  def drain(spark: SparkSession): Unit = {
    val want = sentinels.get() + 1
    val sc = spark.sparkContext
    val old = sc.getLocalProperty(SparkTrace.TagKey)
    sc.setLocalProperty(SparkTrace.TagKey, s"${SparkTrace.Sentinel}.$want")
    try sc.parallelize(Seq(1), 1).count(): Unit
    finally sc.setLocalProperty(SparkTrace.TagKey, old)
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (sentinels.get() < want && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(50)
  }

  /** Sum of every non-sentinel tag's counters. */
  def total: Agg = {
    val t = new Agg
    byTag.filter(!_._1.startsWith(SparkTrace.Sentinel)).values.foreach { a =>
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
      t.inBytes += a.inBytes; t.shwBytes += a.shwBytes; t.shrBytes += a.shrBytes
      t.spillBytes += a.spillBytes; t.peakMem = math.max(t.peakMem, a.peakMem)
      t.jobWindows ++= a.jobWindows
    }
    t
  }
}

object SparkTrace {
  val TagKey = "perfbench.tag"
  val Sentinel = "perfbench-sentinel"

  /** Run `f` with every Spark job it submits (from this thread and the
    * threads it starts) tagged `tag`.
    */
  def tagged[T](spark: SparkSession, tag: String)(f: => T): T = {
    val sc = spark.sparkContext
    val old = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, old)
  }

  /** Milliseconds of [t0, t1] covered by the union of `windows`. */
  def covered(windows: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val clipped = windows.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** Counts `CodegenFallback` expressions in every executed plan (traced
  * runs only).
  */
final class PlanTrace extends QueryExecutionListener {
  val fallbackExprs = new AtomicLong(0)
  val plans = new AtomicLong(0)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    fallbackExprs.addAndGet(PlanTrace.countFallback(qe.executedPlan))
    plans.incrementAndGet(): Unit
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanTrace {
  def countFallback(p: SparkPlan): Long = {
    val own = p.expressions.map(_.collect { case f: CodegenFallback => f }.size.toLong).sum
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children ++ p.subqueries
    }
    own + kids.map(countFallback).sum
  }
}
