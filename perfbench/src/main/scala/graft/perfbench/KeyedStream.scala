package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.PolyHash
import graft.streaming.OrderedProcessor
import graft.streaming.OrderedProcessor.{Msg, Out}
import graft.streaming.broker.{BrokerLag, BrokerTopic, InMemoryBroker}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

/** `keyed_stream`: an open loop, then a drain, on one durable keyed
  * 4-partition broker topic read through `OrderedProcessor.run`.
  *
  *  - Timed phase: a generator thread appends Zipf-keyed messages with
  *    `TopicLog.appendKeyed` on a fixed schedule. Each message carries its
  *    DUE time (in `name`), so latency is due → sink and a generator that
  *    falls behind cannot hide queueing delay.
  *  - Drain phase: a fixed backlog is appended at once and drained under
  *    the admission bound; capacity is the rate at which it drains.
  */
object KeyedStream extends Main.Workload {

  /** Offered messages per second: about half the capacity the drain
    * measures while the hypervisor steals 20-30% of a 4-core host's CPU
    * (about 550 msgs/s; 1,100 on a quiet host).
    */
  val RatePerS = 300.0
  /** Distinct keys, drawn Zipf(`ZipfS`): the hottest carries ~10%. */
  val Keys = 10000
  val ZipfS = 1.0
  /** Share of messages whose first attempt fails, deterministically. */
  val FailPercent = 2
  val RetryBackoffMs = 200L
  val TriggerMs = 100L
  /** With Zipf keys and 2% failures a key advances ~50 messages per
    * activation, so a larger bound overflows the hot key's retry buffer
    * (1,024 messages) instead of measuring admission.
    */
  val AdmitPerTrigger = 400
  /** Traffic before the timed phase: the JIT keeps shortening the
    * per-trigger path for about 20 s.
    */
  val WarmupS = 18.0
  /** Messages appended at once for the drain phase. */
  val Backlog = 8000
  /** The generator's longest sleep between due checks. */
  val TickMs = 5L
  /** A run is invalid when the generator falls this far behind its
    * schedule, or when the timed phase's last-quarter median lag exceeds
    * twice its first-quarter median plus `LagSlackS` of offered traffic.
    */
  val MaxLateMs = 1000.0
  val LagSlackS = 0.5

  val msgSchema: StructType = new StructType()
    .add("key", "string").add("seq", "long").add("name", "string").add("numPublishes", "int")

  /** What the sink saw: one collected micro-batch and when. */
  final case class Seen(batchId: Long, atNs: Long, rows: Array[Out])

  /** Zipf(s) sampler over keys 1..n by inverse CDF. */
  final class Zipf(n: Int, s: Double, rnd: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).min(n - 1)
    }
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.r
    val nWarm = (RatePerS * WarmupS).toInt
    val nTimed = (RatePerS * ctx.o.seconds).toInt

    // the whole offered sequence, from the seed: Zipf keys with
    // per-key dense seqs (open-loop messages first, then the backlog)
    val zipf = new Zipf(Keys, ZipfS, new scala.util.Random(ctx.o.seed))
    val nextSeq = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val offered: Array[(String, Long)] = Array.fill(nWarm + nTimed + Backlog) {
      val k = zipf.next()
      val s = nextSeq(k)
      nextSeq(k) = s + 1
      (s"k$k", s)
    }

    // set-up, the part the program owns: session, topic creation and
    // query start, up to the first trigger's progress
    val seen = new ConcurrentLinkedQueue[Seen]()
    val topic = "perfbench-keyed"
    val dir = new File(ctx.o.work, "keyed")
    val start0 = System.nanoTime()
    val query = ctx.spans.time("setup.start_query", "graft.streaming") {
      start(ctx, topic, dir, seen)
    }
    while (query.lastProgress == null) Thread.sleep(5)
    val setupStoresS = (System.nanoTime() - start0) / 1e9
    val setupS = Main.sinceJvmStartS
    val log = InMemoryBroker.topic(topic)
    val keyIdx = 0

    def row(i: Int, dueNs: Long): Row =
      Row(offered(i)._1, offered(i)._2, dueNs.toString, 0, topic, 0, 0L)

    // open loop: warm-up then timed phase on one continuous schedule
    val appendUs = mutable.ArrayBuffer.empty[Double]
    var lateMaxMs = 0.0
    val lagSamples = new ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        lagSamples.add((System.nanoTime(), BrokerLag.totalLag(query, topic)))
        Thread.sleep(50)
      }
    }, "perfbench-lag")
    sampler.setDaemon(true)
    sampler.start()

    val periodNs = 1e9 / RatePerS
    val t0 = System.nanoTime()
    val timedT0 = t0 + (nWarm * periodNs).toLong
    val timedT1 = t0 + ((nWarm + nTimed) * periodNs).toLong
    def dueNs(i: Int): Long = t0 + (i * periodNs).toLong
    val traceWindows = 4
    def window(due: Long): Int =
      ((due - timedT0).toDouble / (timedT1 - timedT0) * traceWindows).toInt
    val gen = new Thread(() => {
      var sent = 0
      while (sent < nWarm + nTimed) {
        val now = System.nanoTime()
        var upTo = sent
        while (upTo < nWarm + nTimed && dueNs(upTo) <= now) upTo += 1
        if (upTo > sent) {
          if (sent >= nWarm) lateMaxMs = math.max(lateMaxMs, (now - dueNs(sent)) / 1e6)
          val rows = (sent until upTo).map(i => row(i, dueNs(i)))
          val a0 = System.nanoTime()
          ctx.spans.time("broker.appendKeyed", "graft.streaming.broker")(log.appendKeyed(rows, keyIdx))
          if (sent >= nWarm) appendUs += (System.nanoTime() - a0) / 1e3
          sent = upTo
        }
        val next = dueNs(sent) - System.nanoTime()
        if (next > 0) Thread.sleep(math.min(TickMs, next / 1000000L).max(1L))
      }
    }, "perfbench-generator")
    val gc0 = ctx.gcMs
    gen.start()
    if (ctx.o.trace) {
      // traced runs mix untraced and traced windows of the timed phase,
      // so the listeners' own cost shows in the latency
      (0 until traceWindows).foreach { w =>
        val at = timedT0 + (timedT1 - timedT0) * w / traceWindows
        val wait = (at - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        if (ctx.tracedAt(w)) ctx.attach() else ctx.detach()
      }
    }
    gen.join()
    awaitSeen(seen, nWarm + nTimed, 60)
    sampling = false
    sampler.join()

    // drain phase: the backlog lands at once, admitted per trigger
    ctx.attach()
    val firstBacklog = nWarm + nTimed
    val d0 = System.nanoTime()
    ctx.spans.time("broker.appendKeyed", "graft.streaming.broker") {
      log.appendKeyed((firstBacklog until offered.length).map(i => row(i, d0)), keyIdx)
    }
    awaitSeen(seen, offered.length, 90)
    // capacity: the least-squares slope of backlog messages observed over
    // time, from 10% to 90% of the backlog. The start waits on the trigger
    // in flight, and the last messages of a key wait on its retries' next
    // activation; neither measures throughput.
    val drained = seen.asScala.toSeq.sortBy(_.atNs)
      .map(s => (s.atNs, s.rows.count(_.name.toLong == d0)))
      .scanLeft((d0, 0)) { case ((_, n), (at, k)) => (at, n + k) }
      .filter { case (_, n) => n >= Backlog * 0.1 && n <= Backlog * 0.9 }
      .map { case (at, n) => ((at - d0) / 1e9, n.toDouble) }
    val capacity = Stats.slope(drained)
    val gcS = (ctx.gcMs - gc0) / 1e3
    ctx.detach()
    val heap = ctx.liveHeapMb()
    val progress = query.recentProgress.toSeq
    query.stop()

    // latency of timed-phase messages: due → observed at the sink
    val all = seen.asScala.toSeq.sortBy(_.batchId)
    val latMs = mutable.ArrayBuffer.empty[Double]
    val latByWindow = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
    all.foreach { s =>
      s.rows.foreach { o =>
        val due = o.name.toLong
        if (due >= timedT0 && due < timedT1) {
          val l = (s.atNs - due) / 1e6
          latMs += l
          latByWindow.getOrElseUpdate(window(due), mutable.ArrayBuffer.empty) += l
        }
      }
    }

    // validity: the generator kept its schedule, the lag did not grow
    val lags = lagSamples.asScala.toSeq.filter { case (t, _) => t >= timedT0 && t < timedT1 }
    val q = lags.size / 4
    val lagHead = if (q > 0) Stats.median(lags.take(q).map(_._2.toDouble)) else 0.0
    val lagTail = if (q > 0) Stats.median(lags.takeRight(q).map(_._2.toDouble)) else 0.0
    if (lateMaxMs > MaxLateMs)
      r.invalid = Some(f"generator fell $lateMaxMs%.0f ms behind its schedule (limit $MaxLateMs%.0f ms)")
    else if (lagTail > 2 * lagHead + RatePerS * LagSlackS)
      r.invalid = Some(f"broker lag grew across the timed phase ($lagHead%.0f -> $lagTail%.0f)")

    // correctness: each offered message emitted exactly once, as a
    // success, and every key's seqs strictly increase in emission order
    val emitted = all.flatMap(_.rows.toSeq)
    val counts = emitted.groupBy(o => (o.key, o.seq)).view.mapValues(_.size).toMap
    val missing = offered.count(m => !counts.contains(m))
    val dups = counts.values.map(_ - 1).sum
    val notOk = emitted.count(_.status != "success")
    val lastSeq = mutable.Map.empty[String, Long]
    var disorder = 0L
    emitted.foreach { o =>
      if (lastSeq.get(o.key).exists(_ >= o.seq)) disorder += 1
      lastSeq(o.key) = o.seq
    }
    r.attempted = offered.length.toLong
    r.fail(missing, s"$missing offered messages never emitted")
    r.fail(dups.toLong, s"$dups messages emitted more than once")
    r.fail(notOk.toLong, s"$notOk messages emitted dead or overflowed")
    r.fail(disorder, s"$disorder emissions broke per-key seq order")

    r.endToEnd("setup_s", setupS, "s")
    r.endToEnd("throughput_per_s", capacity, "1/s")
    r.endToEnd("latency_p50_ms", Stats.median(latMs.toSeq), "ms")
    r.endToEnd("latency_tail_ms", Stats.quantile(latMs.toSeq, 0.99), "ms")
    r.endToEnd("live_heap_mb", heap, "MB")
    r.info("ordered_p50_ms", Stats.median(latMs.toSeq), "ms")
    r.info("ordered_p99_ms", Stats.quantile(latMs.toSeq, 0.99), "ms")
    r.info("ordered_capacity_msgs_per_s", capacity, "1/s")
    r.info("offered_rate_per_s", RatePerS, "1/s")
    latByWindow.toSeq.sortBy(_._1).foreach { case (w, xs) =>
      r.info(s"ordered_p50_ms.quarter$w", Stats.median(xs.toSeq), "ms") }
    r.info("broker.append_us_p50", Stats.median(appendUs.toSeq), "us")
    r.info("broker.append_us_p99", Stats.quantile(appendUs.toSeq, 0.99), "us")
    val (_, logBytes) = ctx.footprint(new File(dir, "log"))
    r.info("broker.log_bytes_per_msg", logBytes.toDouble / offered.length, "bytes")
    val lagVals = lags.map(_._2.toDouble)
    r.info("broker.lag_p50", if (lagVals.isEmpty) 0.0 else Stats.median(lagVals), "count")
    r.info("broker.lag_max", if (lagVals.isEmpty) 0.0 else lagVals.max, "count")
    r.info("broker.lag_head_p50", lagHead, "count")
    r.info("broker.lag_tail_p50", lagTail, "count")
    r.info("gen.late_ms_max", lateMaxMs, "ms")
    r.info("ordered.attempts_per_msg", emitted.map(_.attempts.toDouble).sum / emitted.size.max(1), "count")
    r.info("ordered.dead_msgs", emitted.count(_.status == "dead").toDouble, "count")
    r.info("ordered.overflow_msgs", emitted.count(_.status == "overflow").toDouble, "count")
    val ops = Streams.report(ctx, progress.filter(_.numInputRows > 0))
    Streams.state(ctx, progress)

    if (ctx.o.trace) {
      def med(ws: Int => Boolean) = Stats.median(latByWindow.filter(w => ws(w._1)).values.flatten.toSeq)
      // the listeners saw only the traced windows and the drain
      val traced = ops.filter(o => ctx.sparkTrace.byTag.contains(o.tag))
      ctx.emitLayers(traced, setupStoresS, Seq(dir),
        gcS, med(w => ctx.tracedAt(w)) / med(w => !ctx.tracedAt(w)))
    }
    InMemoryBroker.deleteTopic(topic)
  }

  private def start(ctx: Main.Ctx, topic: String, dir: File,
      seen: ConcurrentLinkedQueue[Seen]): StreamingQuery = {
    val spark = ctx.spark
    import spark.implicits._
    val t = BrokerTopic.create(spark, topic, msgSchema, numPartitions = 4,
      keyColumn = Some("key"), logDir = Some(new File(dir, "log").getAbsolutePath))
    val msgs: Dataset[Msg] = t.readStream(admitPerTrigger = AdmitPerTrigger)
      .select(col("key"), col("seq"), col("name"), col("numPublishes")).as[Msg]
    val fails: (Msg, Int) => Boolean = (m, attempt) =>
      attempt == 0 && PolyHash.hash(s"${m.key}/${m.seq}") % 100 < FailPercent
    OrderedProcessor.run(msgs, fails, maxAttempts = 5,
        retryBackoffMs = Some(RetryBackoffMs))
      .writeStream
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", new File(dir, "ckpt").getAbsolutePath)
      .foreachBatch { (ds: Dataset[Out], id: Long) =>
        val rows = ds.collect()
        seen.add(Seen(id, System.nanoTime(), rows)): Unit
      }
      .start()
  }

  private def awaitSeen(seen: ConcurrentLinkedQueue[Seen], n: Int, timeoutS: Int): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (seen.asScala.map(_.rows.length).sum < n && System.nanoTime() < deadline)
      Thread.sleep(20)
  }
}

/** Per-trigger phases read from outside, via `StreamingQueryProgress`. */
object Streams {
  private def d(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Report trigger phases; returns the triggers as measured ops. */
  def report(ctx: Main.Ctx, ps: Seq[StreamingQueryProgress]): Seq[Main.Op] = {
    val r = ctx.r
    if (ps.nonEmpty) {
      r.info("stream.triggers", ps.size.toDouble, "count")
      r.info("stream.rows_per_trigger_p50", Stats.median(ps.map(_.numInputRows.toDouble)), "count")
      r.info("stream.trigger_ms_p50", Stats.median(ps.map(d(_, "triggerExecution"))), "ms")
      r.info("stream.trigger_ms_p95", Stats.quantile(ps.map(d(_, "triggerExecution")), 0.95), "ms")
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach(k => r.info(s"stream.${k}_ms_p50", Stats.median(ps.map(d(_, k))), "ms"))
      // self time per layer over the measured triggers: the source's
      // offset and batch calls, the sink's batch, the engine's own
      // planning and commits, and whatever else the trigger spent
      def sum(ks: String*): Double = ps.map(p => ks.map(d(p, _)).sum).sum / 1e3
      r.info("self_s.source", sum("latestOffset", "getBatch"), "s")
      r.info("self_s.sink", sum("addBatch"), "s")
      r.info("self_s.graft.streaming", sum("queryPlanning", "walCommit", "commitOffsets"), "s")
      r.info("self_s.trigger_other", sum("triggerExecution") -
        sum("latestOffset", "getBatch", "addBatch", "queryPlanning", "walCommit", "commitOffsets"), "s")
    }
    ps.map { p =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      val wall = d(p, "triggerExecution")
      Main.Op(s"trigger.${p.batchId}", wall,
        d(p, "latestOffset") + d(p, "getBatch") + d(p, "queryPlanning"), d(p, "addBatch"),
        t0, t0 + wall.toLong)
    }
  }

  /** State-store size over the run (stateful queries only). */
  def state(ctx: Main.Ctx, ps: Seq[StreamingQueryProgress]): Unit = {
    val ops = ps.flatMap(_.stateOperators.toSeq)
    if (ops.nonEmpty) {
      ctx.r.info("stream.state_rows_max", ops.map(_.numRowsTotal.toDouble).max, "count")
      ctx.r.info("stream.state_mem_mb_max", ops.map(_.memoryUsedBytes / 1048576.0).max, "MB")
    }
  }
}
