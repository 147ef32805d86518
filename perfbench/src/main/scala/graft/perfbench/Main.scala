package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. run.py builds the classpath and starts
  * one JVM per run:
  *
  * {{{
  * graft.perfbench.Main --workload <batch_suite|keyed_stream>
  *   --seed <n> --seconds <s> --trace <0|1> --work <scratch dir>
  *   --out <result.json>
  * }}}
  *
  * Each workload calls the engine only through its public entry points
  * and times those calls from outside; nothing in the engine is
  * instrumented. The Spark and plan listeners are attached in traced
  * runs only.
  */
object Main {

  /** Seconds since the JVM started: where every `setup_s` begins. */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, out: File)

  /** One unit of measured work: a query (build + exec) or a trigger.
    * Epoch-millisecond bounds place Spark jobs inside the op.
    */
  final case class Op(tag: String, wallMs: Double, planMs: Double, execMs: Double,
      t0Ms: Long, t1Ms: Long)

  final class Ctx(val spark: SparkSession, val o: Opts, val r: Result, val spans: Spans,
      val sessionS: Double) {
    val sparkTrace = new SparkTrace
    val planTrace = new PlanTrace
    private var attached = false

    /** Attach the listeners (traced runs only; a no-op otherwise). */
    def attach(): Unit = if (o.trace && !attached) {
      spark.sparkContext.addSparkListener(sparkTrace)
      spark.listenerManager.register(planTrace)
      attached = true
    }

    def detach(): Unit = if (attached) {
      sparkTrace.drain(spark)
      spark.sparkContext.removeSparkListener(sparkTrace)
      spark.listenerManager.unregister(planTrace)
      attached = false
    }

    /** Which units of work a traced run traces: untraced and traced
      * alternate as U T T U, so a warm-up trend over the run does not
      * favour either side of `trace.overhead_ratio`.
      */
    def tracedAt(i: Long): Boolean = o.trace && (i % 4 == 1 || i % 4 == 2)

    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

    /** Heap still in use after full collections: what the run retains.
      * Read as each heap pool's usage right after the collection, so
      * what running queries allocate afterwards does not count. Spark
      * frees broadcast and shuffle blocks from its cleaner thread once a
      * GC has found them unreachable, so collect a few times and keep the
      * smallest reading.
      */
    def liveHeapMb(): Double = (0 until 3).map { _ =>
      System.gc()
      val used = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      Thread.sleep(200)
      used / 1048576.0
    }.min

    /** Files and bytes under `dirs` (what the stores persisted). */
    def footprint(dirs: File*): (Long, Long) = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      val files = dirs.filter(_.exists()).flatMap(walk)
        .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      (files.size.toLong, files.map(_.length).sum)
    }

    /** The per-layer metrics every workload reports the same way. `ops`
      * are the measured units of work; `stores` the directories holding
      * persisted store state; `overhead` traced over untraced time.
      */
    def emitLayers(ops: Seq[Op], setupStoresS: Double, stores: Seq[File],
        gcS: Double, overhead: Double): Unit = {
      val t = sparkTrace.total
      val r = this.r
      r.perLayer("spark.jobs", t.jobs.toDouble, "count")
      r.perLayer("spark.stages", t.stages.toDouble, "count")
      r.perLayer("spark.tasks", t.tasks.toDouble, "count")
      r.perLayer("spark.executor_run_s", t.runMs / 1e3, "s")
      r.perLayer("spark.executor_cpu_s", t.cpuNs / 1e9, "s")
      r.perLayer("spark.gc_s", t.gcMs / 1e3, "s")
      r.perLayer("spark.input_bytes", t.inBytes.toDouble, "bytes")
      r.perLayer("spark.shuffle_write_bytes", t.shwBytes.toDouble, "bytes")
      r.perLayer("spark.shuffle_read_bytes", t.shrBytes.toDouble, "bytes")
      r.perLayer("spark.spill_bytes", t.spillBytes.toDouble, "bytes")
      r.perLayer("spark.peak_exec_mem_mb", t.peakMem / 1048576.0, "MB")
      r.perLayer("spark.task_skew",
        if (sparkTrace.skews.isEmpty) 1.0 else Stats.median(sparkTrace.skews.toSeq), "ratio")
      r.perLayer("spark.codegen_fallback_exprs", planTrace.fallbackExprs.get.toDouble, "count")
      r.info("trace.plans_seen", planTrace.plans.get.toDouble, "count")
      val jobs = ops.map(op => sparkTrace.byTag
        .filter { case (k, _) => k == op.tag || k.startsWith(op.tag + ".") }.values.toSeq)
      val outsideJobsMs = ops.zip(jobs).map { case (op, as) =>
        math.max(op.wallMs - SparkTrace.covered(as.flatMap(_.jobWindows), op.t0Ms, op.t1Ms), 0.0)
      }
      r.perLayer("op.count", ops.size.toDouble, "count")
      r.perLayer("op.ms_p50", Stats.median(ops.map(_.wallMs)), "ms")
      r.perLayer("op.ms_p95", Stats.quantile(ops.map(_.wallMs), 0.95), "ms")
      r.perLayer("op.plan_ms_p50", Stats.median(ops.map(_.planMs)), "ms")
      r.perLayer("op.exec_ms_p50", Stats.median(ops.map(_.execMs)), "ms")
      r.perLayer("op.outside_jobs_ms_p50", Stats.median(outsideJobsMs), "ms")
      r.perLayer("op.jobs_p50", Stats.median(jobs.map(_.map(_.jobs).sum.toDouble)), "count")
      r.perLayer("setup.session_s", sessionS, "s")
      r.perLayer("setup.stores_s", setupStoresS, "s")
      val (files, bytes) = footprint(stores: _*)
      r.perLayer("store.files", files.toDouble, "count")
      r.perLayer("store.bytes", bytes.toDouble, "bytes")
      r.perLayer("jvm.gc_s", gcS, "s")
      r.perLayer("trace.overhead_ratio", overhead, "ratio")
    }
  }

  trait Workload {
    def run(ctx: Ctx): Unit
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("out")))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload: Workload = o.workload match {
      case "batch_suite" => BatchSuite
      case "keyed_stream" => KeyedStream
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the UI switch and the UTC session time zone come from the root
      // build's javaOptions, which run.py passes to this JVM
      // interleaved passes over a fixed query set must not evict the
      // generated classes between passes (graft.Bench sets the same)
      .config("spark.sql.codegen.cache.maxEntries", "50000")
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(o.work, "local").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = sinceJvmStartS
    val r = new Result
    r.info("setup.session_s", sessionS, "s")
    r.host("java.version", System.getProperty("java.version"))
    r.host("java.vm", System.getProperty("java.vm.name"))
    r.host("spark.version", spark.version)
    r.host("cpus", cpus.toString)
    r.host("max_heap_mb", (Runtime.getRuntime.maxMemory / 1048576).toString)
    val ctx = new Ctx(spark, o, r, new Spans, sessionS)
    try {
      workload.run(ctx)
      if (o.trace) ctx.spans.writeJsonl(new File(o.out.getParentFile,
        s"${o.workload}-seed${o.seed}.spans.jsonl"))
    } finally {
      java.nio.file.Files.writeString(o.out.toPath, r.toJson)
      spark.stop()
    }
  }
}
