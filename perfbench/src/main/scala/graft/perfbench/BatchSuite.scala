package graft.perfbench

import java.io.File

import scala.collection.mutable

import graft.{Queries, QuerySpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `batch_suite`: one client, interleaved passes over the fixed query set
  * in `batch_suite.tsv` (name, expected result hash). Every query is
  * forced through a noop write, as `graft.Bench` does; the store warm-up
  * calls run in set-up, untimed.
  */
object BatchSuite extends Main.Workload {

  /** The tables the set runs on, relative to the checkout root. sf0.1
    * costs minutes per pass on a 4-core host; sf0.01 fits several passes
    * in a run.
    */
  val Data = "perfbench/data/sf0.01"

  /** The query set, each with its expected result hash. */
  val QueryFile = "perfbench/batch_suite.tsv"

  /** Passes in an untimed run at least, whatever `--seconds` says: a
    * per-query median needs three samples.
    */
  val MinPasses = 3

  /** Passes in a traced run at least: half are traced (U T T U), so 8
    * gives each query four traced and four untraced samples.
    */
  val TracedMinPasses = 8

  /** The warm-up calls the set's queries depend on, in `graft.Bench`'s
    * order, with the module each belongs to.
    */
  val ensures: Seq[(String, String, (SparkSession, String) => Any)] = Seq(
    ("SignatureStore.ensure", "graft.sources", graft.sources.SignatureStore.ensure _),
    ("DupGraph.ensure", "graft.operators", graft.operators.DupGraph.ensure _),
    ("IndexStore.ensure", "graft.sources", graft.sources.IndexStore.ensure _),
    ("Similarity.ensureTrained", "graft.operators", graft.operators.Similarity.ensureTrained _),
    ("Similarity.ensureClustered", "graft.operators", graft.operators.Similarity.ensureClustered _))

  /** Order-insensitive content hash: row count plus the sum of per-row
    * xxhash64 over the columns sorted by name.
    */
  def contentHash(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val row = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${row.getLong(0)}:${Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.r
    val set: Seq[(QuerySpec, String)] = {
      val lines = scala.io.Source.fromFile(QueryFile)
      try lines.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally lines.close()
    }.map { l =>
      val Array(name, hash) = l.split("\\s+")
      Queries.all.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"$name is not a registered query")) -> hash
    }

    // set-up: the warm-up calls the set's queries depend on, each timed
    val setupStoresS = ensures.map { case (name, layer, f) =>
      val t0 = System.nanoTime()
      ctx.spans.time(s"ensure.$name", layer)(f(spark, Data))
      val s = (System.nanoTime() - t0) / 1e9
      r.info(s"setup.ensure_s.$name", s, "s")
      s
    }.sum
    // warm pass, untimed: codegen, JIT and the file-listing caches. It is
    // also the correctness pass: each query's content hash against the
    // value recorded from the seed tree
    val warmT0 = System.nanoTime()
    set.foreach { case (q, want) =>
      r.attempted += 1
      val got = try contentHash(q.build(spark, Data)) catch {
        case e: Exception => s"error: ${e.getMessage}"
      }
      if (got != want) r.fail(1, s"${q.name}: result hash $got, expected $want")
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    r.endToEnd("setup_s", Main.sinceJvmStartS, "s")

    // timed region: whole passes in a seeded order until the budget is
    // spent; traced runs mix untraced and traced passes so the tracing
    // cost is measured too
    val rnd = new scala.util.Random(ctx.o.seed)
    val minPasses = if (ctx.o.trace) TracedMinPasses else MinPasses
    val wall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val traced = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    val ops = mutable.ArrayBuffer.empty[Main.Op]
    val gc0 = ctx.gcMs
    val t0 = System.nanoTime()
    val budgetNs = ctx.o.seconds * 1000000000L
    var pass = 0
    while (pass < minPasses || System.nanoTime() - t0 < budgetNs) {
      val tracedPass = ctx.tracedAt(pass)
      if (tracedPass) ctx.attach() else ctx.detach()
      rnd.shuffle(set).foreach { case (q, _) =>
        if (tracedPass) {
          val a = System.currentTimeMillis()
          val b0 = System.nanoTime()
          val tag = s"p$pass.q.${q.name}"
          val df = SparkTrace.tagged(spark, s"$tag.build") {
            ctx.spans.time(s"q.${q.name}.build", "graft")(q.build(spark, Data))
          }
          val b1 = System.nanoTime()
          SparkTrace.tagged(spark, s"$tag.exec") {
            ctx.spans.time(s"q.${q.name}.exec", "spark")(
              df.write.format("noop").mode("overwrite").save())
          }
          val b2 = System.nanoTime()
          traced.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) +=
            (((b1 - b0) / 1e9, (b2 - b1) / 1e9))
          ops += Main.Op(tag, (b2 - b0) / 1e6, (b1 - b0) / 1e6,
            (b2 - b1) / 1e6, a, System.currentTimeMillis())
        } else {
          val b0 = System.nanoTime()
          ctx.spans.time(s"q.${q.name}", "graft")(
            q.build(spark, Data).write.format("noop").mode("overwrite").save())
          wall.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += (System.nanoTime() - b0) / 1e9
        }
      }
      pass += 1
    }
    ctx.detach()
    val gcS = (ctx.gcMs - gc0) / 1e3
    val med = set.map { case (q, _) => q.name -> Stats.median(wall(q.name).toSeq) }.toMap
    val total = med.values.sum
    r.endToEnd("throughput_per_s", set.size / total, "1/s")
    r.endToEnd("latency_p50_ms", Stats.geomean(med.values.toSeq) * 1e3, "ms")
    r.endToEnd("latency_tail_ms", Stats.quantile(med.values.toSeq, 0.9) * 1e3, "ms")
    r.endToEnd("live_heap_mb", ctx.liveHeapMb(), "MB")
    r.info("batch_total_s", total, "s")
    r.info("batch_geomean_s", Stats.geomean(med.values.toSeq), "s")
    r.info("batch.passes", wall.values.head.size.toDouble, "count")
    r.info("setup.warm_pass_s", warmS, "s")
    set.foreach { case (q, _) => r.info(s"q.${q.name}.wall_s", med(q.name), "s") }

    if (ctx.o.trace) {
      val t = ctx.sparkTrace
      var buildS, execS, buildJobs, execJobs, buildJobS, execJobS = 0.0
      // every traced pass of a query, one phase
      def aggs(name: String, phase: String) =
        t.byTag.collect { case (k, a) if k.endsWith(s".q.$name.$phase") => a }.toSeq
      def jobs(name: String, phase: String): Double = aggs(name, phase).map(_.jobs).sum.toDouble
      def jobS(name: String, phase: String): Double = aggs(name, phase)
        .map(a => SparkTrace.covered(a.jobWindows.toSeq, 0L, Long.MaxValue)).sum / 1e3
      set.foreach { case (q, _) =>
        val xs = traced(q.name).toSeq
        val b = Stats.median(xs.map(_._1))
        val e = Stats.median(xs.map(_._2))
        val passes = xs.size.toDouble
        val bj = jobs(q.name, "build") / passes
        val ej = jobs(q.name, "exec") / passes
        r.info(s"q.${q.name}.build_s", b, "s")
        r.info(s"q.${q.name}.exec_s", e, "s")
        r.info(s"q.${q.name}.jobs", bj + ej, "count")
        r.info(s"q.${q.name}.traced_over_wall", (b + e) / med(q.name), "ratio")
        // the untraced samples' own spread: a traced_over_wall further
        // from 1 than this is tracing cost, a nearer one is noise
        val w = wall(q.name).toSeq
        r.info(s"q.${q.name}.wall_spread",
          (Stats.quantile(w, 0.75) - Stats.quantile(w, 0.25)) / med(q.name), "ratio")
        buildS += b; execS += e; buildJobs += bj; execJobs += ej
        buildJobS += jobS(q.name, "build") / passes
        execJobS += jobS(q.name, "exec") / passes
      }
      r.info("batch.build_s", buildS, "s")
      r.info("batch.exec_s", execS, "s")
      r.info("batch.build_jobs", buildJobs, "count")
      r.info("batch.exec_jobs", execJobs, "count")
      // self time per layer, per pass: Spark jobs run inside
      // QuerySpec.build are the operators' eager flushes; the rest of
      // build is plan construction; jobs inside the write are plan
      // execution, and the rest of the write is Spark's own planning and
      // scheduling
      r.info("self_s.graft", buildS - buildJobS, "s")
      r.info("self_s.graft.operators", buildJobS, "s")
      r.info("self_s.spark.exec", execJobS, "s")
      r.info("self_s.spark.planning", execS - execJobS, "s")
      val tracedTotal = set.map { case (q, _) =>
        Stats.median(traced(q.name).toSeq.map { case (b, e) => b + e })
      }.sum
      r.info("batch.traced_over_wall", tracedTotal / total, "ratio")
      ctx.emitLayers(ops.toSeq, setupStoresS,
        Seq(new File(ctx.o.work, "warehouse"), new File(ctx.o.work, "tmp")),
        gcS, tracedTotal / total)
    }

    // every timed run counts as an attempt too; one that throws fails
    // the whole run
    r.attempted += wall.values.map(_.size).sum + traced.values.map(_.size).sum
  }
}
