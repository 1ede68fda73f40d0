package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** State shared by one run's set-up, warm-up and timed rounds. */
final class Ctx(val args: Main.Args, val spark: SparkSession, val runDir: String) {
  val tracer  = new Tracer
  val log     = new OpLog(penaltyMs = args.seconds * 1000.0)
  val warmLog = new OpLog(penaltyMs = args.seconds * 1000.0)
  val layers  = new Layers
  val cores   = spark.sparkContext.defaultParallelism
  /** The sf0.01 corpus every workload reads. */
  val sf001 = s"${args.data}/sf0.01"

  private var rounds = 0
  /** Index of the next timed round; seeds that round's query order. */
  def nextRound(): Int = { rounds += 1; rounds - 1 }

  /** Run one registry query the way a user does — look it up, build the
    * DataFrame, plan it, collect it — and log it as a timed op whose
    * result must digest to `expected`. A throw is logged and counted as a
    * failed op, never swallowed silently.
    */
  def query(name: String, dir: String, expected: Option[Digest.Result], into: OpLog): Op = {
    val sc   = spark.sparkContext
    val opId = tracer.nextId()
    sc.setLocalProperty(ExecListener.OpProperty, opId.toString)
    val t0              = tracer.now()
    var df: DataFrame   = null
    var rows: Seq[Row]  = null
    var error: Throwable = null
    try {
      tracer.span("entry.construct", opId, opId) { _ => df = SparkEntry.queries(name)(spark, dir) }
      tracer.span("catalyst.plan", opId, opId) { _ => df.queryExecution.executedPlan }
      tracer.span("exec.collect", opId, opId) { _ => rows = df.collect().toSeq }
    } catch { case NonFatal(e) => error = e }
    val t1 = tracer.now()
    sc.setLocalProperty(ExecListener.OpProperty, null)
    tracer.add(Span(opId, 0, opId, "op", t0, t1, label = name))
    val ok = error == null && {
      val got = Digest.of(df.columns.toSeq, rows)
      val same = expected.forall(_ == got)
      if (!same) System.err.println(s"[perfbench] WRONG RESULT $name: got $got, expected ${expected.get}")
      same
    }
    if (error != null) {
      System.err.println(s"[perfbench] FAILED $name: $error")
      error.printStackTrace()
    }
    val op = Op(name, t1 - t0, ok)
    into.add(op)
    op
  }
}

/** A workload: set-up (inputs, references), warm-up, and a fixed amount of
  * work per round. A run warms up for a fixed number of rounds, then
  * measures a fixed number of rounds sized so that they take about
  * `--seconds` on a 4-core host, and reports the median round wall plus
  * per-op latency percentiles. Fixed counts, not a time box, so that every
  * run measures the same rounds of the JIT's convergence.
  */
trait Workload {
  def name: String

  /** Rounds run, untimed, after set-up and before measuring. */
  def warmRounds: Int

  /** Wall seconds of one round on a quiet 4-core host; sizes the run. */
  def nominalRoundS: Double

  def measuredRounds(seconds: Int): Int = math.max(3, math.round(seconds / nominalRoundS).toInt)

  /** Build inputs and references; return their seconds (the median of
    * repeats where a step is repeated).
    */
  def prepare(ctx: Ctx): Double

  /** One round of fixed work, its ops logged to `log`; returns the
    * round's timed seconds.
    */
  def round(ctx: Ctx, index: Int, log: OpLog): Double

  /** Traced runs only: per-layer work measured once after the rounds. */
  def afterRounds(ctx: Ctx): Unit = ()

  /** The table folder whose listing digest the workload's queries pay. */
  def listingPath(ctx: Ctx): String

  def run(a: Main.Args): RunResult = {
    val runDir = new File(a.state, s"run-${java.util.UUID.randomUUID()}").getAbsolutePath
    new File(runDir).mkdirs()
    try runIn(a, runDir)
    finally Files.delete(new File(runDir))
  }

  private def runIn(a: Main.Args, runDir: String): RunResult = {
    val t0    = System.nanoTime()
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("graft.layout.dir", new File(a.state, "layouts-read").getAbsolutePath)
    val startS = (System.nanoTime() - t0) / 1e9
    val ctx    = new Ctx(a, spark, runDir)
    val genS   = prepare(ctx)
    val warmS  = Workload.seconds((1 to warmRounds).foreach(i => round(ctx, -i, ctx.warmLog)))
    val L     = ctx.layers
    L.put("session.start_s", startS, "s")
    L.put("session.warmup_s", warmS, "s")
    val listing = (1 to 20).map { _ =>
      val t = System.nanoTime()
      graft.sources.LayoutCache.contentKey(spark, listingPath(ctx), "perfbench")
      (System.nanoTime() - t) / 1e6
    }
    L.put("sources.listing_ms", Stats.median(listing), "ms")
    graft.sources.LayoutCache.drainBuildLog()

    val gc0    = gcSeconds()
    val rounds = measuredRounds(a.seconds)
    // a traced run splits the same work: untraced rounds, then traced ones
    val plain = measure(ctx, if (a.trace) (rounds + 1) / 2 else rounds)
    if (a.trace) {
      val listener = new ExecListener(ctx.tracer)
      spark.sparkContext.addSparkListener(listener)
      ctx.tracer.enabled = true
      val traced = measure(ctx, (rounds + 1) / 2)
      listener.awaitQuiet()
      ctx.tracer.enabled = false
      spark.sparkContext.removeSparkListener(listener)
      L.put("jvm.gc_s", gcSeconds() - gc0, "s")
      SpanReport.fill(ctx, listener, traced)
      lateBuilds(ctx)
      afterRounds(ctx)
      val (untracedS, tracedS) = (Stats.median(plain), Stats.median(traced))
      L.put("trace.wall_s_untraced", untracedS, "s")
      L.put("trace.wall_s_traced", tracedS, "s")
      L.put("trace.overhead_s", tracedS - untracedS, "s")
      if (a.traceOut.nonEmpty)
        ctx.tracer.dump(a.traceOut, Map(
          "workload" -> Json.str(name), "seed" -> a.seed.toString, "cores" -> ctx.cores.toString,
          "traced_rounds" -> traced.size.toString, "wall_s_untraced" -> Json.num(untracedS),
          "wall_s_traced" -> Json.num(tracedS)))
    } else {
      L.put("jvm.gc_s", gcSeconds() - gc0, "s")
      lateBuilds(ctx)
    }
    L.put("bench.failed_frac", ctx.log.failedFrac, "ratio")
    L.put("jvm.rss_peak_mb", rssPeakMb(), "MB")
    val lat  = ctx.log.latencies
    val tail = Stats.tailPercentile(lat.size).getOrElse(50.0)
    L.put("bench.tail_percentile", tail, "pct")
    val endToEnd = Seq(
      ("setup_s", startS + genS + warmS, "s"),
      ("wall_s", Stats.median(plain), "s"),
      ("latency_p50_ms", Stats.percentile(lat, 50), "ms"),
      ("latency_tail_ms", Stats.percentile(lat, tail), "ms")
    )
    System.err.println(
      f"[perfbench] $name seed=${a.seed}: session $startS%.1fs, inputs $genS%.1fs, warm-up $warmS%.1fs; " +
        s"${plain.size} measured rounds (${plain.map(w => f"$w%.2f").mkString(" ")} s), ${ctx.log.attempted} ops, " +
        s"tail = p$tail")
    val attempted = ctx.log.attempted + ctx.warmLog.attempted
    val failed    = ctx.log.failed + ctx.warmLog.failed
    RunResult(failed == 0 && attempted > 0, attempted, failed, if (a.trace) L.metrics else endToEnd)
  }

  /** Layouts built during the timed rounds, which set-up should have built. */
  private def lateBuilds(ctx: Ctx): Unit = {
    val late = graft.sources.LayoutCache.drainBuildLog()
    if (late.nonEmpty) System.err.println(s"[perfbench] late layout builds: ${late.map(_._1).mkString(", ")}")
    ctx.layers.put("layouts.late_builds", late.size.toDouble, "count")
  }

  /** Run `n` rounds; return each round's wall seconds, failed ops charged
    * their penalty.
    */
  private def measure(ctx: Ctx, n: Int): Seq[Double] =
    (1 to n).map { _ =>
      val before = ctx.log.attempted
      val wall   = round(ctx, ctx.nextRound(), ctx.log)
      ctx.log.chargedWallS(wall, ctx.log.all.drop(before))
    }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

object Workload {
  val byName: Map[String, Workload] =
    Seq[Workload](new Core7Blobs, new RegistryWarm).map(w => w.name -> w).toMap

  /** Seconds `body` takes. */
  def seconds(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** Median seconds of `n` runs of `body`. */
  def medianSeconds(n: Int)(body: Int => Unit): Double = {
    val times = (0 until n).map(i => seconds(body(i)))
    System.err.println(s"[perfbench] set-up repeats: ${times.map(t => f"$t%.2fs").mkString(" ")}")
    Stats.median(times)
  }
}

/** File-tree helpers for the benchmark's own scratch state. */
object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
    ()
  }

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    else if (f.exists) f.length
    else 0L
}
