package graft.wxbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker

import graft.GraftSession

/** What one op did: its kind, the payload it moved and an output check that
  * the runner calls after the op's timer has stopped. */
final case class Done(kind: String, payloadBytes: Long, check: () => Boolean)

final case class Sample(kind: String, seconds: Double, payloadBytes: Long)

/** The session, tracer and seed one setup round works with. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val seed: Long, val cores: Int) {

  /** A call that returns a DataFrame; any job it runs before returning is
    * builder work. */
  def builder[T](call: String, tag: String = null)(f: => T): T =
    tr.span("operators.builder", call, tag)(f)

  /** Runs `f` on `df` as the action. Traced, the Catalyst phases are forced
    * first from outside (`optimizedPlan`, then `executedPlan`) so each gets
    * its own span; analysis already ran when the DataFrame was built and is
    * read from the query's planning tracker. */
  def action[T](call: String, df: DataFrame)(f: DataFrame => T): T = {
    if (tr.enabled) {
      val qe = df.queryExecution
      tr.span("plans.optimize", call)(qe.optimizedPlan)
      tr.span("plans.physical", call)(qe.executedPlan)
      qe.tracker.phases.get(QueryPlanningTracker.ANALYSIS)
        .foreach(p => tr.add("plans.analyze_s", p.durationMs / 1e3))
    }
    tr.span("spark.action", call)(f(df))
  }
}

trait Workload {
  def name: String
  /** Builds this setup round's fixtures under `dir`. */
  def setup(ctx: Ctx, dir: String): Unit
  /** Runs once after the last setup round, before the first timed op. */
  def warmUp(ctx: Ctx): Unit
  def run(ctx: Ctx, i: Int): Done
  /** Whether the timed loop may stop once its time is up. */
  def enough(samples: Seq[Sample]): Boolean = true
  /** Ops per pass of the traced run; its second pass runs the next as many. */
  def traceOps: Int
  /** Direct layer calls made once in the traced run (codec timings). */
  def traceExtras(ctx: Ctx): Unit = ()
  /** Workload-specific end-to-end figures: name -> (value, unit). */
  def report(samples: Seq[Sample]): Seq[(String, (Double, String))]
  /** Extra output for the caller (file paths for the DuckDB check). */
  def outputs(ctx: Ctx, runDir: String): Seq[(String, String)] = Nil
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String, launchMs: Long)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("out"), m("launch-ms").toLong)
  }

  /** Set-up rounds per run; setup_s takes their median. */
  val SetupRounds = 2
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def session(a: Args, listener: CountingListener): SparkSession = {
    val s = GraftSession.builder(s"local[$Cores]", math.max(Cores, 4))
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(listener)
    s
  }

  /** The median time of each op kind, averaged over the kinds: unlike the
    * median of a mix of kinds with distinct costs, it does not jump
    * between the kinds' clusters from run to run. */
  def kindMedian(samples: Seq[Sample]): Double = {
    val perKind = samples.groupBy(_.kind).values.map(ss => median(ss.map(_.seconds))).toSeq
    perKind.sum / perKind.size
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final class Loop {
    val samples = mutable.ArrayBuffer.empty[Sample]
    var attempted = 0
    var failed = 0
  }

  /** Runs op `i` once into `l`; returns its time, or NaN when it failed.
    * A throwing op or a failed output check records an error and never a
    * time. */
  def step(ctx: Ctx, wl: Workload, i: Int, l: Loop): Double = {
    ctx.tr.op = i
    l.attempted += 1
    try {
      val s = System.nanoTime()
      val d = ctx.tr.span("op", wl.name)(wl.run(ctx, i))
      val dt = (System.nanoTime() - s) / 1e9
      System.err.println(f"[wxbench] op $i ${d.kind} $dt%.3f s")
      if (d.check()) { l.samples += Sample(d.kind, dt, d.payloadBytes); dt }
      else { l.failed += 1; System.err.println(s"[wxbench] op $i: output check failed"); Double.NaN }
    } catch {
      case NonFatal(e) =>
        l.failed += 1
        System.err.println(s"[wxbench] op $i failed: $e")
        Double.NaN
    }
  }

  /** The closed loop: one client thread, one op at a time, for `seconds`
    * and until the workload's floor (`enough`) is met, up to a cap. */
  def loop(ctx: Ctx, wl: Workload, seconds: Double): Loop = {
    val l = new Loop
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val cap = math.max(4 * seconds, 90.0)
    var i = 0
    while ((elapsed < seconds || !wl.enough(l.samples.toSeq)) && elapsed < cap) {
      step(ctx, wl, i, l)
      i += 1
    }
    l
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val bootSeconds = (System.currentTimeMillis() - a.launchMs) / 1e3
    val wl: Workload = a.workload match {
      case "xql_interactive" => new Xql
      case "grid_etl" => new GridEtl
      case "corpus_dedup" => new CorpusDedup
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val listener = new CountingListener
    val tr = new Tracer(false)

    // set up `SetupRounds` times (fresh session, fresh fixtures) and take the
    // median; the last round's session and fixtures are used. setup_s is
    // JVM boot + that median + the one warm-up before the first timed op.
    var spark: SparkSession = null
    var ctx: Ctx = null
    var prevDir: String = null
    val setupSeconds = (0 until SetupRounds).map { r =>
      val t = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(a, listener)
      tr.sc = spark.sparkContext
      ctx = new Ctx(spark, tr, a.seed, Cores)
      val dir = s"${a.out}/setup$r"
      wl.setup(ctx, dir)
      val dt = (System.nanoTime() - t) / 1e9
      if (prevDir != null) Gen.deleteRecursively(new File(prevDir))
      prevDir = dir
      dt
    }
    val w0 = System.nanoTime()
    wl.warmUp(ctx)
    val warmSeconds = (System.nanoTime() - w0) / 1e9
    val setupS = bootSeconds + median(setupSeconds) + warmSeconds

    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val report = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0
    var failed = 0

    if (!a.trace) {
      val l = loop(ctx, wl, a.seconds)
      attempted = l.attempted
      failed = l.failed
      val lat = l.samples.map(_.seconds).toSeq
      val rss = peakRssMb()
      e2e("setup_s") = (setupS, "s")
      e2e("op_p50_s") = (kindMedian(l.samples.toSeq), "s")
      e2e("payload_mb_per_s") = (l.samples.map(_.payloadBytes).sum / 1e6 / lat.sum, "MB/s")
      report ++= wl.report(l.samples.toSeq)
      report("ops") = (l.samples.size.toDouble, "count")
      report("setup_s") = (setupS, "s")
      report("setup_rounds_s") = (setupSeconds.sum, "s")
      report("warm_up_s") = (warmSeconds, "s")
      report("boot_s") = (bootSeconds, "s")
      report("peak_rss_mb") = (rss, "MB")
    } else {
      // two passes over a fixed op list, each op run twice, untraced and
      // traced: the first pass runs the untraced copy first, the second
      // pass (the next traceOps ops, so new statements and files) the
      // traced copy first, so every op kind is timed in both orders. The
      // per-layer numbers come from the traced copies. The first copy of a
      // pair runs slower by some factor; the trace overhead is the
      // geometric mean of the two passes' traced/untraced ratios, in which
      // that factor cancels
      val l = new Loop
      val sums = Array.ofDim[Double](2, 2) // (pass, traced)
      for (pass <- 0 until 2; j <- 0 until wl.traceOps; on <- if (pass == 0) Seq(false, true) else Seq(true, false)) {
        val i = pass * wl.traceOps + j
        tr.enabled = on
        sums(pass)(if (on) 1 else 0) += step(ctx, wl, i, l)
      }
      tr.enabled = true
      wl.traceExtras(ctx)
      tr.enabled = false
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      attempted = l.attempted
      failed = l.failed
      layers ++= Layers.compute(tr, listener, Cores)
      val ratio = math.sqrt(sums(0)(1) / sums(0)(0) * sums(1)(1) / sums(1)(0))
      layers("trace.overhead_pct") = (100 * (ratio - 1), "%")
      layers("trace.spans") = (tr.spans.size.toDouble, "count")
      for (pass <- 0 until 2) {
        report(s"pass$pass.untraced_ops_s") = (sums(pass)(0), "s")
        report(s"pass$pass.traced_ops_s") = (sums(pass)(1), "s")
      }
      report ++= Layers.selfSeconds(tr).map { case (k, v) => s"self.$k" -> ((v, "s")) }
      Layers.writeSpans(tr, listener, s"${a.out}/trace.jsonl")
    }
    report("error_ratio") = (failed.toDouble / math.max(attempted, 1), "ratio")

    val out = new PrintWriter(new File(s"${a.out}/result.json"))
    try {
      def obj(m: Iterable[(String, (Double, String))]): String =
        m.map { case (k, (v, u)) => s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
          .mkString("{", ", ", "}")
      out.println(s"""{"workload": ${Json.str(wl.name)}, "attempted": $attempted, "failed": $failed, """ +
        s""""e2e": ${obj(e2e)}, "layers": ${obj(layers)}, "report": ${obj(report)}, """ +
        s""""outputs": ${wl.outputs(ctx, a.out).map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")}}""")
    } finally out.close()
    spark.stop()
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) str(v.toString) else v.toString

  private val Ts = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** A collected Spark cell as JSON. */
  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case t: java.time.LocalDateTime => str(t.format(Ts))
    case t: java.sql.Timestamp =>
      str(java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC).format(Ts))
    case d: java.sql.Date => str(d.toLocalDate.atStartOfDay().format(Ts))
    case d: java.time.LocalDate => str(d.atStartOfDay().format(Ts))
    case s => str(s.toString)
  }
}
