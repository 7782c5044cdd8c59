package graft.wxbench

import java.io.{File, PrintWriter}

/** Turns the traced pass's spans and listener counts into the per-layer
  * metrics. Every metric is reported on every workload; a layer the
  * workload does not touch reads 0. */
object Layers {
  private val MB = 1e6

  /** Codec metric prefixes, in the order [[Codecs]] reports them. */
  val Codecs: Seq[String] = Seq("sources.zarr.blosc", "sources.zarr.zstd",
    "sources.grib.jpeg2000", "sources.grib.ccsds", "sources.grib.complex",
    "sources.hdf5.deflate_shuffle")

  def compute(tr: Tracer, lis: CountingListener, cores: Int): Seq[(String, (Double, String))] = {
    val spans = tr.spans.toSeq
    def dur(layer: String): Double = spans.filter(_.layer == layer).map(_.seconds).sum
    def jobs(ss: Seq[Span]): Double = lis.total(ss.map(_.id))("jobs").toDouble
    def extra(k: String): Double = tr.extras.getOrElse(k, 0.0)
    val all = lis.total(spans.map(_.id))
    val actionS = dur("spark.action")
    val taskRunS = all("task_run_ms") / 1e3
    val cands = extra("operators.dedup.lsh_candidates")
    val verified = extra("operators.dedup.verified_pairs")
    Seq(
      "plans.analyze_s" -> ((extra("plans.analyze_s"), "s")),
      "plans.optimize_s" -> ((dur("plans.optimize"), "s")),
      "plans.physical_s" -> ((dur("plans.physical"), "s")),
      "operators.builder_s" -> ((dur("operators.builder"), "s")),
      "operators.builder_jobs" -> ((jobs(spans.filter(_.layer == "operators.builder")), "count")),
      "operators.dedup.cc_jobs" -> ((jobs(spans.filter(_.tag == "cc")), "count")),
      "operators.dedup.lsh_candidates" -> ((cands, "count")),
      "operators.dedup.verified_pairs" -> ((verified, "count")),
      "operators.dedup.verify_ratio" -> ((if (cands > 0) verified / cands else 0.0, "ratio")),
      "operators.mover.extract_s" -> ((dur("operators.mover.extract"), "s")),
      "operators.splitter.split_s" -> ((dur("operators.splitter.split"), "s")),
      "operators.splitter.files_written" -> ((extra("operators.splitter.files_written"), "count")),
      "spark.action_s" -> ((actionS, "s")),
      "spark.jobs" -> ((all("jobs").toDouble, "count")),
      "spark.stages" -> ((all("stages").toDouble, "count")),
      "spark.tasks" -> ((all("tasks").toDouble, "count")),
      "spark.task_run_s" -> ((taskRunS, "s")),
      "spark.task_cpu_s" -> ((all("task_cpu_ns") / 1e9, "s")),
      "spark.slot_util" -> ((if (actionS > 0) taskRunS / (actionS * cores) else 0.0, "ratio")),
      "spark.shuffle_write_mb" -> ((all("shuffle_write") / MB, "MB")),
      "spark.shuffle_read_mb" -> ((all("shuffle_read") / MB, "MB")),
      "spark.spill_mb" -> ((all("spill") / MB, "MB")),
      "spark.gc_s" -> ((all("gc_ms") / 1e3, "s")),
      "sources.open_s" -> ((dur("sources.open"), "s")),
      "sources.bytes_read_mb" -> ((all("bytes_read") / MB, "MB")),
      "sources.records_read" -> ((all("records_read").toDouble, "count"))) ++
      Codecs.flatMap { c =>
        Seq(s"${c}_mb_per_s" -> ((extra(s"${c}_mb_per_s"), "MB/s")),
          s"${c}_in_mb" -> ((extra(s"${c}_in_mb"), "MB")),
          s"${c}_out_mb" -> ((extra(s"${c}_out_mb"), "MB")))
      } ++ Seq(
      "sources.zarr.write_s" -> ((dur("sources.zarr.write"), "s")),
      "sources.zarr.bytes_written_mb" -> ((extra("sources.zarr.bytes_written_mb"), "MB")))
  }

  /** Each layer's self time: its spans' time minus their child spans'. */
  def selfSeconds(tr: Tracer): Seq[(String, Double)] = {
    val childTime = tr.spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    tr.spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Writes every span with its own listener counts, one JSON object a line. */
  def writeSpans(tr: Tracer, lis: CountingListener, path: String): Unit = {
    val out = new PrintWriter(new File(path))
    try tr.spans.foreach { s =>
      val c = lis.total(Seq(s.id))
      out.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""layer": ${Json.str(s.layer)}, "call": ${Json.str(s.call)}, "tag": ${Json.str(s.tag)}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "jobs": ${c("jobs")}, """ +
        s""""stages": ${c("stages")}, "tasks": ${c("tasks")}}""")
    }
    finally out.close()
  }
}
