package graftbench

import java.io.File

/** One run of one workload:
  * `--workload <build|serve> --seed <n> --seconds <s>
  *  --trace <0|1> --work <fresh dir> --data <perfbench/data>`.
  * Prints a detail line, then the result line last. With `--trace 1` the
  * result carries the per-layer metrics and the spans are written to
  * `--spans <file>`. `--workload write-golden` and `write-battery`
  * regenerate the committed expected outputs under `--data`. */
object Main {
  var mainStartMs = 0L

  val EndToEnd: Seq[String] = Seq("setup_s", "rate_per_s", "op_p50_ms", "heap_peak_mb")

  val PerLayer: Seq[String] = Seq(
    "analysis.tokens_per_s", "codec.encode_ints_per_s", "codec.decode_ints_per_s") ++
    Seq("rank_s", "scan_join_s", "invert_stage_s", "commit_s", "driver_s", "task_skew", "gc_frac",
      "shuffle_write_bytes", "spill_bytes", "coverage").map("index.build." + _) ++
    Seq("index.segment_write_s") ++
    Seq("postings", "terms", "norms", "docmap", "deletes", "commits").map("index.bytes." + _) ++
    Seq("index.segments", "index.segment_open_ms", "search.df_job_ms",
      "search.batch.job_s", "search.batch.broadcast_s", "search.batch.merge_s",
      "search.batch.driver_s", "search.batch.coverage",
      "search.task_skew", "search.sched_delay_ms") ++
    QueryMix.Classes.map("search.topk_us." + _) ++
    Seq("search.topk_exh_us.disj", "search.wand_speedup") ++
    QueryMix.Classes.map("search.postings." + _) ++
    QueryMix.Classes.map("search.ns_per_posting." + _) ++
    Seq("search.exhaustive_qps", "search.first_after_commit_ms", "search.warm_ms",
      "streaming.append.job_s", "streaming.append.driver_s",
      "streaming.update.delete_ms", "streaming.update.append_ms",
      "search.delete.purge_ms", "search.delete.mark_ms", "search.delete.driver_ms",
      "index.compact.merge_s", "index.compact.bytes_rewritten",
      "index.compact.segments_in", "index.compact.segments_out",
      "battery.jobs", "battery.stages", "battery.tasks", "battery.shuffle_bytes",
      "battery.job_s", "battery.driver_s") ++
    Battery.Families.map(f => s"pipeline.${f}_s") ++
    Battery.Targeted.map(n => s"pipeline.entry.${n}_s") ++
    Seq("trace.overhead_frac")

  def main(argv: Array[String]): Unit = {
    mainStartMs = System.currentTimeMillis()
    val args = Args.parse(argv)
    if (args.trace) Trace.activate()
    val ctx = new Ctx(args)
    val cpu0 = Host.cpu()
    try args.workload match {
      case "build" => BuildWorkload.run(ctx)
      case "serve" => ServeWorkload.run(ctx)
      case "write-golden" => Golden.write(args.data); return
      case "write-battery" => Battery.write(ctx); return
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.op("workload")(throw e)
    } finally ctx.stopSession()

    ctx.phase("end")
    ctx.heapCheckpoint()
    ctx.metric("heap_peak_mb", ctx.heapPeakMb, "MB")
    ctx.namedMetric("heap_peak_mb", ctx.heapPeakMb, "MB")
    ctx.namedMetric("error_rate", ctx.failed.toDouble / math.max(1L, ctx.attempted), "fraction")
    args.spans.foreach(out => Trace.write(new File(out)))

    val detail = Map(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "traced" -> args.trace,
      "metrics" -> ctx.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failures" -> ctx.failures,
      "host" -> Map("nproc" -> Host.nproc, "mem_total_mb" -> Host.memTotalMb,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "masters" -> ctx.masters.distinct, "run" -> cpu0.window(Host.cpu()),
        "windows" -> ctx.hostWindows),
      "phases_s" -> ctx.phases, "info" -> ctx.info)
    println("graftbench " + Json(detail))

    val wanted = if (args.trace) PerLayer else EndToEnd
    val have = if (args.trace) ctx.layers else ctx.metrics
    val missing = wanted.filterNot(have.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[graftbench] no value for: ${missing.mkString(", ")}")
      sys.exit(1)
    }
    val out = wanted.map(k => k -> have(k))
    println(s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":${Json.metrics(scala.collection.mutable.LinkedHashMap(out: _*))}}""")
    sys.exit(0)
  }
}
