package graftbench

/** Per-layer metrics from the traced run's spans. Jobs and stages are
  * attributed by the order in which a call submits them and by stage role
  * (shuffle-map or result), never by source line. Where a call was traced
  * several times, each metric is the median over those calls. */
object Layers {
  import Trace.Span

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def jobTime(s: Span): Double = Trace.jobs(s).map(_.dur).sum
  private def skew(tasks: Seq[Span]): Double = {
    val d = tasks.map(_.dur).filter(_ > 0)
    if (d.isEmpty) 1.0 else d.max / Stats.median(d)
  }
  private def attr(spans: Seq[Span], k: String): Double = spans.flatMap(_.attrs.get(k)).sum

  def overhead(ctx: Ctx, tracedOverUntraced: Seq[Double]): Unit =
    ctx.layer("trace.overhead_frac", Stats.median(tracedOverUntraced) - 1.0, "fraction")

  /** `IndexBuilder.build`: the url-rank jobs (every job but the last:
    * sorts and counts), the last job's shuffle-map stages (scan, join and
    * the doc-range shuffle write) and its result stage (inversion and
    * segment write), and the driver time outside every job (planning, the
    * gaps between jobs, and `commit_s`, the commit after the last job).
    * `coverage` is the share of the build's wall time inside a job span. */
  def build(ctx: Ctx, spans: Seq[Span]): Unit = {
    Trace.drain()
    val parts = spans.filter(s => Trace.jobs(s).nonEmpty).map { s =>
      val jobs = Trace.jobs(s)
      val invertJob = jobs.last
      val result = Trace.stages(invertJob).filter(_.attrs.get("result").contains(1.0))
      val invertS = result.map(_.dur).sum
      val jobS = jobs.map(_.dur).sum
      val tasks = jobs.flatMap(Trace.tasks)
      val resultIds = result.map(_.name.stripPrefix("stage-").toDouble).toSet
      Map("rank_s" -> jobs.init.map(_.dur).sum,
        "scan_join_s" -> math.max(0.0, invertJob.dur - invertS), "invert_stage_s" -> invertS,
        "commit_s" -> (s.end - invertJob.end) / 1e9, "driver_s" -> (s.dur - jobS),
        "coverage" -> jobS / s.dur,
        "task_skew" -> skew(Trace.tasks(invertJob).filter(t => resultIds.contains(t.attrs("stage")))),
        "gc_frac" -> attr(tasks, "gc_ms") / math.max(1.0, attr(tasks, "run_ms")),
        "shuffle_write_bytes" -> attr(tasks, "shuffle_write_bytes"),
        "spill_bytes" -> attr(tasks, "spill_bytes"))
    }
    if (parts.nonEmpty) {
      val units = Map("coverage" -> "fraction", "task_skew" -> "ratio", "gc_frac" -> "fraction",
        "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes")
      parts.head.keys.foreach(k => ctx.layer(s"index.build.$k", med(parts.map(_(k))), units.getOrElse(k, "s")))
    }
  }

  /** `searchBatch`: its jobs (df, then search) and the driver time
    * outside them, of which `broadcast_s` lies between the last two jobs
    * and `merge_s` after the last; `coverage` is the share of the call's
    * wall time inside a job span. Task skew and scheduler delay of the
    * search job. */
  def batch(ctx: Ctx, spans: Seq[Span]): Unit = {
    Trace.drain()
    val parts = spans.filter(s => Trace.jobs(s).size >= 2).map { s =>
      val jobs = Trace.jobs(s)
      val jobS = jobs.map(_.dur).sum
      Map("job_s" -> jobS, "broadcast_s" -> (jobs.last.start - jobs.init.last.end) / 1e9,
        "merge_s" -> (s.end - jobs.last.end) / 1e9, "driver_s" -> (s.dur - jobS),
        "coverage" -> jobS / s.dur,
        "task_skew" -> skew(Trace.tasks(jobs.last)),
        "sched_delay_ms" -> med(jobs.flatMap(Trace.tasks).flatMap(_.attrs.get("sched_ms"))))
    }
    if (parts.isEmpty) return
    Seq("job_s", "broadcast_s", "merge_s", "driver_s").foreach(k =>
      ctx.layer(s"search.batch.$k", med(parts.map(_(k))), "s"))
    ctx.layer("search.batch.coverage", med(parts.map(_("coverage"))), "fraction")
    ctx.layer("search.task_skew", med(parts.map(_("task_skew"))), "ratio")
    ctx.layer("search.sched_delay_ms", med(parts.map(_("sched_delay_ms"))), "ms")
  }

  /** Streaming appends and updates, deletes, the searches after each
    * commit, and the compaction (bytes of the segments it retired). An update
    * is its delete half (the df, orphan-purge and mark jobs, the first
    * three it submits) followed by its append half; a delete is the df
    * job, the purge job, the mark job and the commit on the driver. */
  def churn(ctx: Ctx, ch: ServeWorkload.Churn): Unit = {
    Trace.drain()
    val appends = Trace.calls("StreamingIndexer.appendBatch")
    ctx.layer("streaming.append.job_s", med(appends.map(jobTime)), "s")
    ctx.layer("streaming.append.driver_s", med(appends.map(s => s.dur - jobTime(s))), "s")
    val updates = Trace.calls("StreamingIndexer.updateDocuments").filter(s => Trace.jobs(s).size > 3)
    val delHalf = updates.map(s => (Trace.jobs(s)(2).end - s.start) / 1e9)
    ctx.layer("streaming.update.delete_ms", med(delHalf) * 1000, "ms")
    ctx.layer("streaming.update.append_ms", med(updates.zip(delHalf).map { case (s, d) => s.dur - d }) * 1000, "ms")
    val deletes = Trace.calls("IndexSearcher.deleteDocs").filter(s => Trace.jobs(s).size >= 3)
    ctx.layer("search.delete.purge_ms", med(deletes.map(s => Trace.jobs(s)(1).dur)) * 1000, "ms")
    ctx.layer("search.delete.mark_ms", med(deletes.map(s => Trace.jobs(s)(2).dur)) * 1000, "ms")
    ctx.layer("search.delete.driver_ms", med(deletes.map(s => s.dur - jobTime(s))) * 1000, "ms")
    ctx.layer("index.compact.merge_s", med(Trace.calls("Maintenance.compact").map(_.dur)), "s")
    val kept = ch.segsAfter.map(_.segId).toSet
    ctx.layer("index.compact.bytes_rewritten",
      ch.segsBefore.filterNot(m => kept(m.segId)).map(_.bytes).sum.toDouble, "bytes")
    ctx.layer("index.compact.segments_in", ch.segsBefore.size.toDouble, "count")
    ctx.layer("index.compact.segments_out", ch.segsAfter.size.toDouble, "count")
    ctx.layer("search.first_after_commit_ms", med(ch.first) * 1000, "ms")
    ctx.layer("search.warm_ms", med(ch.warm) * 1000, "ms")
  }

  /** The battery's entries: exact job, stage, task and shuffle counts, job
    * time against driver time, and per-family and per-entry sums. */
  def battery(ctx: Ctx): Unit = {
    Trace.drain()
    val entries = Trace.all.filter(s => s.kind == "call" && s.name.startsWith("SparkEntry."))
    val jobs = entries.flatMap(Trace.jobs)
    val tasks = jobs.flatMap(Trace.tasks)
    ctx.layer("battery.jobs", jobs.size.toDouble, "count")
    ctx.layer("battery.stages", jobs.map(j => Trace.stages(j).size).sum.toDouble, "count")
    ctx.layer("battery.tasks", tasks.size.toDouble, "count")
    ctx.layer("battery.shuffle_bytes", attr(tasks, "shuffle_write_bytes"), "bytes")
    val jobS = jobs.map(_.dur).sum
    ctx.layer("battery.job_s", jobS, "s")
    ctx.layer("battery.driver_s", entries.map(_.dur).sum - jobS, "s")
    val byName = entries.groupBy(_.name.stripPrefix("SparkEntry.")).map { case (n, ss) => n -> med(ss.map(_.dur)) }
    Battery.Families.foreach { f =>
      ctx.layer(s"pipeline.${f}_s", byName.filter(e => Battery.family(e._1) == f).values.sum, "s")
    }
    Battery.Targeted.foreach(n => ctx.layer(s"pipeline.entry.${n}_s", byName.getOrElse(n, 0.0), "s"))
  }
}
