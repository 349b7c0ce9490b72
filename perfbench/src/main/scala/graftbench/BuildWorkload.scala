package graftbench

import java.io.File
import java.nio.file.Files

import graft.index.{IndexBuilder, IndexConfig, IndexMetaIO, SegmentFormat}

/** `build`: a seeded table built with the default `IndexConfig` layout
  * (positions and docmap on), `docsPerSegment` sized for several segments
  * per core, alternating `local[1]` and `local[4]` builds: the 1x-to-4x
  * scaling pair of the north rule. */
object BuildWorkload {
  val Docs = 10000
  val SegmentsPerCore = 4
  val Low = 1
  val High = 4

  def run(ctx: Ctx): Unit = {
    val dps = Docs / (High * SegmentsPerCore)
    val (spark, sessionS) = Ctx.time(ctx.session(High))
    val corpus = new File(ctx.work, "corpus").getPath
    var textBytes = 0L
    val gens = (1 to 3).map(_ => Ctx.time { textBytes = Corpus.write(spark, ctx.seed, Docs, corpus) }._2)
    // JIT warm-up: one untimed build of a quarter of the table
    IndexBuilder.build(spark, spark.read.parquet(corpus).limit(Docs / 4),
      IndexConfig(ctx.dir("warm").getPath, docsPerSegment = dps))
    Ctx.rm(new File(ctx.work, "warm"))
    ctx.heapCheckpoint()
    Setup.record(ctx, Seq("session_start" -> sessionS), gens)
    ctx.phase("setup")

    // a fixed number of interleaved pairs, never cut short by speed; in a
    // traced run every other pair is traced
    val pairs = math.max(3, ctx.seconds / 3)
    val secs = collection.mutable.Map.empty[(Int, Int), Double] // (pair, cores) -> build seconds
    val widths = collection.mutable.Map.empty[Int, Int]
    def tracedPair(p: Int) = Trace.traced && p % 2 == 1
    ctx.window("builds") {
      for (p <- 0 until pairs; cores <- Seq(Low, High)) {
        val s = ctx.session(cores)
        widths(cores) = s.sparkContext.defaultParallelism
        val d = ctx.dir(s"idx-$cores-$p")
        Trace.setOn(tracedPair(p))
        ctx.timedOp(s"IndexBuilder.build local[$cores]") {
          Trace.request(Trace.span("IndexBuilder.build", "index") {
            IndexBuilder.build(s, s.read.parquet(corpus), IndexConfig(d.getPath, docsPerSegment = dps))
          })
        }.foreach { case (_, sec) => secs((p, cores)) = sec }
        Trace.setOn(true)
        if (p < pairs - 1) Ctx.rm(d)
      }
    }
    def times(cores: Int, traced: Boolean) =
      (0 until pairs).filter(tracedPair(_) == traced).flatMap(p => secs.get((p, cores)))
    // one pair = its local[1] build plus its local[4] build, back to back
    val pairS = (0 until pairs).filterNot(tracedPair).flatMap(p =>
      for (a <- secs.get((p, Low)); b <- secs.get((p, High))) yield a + b)
    ctx.heapProbe {
      val s = ctx.session(High)
      IndexBuilder.build(s, s.read.parquet(corpus), IndexConfig(ctx.dir("heap-probe").getPath, docsPerSegment = dps))
    }
    Ctx.rm(new File(ctx.work, "heap-probe"))
    ctx.heapCheckpoint()
    ctx.phase("builds")
    val lowDir = new File(ctx.work, s"idx-$Low-${pairs - 1}")
    val highDir = new File(ctx.work, s"idx-$High-${pairs - 1}")

    // correctness: the two widths produce byte-identical segments, and a
    // segment replayed through a fresh SegmentWriter reproduces its bytes
    ctx.check(s"scaling pair runs at two widths (got ${widths.toSeq.sorted})")(
      widths.get(Low).contains(Low) && widths.get(High).contains(High))
    ctx.check("local[1] and local[4] builds commit the same segment set")(
      segmentFiles(lowDir).map(_._1) == segmentFiles(highDir).map(_._1))
    segmentFiles(lowDir).zip(segmentFiles(highDir)).foreach { case ((name, a), (_, b)) =>
      ctx.check(s"segment file $name is byte-identical at local[1] and local[4]")(
        java.util.Arrays.equals(Files.readAllBytes(a.toPath), Files.readAllBytes(b.toPath)))
    }
    val spark4 = ctx.session(High)
    Replay.check(ctx, highDir)

    ctx.phase("checks")
    val lowThr = Docs / Stats.median(times(Low, traced = false))
    val highThr = Docs / Stats.median(times(High, traced = false))
    ctx.namedMetric("build_docs_per_s", highThr, "docs/s")
    ctx.namedMetric("build_docs_per_s_local1", lowThr, "docs/s")
    ctx.namedMetric("build_scaling_eff", highThr / (High * lowThr), "ratio")
    ctx.namedMetric("index_bytes_per_text_byte", Ctx.bytes(highDir).toDouble / textBytes, "ratio")
    ctx.info("scaling_pair_masters") = Seq(s"local[$Low]", s"local[$High]")
    ctx.info("build_rounds_per_width") = times(High, traced = false).size
    ctx.info("docs") = Docs
    ctx.info("docs_per_segment") = dps
    ctx.metric("rate_per_s", highThr, "1/s")
    ctx.namedMetric("build_pair_p50_ms", Stats.median(pairS) * 1000, "ms")
    ctx.metric("op_p50_ms", Stats.median(pairS) * 1000, "ms")

    if (Trace.traced) {
      Layers.overhead(ctx, Seq(Low, High).map(c =>
        Stats.median(times(c, traced = true)) / Stats.median(times(c, traced = false))))
      Layers.build(ctx, Trace.calls("IndexBuilder.build").filter(_.req != 0).takeRight(1))
      Probes.complete(ctx, Probes.Env(spark4, highDir, textBytes,
        QueryMix.syntheticTexts(ctx.seed, Docs, 200), IndexedSeq.empty))
    }
  }

  /** (relative name, file) of every segment file of the committed index. */
  def segmentFiles(indexDir: File): Seq[(String, File)] =
    IndexMetaIO.readLatest(indexDir.getPath).toSeq.flatMap(_.segments).sortBy(_.segId).flatMap { m =>
      val d = new File(indexDir, SegmentFormat.segDirName(m.segId))
      Ctx.files(d).map(f => (s"${d.getName}/${f.getName}", f))
    }
}
