package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.analysis.Analyzer
import graft.codec.{ByteReader, ByteWriter, IntBlockCodec}
import graft.index.{IndexMetaIO, SegmentFormat, SegmentReader}
import graft.score.BM25
import graft.search.{IndexSearcher, Query, Scorer, SegmentSearch}

/** Layer probes of the traced run. The single-thread probes (analysis,
  * codec, segment write and open, per-segment top-k, index bytes) run in
  * every traced run over the workload's own index and text. Layers the
  * workload does not exercise itself are then probed once each, so every
  * traced run reports the same metric set: a `searchBatch` over the query
  * mix, two churn cycles on a copy of the index, and one pass of the battery
  * subset. The workload's own figures, where it has them, come first and
  * are never replaced. */
object Probes {
  final case class Env(spark: SparkSession, index: File, textBytes: Long,
      texts: IndexedSeq[String], mix: IndexedSeq[QueryMix.Q])

  def complete(ctx: Ctx, env: Env): Unit = {
    val mix = if (env.mix.nonEmpty) env.mix else QueryMix.make(ctx.seed, env.texts, 16)
    Trace.setOn(true)
    analysis(ctx, env)
    codec(ctx, env)
    segments(ctx, env)
    topK(ctx, env, mix)
    bytes(ctx, env)
    if (!ctx.layers.contains("search.batch.coverage")) batch(ctx, env, mix)
    if (!ctx.layers.contains("streaming.append.job_s")) churn(ctx, env, mix)
    if (!ctx.layers.contains("battery.jobs")) {
      Battery.pass(ctx, env.spark, Battery.Entries,
        Battery.expected(ctx.args.data))
      Layers.battery(ctx)
    }
  }

  private def segDirs(index: File): Seq[File] =
    IndexMetaIO.readLatest(index.getPath).get.segments.sortBy(_.segId)
      .map(m => new File(index, SegmentFormat.segDirName(m.segId)))

  /** One thread analyzing a fixed text sample with the standard analyzer. */
  private def analysis(ctx: Ctx, env: Env): Unit = {
    val an = Analyzer.byName("standard")
    def once(): Long = env.texts.map(t => an.analyze(t).size.toLong).sum
    once()
    val (tokens, sec) = Ctx.time((1 to 5).map(_ => once()).sum)
    ctx.layer("analysis.tokens_per_s", tokens / sec, "tokens/s")
  }

  /** `IntBlockCodec` over doc-delta and freq blocks read from the index. */
  private def codec(ctx: Ctx, env: Env): Unit = {
    val blocks = mutable.ArrayBuffer.empty[(Array[Int], Array[Int], Int)]
    segDirs(env.index).iterator.takeWhile(_ => blocks.size < 4096).foreach { d =>
      val r = new SegmentReader(d)
      r.allTerms.takeWhile(_ => blocks.size < 4096).foreach { ti =>
        val it = r.postings(ti, needPositions = false)
        var prev = -1
        var doc = it.nextDoc()
        while (doc != Scorer.NoMoreDocs) {
          val deltas = new Array[Int](IntBlockCodec.BlockSize)
          val freqs = new Array[Int](IntBlockCodec.BlockSize)
          var n = 0
          while (n < IntBlockCodec.BlockSize && doc != Scorer.NoMoreDocs) {
            deltas(n) = doc - prev; freqs(n) = it.freq; prev = doc; n += 1
            doc = it.nextDoc()
          }
          blocks += ((deltas, freqs, n))
        }
      }
    }
    val ints = blocks.map(_._3 * 2L).sum
    val reps = math.max(1, (20000000L / math.max(1L, ints)).toInt)
    val out = new ByteWriter(1 << 16)
    def encode(): Unit = blocks.foreach { case (d, f, n) =>
      out.reset(); IntBlockCodec.encodeBlock(d, n, out); IntBlockCodec.encodeBlock(f, n, out)
    }
    encode()
    val encS = Ctx.time((1 to reps).foreach(_ => encode()))._2
    val all = new ByteWriter(1 << 20)
    blocks.foreach { case (d, f, n) => IntBlockCodec.encodeBlock(d, n, all); IntBlockCodec.encodeBlock(f, n, all) }
    val bytes = all.toArray
    val buf = new Array[Int](IntBlockCodec.BlockSize)
    def decode(): Unit = {
      val in = new ByteReader(bytes)
      blocks.foreach { case (_, _, n) => IntBlockCodec.decodeBlock(in, n, buf); IntBlockCodec.decodeBlock(in, n, buf) }
    }
    decode()
    val decS = Ctx.time((1 to reps).foreach(_ => decode()))._2
    ctx.layer("codec.encode_ints_per_s", ints * reps / encS, "ints/s")
    ctx.layer("codec.decode_ints_per_s", ints * reps / decS, "ints/s")
  }

  /** Segment replay (encode and write) and cold segment open. */
  private def segments(ctx: Ctx, env: Env): Unit = {
    ctx.layer("index.segment_write_s", Replay.check(ctx, env.index), "s")
    val opens = segDirs(env.index).take(16).map(d => Ctx.time(new SegmentReader(d))._2 * 1000)
    ctx.layer("index.segment_open_ms", Stats.median(opens), "ms")
  }

  /** Per class: one thread running `SegmentSearch.topK` over every segment,
    * with WAND and (for `disj`) without; the exact postings the query
    * terms hold; and the time per posting. Also the df job of one query. */
  private def topK(ctx: Ctx, env: Env, mix: Seq[QueryMix.Q]): Unit = {
    val searcher = new IndexSearcher(env.spark, env.index.getPath)
    val dfJobs = mix.take(10).map(q => Ctx.time(searcher.globalDf(Query.allTerms(q.query)))._2 * 1000)
    ctx.layer("search.df_job_ms", Stats.median(dfJobs), "ms")
    val df = searcher.globalDf(mix.flatMap(q => Query.allTerms(q.query)).toSet)
    val dfFn = (t: String) => df.getOrElse(t, 0L)
    val readers = segDirs(env.index).map(d => new SegmentReader(d))
    def run(qs: Seq[QueryMix.Q], wand: Boolean): Unit = qs.foreach { q =>
      readers.foreach(r => SegmentSearch.topK(r, q.query, 10, BM25(), searcher.stats, dfFn, wand))
    }
    def usPerQuery(qs: Seq[QueryMix.Q], wand: Boolean): Double = {
      run(qs, wand)
      (1 to 3).map(_ => Ctx.time(run(qs, wand))._2).min / qs.size * 1e6
    }
    QueryMix.Classes.foreach { cls =>
      val qs = mix.filter(_.cls == cls)
      if (qs.nonEmpty) {
        val us = usPerQuery(qs, wand = true)
        val postings = qs.map(q => Query.allTerms(q.query).toSeq.map(t =>
          readers.map(_.termInfo(t).map(_.df.toLong).getOrElse(0L)).sum).sum.toDouble)
        ctx.layer(s"search.topk_us.$cls", us, "us")
        ctx.layer(s"search.postings.$cls", postings.sum / qs.size, "count")
        ctx.layer(s"search.ns_per_posting.$cls", us * 1000 / math.max(1.0, postings.sum / qs.size), "ns")
        if (cls == "disj") {
          val exh = usPerQuery(qs, wand = false)
          ctx.layer("search.topk_exh_us.disj", exh, "us")
          ctx.layer("search.wand_speedup", exh / us, "ratio")
        }
      }
    }
  }

  /** Exact bytes per text byte, by file kind, and the segment count. */
  private def bytes(ctx: Ctx, env: Env): Unit = {
    val files = Ctx.files(env.index)
    def kind(f: File): String = {
      val rel = env.index.toPath.relativize(f.toPath).toString
      if (rel.startsWith("docmap")) "docmap"
      else if (rel.startsWith("commits")) "commits"
      else f.getName match {
        case "postings.bin" => "postings"
        case "terms.bin" | "terms.idx" => "terms"
        case "norms.bin" | "doclens.bin" => "norms"
        case n if n.startsWith("del_") => "deletes"
        case _ => "other"
      }
    }
    val byKind = files.groupBy(kind).map { case (k, fs) => k -> fs.map(_.length()).sum }
    Seq("postings", "terms", "norms", "docmap", "deletes", "commits").foreach { k =>
      ctx.layer(s"index.bytes.$k", byKind.getOrElse(k, 0L).toDouble / env.textBytes, "ratio")
    }
    ctx.layer("index.segments", segDirs(env.index).size.toDouble, "count")
  }

  /** A warm-up and three traced `searchBatch` rounds over the mix, then
    * one exhaustive round. */
  private def batch(ctx: Ctx, env: Env, mix: Seq[QueryMix.Q]): Unit = {
    val searcher = new IndexSearcher(env.spark, env.index.getPath)
    val qs = mix.map(q => q.id -> q.query)
    (0 to 3).foreach { r =>
      Trace.setOn(r > 0)
      ServeWorkload.batchRound(searcher, qs)
    }
    Trace.setOn(true)
    Layers.batch(ctx, Trace.calls("IndexSearcher.searchBatch"))
    val exh = Ctx.time(searcher.searchBatch(qs, ServeWorkload.K, BM25(), useWand = false))._2
    ctx.layer("search.exhaustive_qps", qs.size / exh, "queries/s")
  }

  /** Two traced churn cycles and the compaction on a copy of the index. */
  private def churn(ctx: Ctx, env: Env, mix: IndexedSeq[QueryMix.Q]): Unit = {
    val dir = ctx.dir("probe-churn")
    Ctx.files(env.index).foreach { f =>
      val to = dir.toPath.resolve(env.index.toPath.relativize(f.toPath))
      Files.createDirectories(to.getParent)
      Files.copy(f.toPath, to, StandardCopyOption.REPLACE_EXISTING)
    }
    val meta = IndexMetaIO.readLatest(dir.getPath).get
    Layers.churn(ctx, ServeWorkload.churn(ctx, env.spark, dir.getPath, meta.segments.map(_.docCount).max,
      mix, meta.numDocs, cycles = 2, traced = _ => true))
    Ctx.rm(dir)
  }
}
