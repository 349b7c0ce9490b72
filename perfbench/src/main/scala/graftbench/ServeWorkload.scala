package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.index.{IndexBuilder, IndexConfig, IndexMetaIO, Maintenance, SegmentMeta}
import graft.score.BM25
import graft.search.{IndexSearcher, Query, ScoredDoc, TermQ}
import graft.streaming.StreamingIndexer

/** `serve`: reads, then writes beside reads, on one index built in setup.
  *
  * Query phase: `searchBatch` rounds (k=10, BM25) over a fixed seeded mix
  * of distinct queries in four classes, then single `search` calls from
  * one client. The classes separate the WAND path (`disj`,
  * `rare_common`) from paths WAND never takes (`conj`, `phrase`).
  *
  * Churn phase: each cycle appends a batch whose documents carry a marker
  * token no other batch has, replaces that batch with `updateDocuments`,
  * deletes the previous cycle's replacement by its marker, and opens a
  * fresh `IndexSearcher` for a few searches. It ends with
  * `Maintenance.compact`. Every count is checked. */
object ServeWorkload {
  val Docs = 8000
  val SegmentsPerCore = 4
  val PerClass = 96
  val K = 10
  val Batch = 100
  val SearchesPerCycle = 4

  private def appendMarker(i: Int) = f"mka$i%04d"
  private def updateMarker(i: Int) = if (i < 0) "mkuseed" else f"mku$i%04d"

  def sameHits(a: Array[ScoredDoc], b: Array[ScoredDoc]): Boolean =
    a.length == b.length && a.indices.forall(i => a(i).docId == b(i).docId &&
      java.lang.Double.doubleToLongBits(a(i).score) == java.lang.Double.doubleToLongBits(b(i).score))

  def run(ctx: Ctx): Unit = {
    val (spark, sessionS) = Ctx.time(ctx.session(4))
    val dps = Docs / (4 * SegmentsPerCore)

    // setup: generate the table (three times; the median counts), then
    // build the index once
    val corpus = new File(ctx.work, "corpus").getPath
    var textBytes = 0L
    val gens = (1 to 3).map(_ => Ctx.time { textBytes = Corpus.write(spark, ctx.seed, Docs, corpus) }._2)
    val idx = new File(ctx.work, "idx")
    val dir = idx.getPath
    val buildS = Ctx.time {
      Trace.span("IndexBuilder.build", "index") {
        IndexBuilder.build(spark, spark.read.parquet(corpus), IndexConfig(dir, docsPerSegment = dps))
      }
    }._2
    ctx.heapCheckpoint()
    val searcher = new IndexSearcher(spark, dir)
    val texts = QueryMix.syntheticTexts(ctx.seed, Docs, 200)
    val mix = QueryMix.make(ctx.seed, texts, PerClass)
    val batch = mix.map(q => q.id -> q.query)
    // JIT warm-up on the same paths, untimed
    (1 to 2).foreach(_ => searcher.searchBatch(batch, K, BM25()))
    mix.take(4).foreach(q => searcher.search(q.query, K, BM25()))
    Setup.record(ctx, Seq("session_start" -> sessionS, "index_build" -> buildS), gens)
    ctx.phase("setup")

    // query phase: fixed numbers of rounds and calls; in a traced run every
    // other one is untraced, for the overhead figure
    def traceEven[A](i: Int)(f: => A): A = {
      Trace.setOn(i % 2 == 0)
      try f finally Trace.setOn(true)
    }
    var reference: Map[String, Array[ScoredDoc]] = null
    val roundS = ctx.window("batch") {
      (0 until math.max(3, ctx.seconds)).flatMap { r =>
        traceEven(r)(ctx.timedOp("searchBatch") {
          batchRound(searcher, batch)
        }).map { case (res, s) =>
          if (reference == null) reference = res
          ctx.check(s"searchBatch round $r repeats round 0")(mix.forall(q => sameHits(res(q.id), reference(q.id))))
          (r % 2 == 0, s)
        }
      }
    }
    val order = new scala.util.Random(ctx.seed).shuffle(mix.indices.toList)
    val latS = ctx.window("latency") {
      (0 until 8 * ctx.seconds).flatMap { i =>
        val q = mix(order(i % order.size))
        traceEven(i)(ctx.timedOp("search") {
          Trace.request(Trace.span("IndexSearcher.search", "search")(searcher.search(q.query, K, BM25())))
        }).map { case (hits, s) =>
          if (reference != null)
            ctx.check(s"search ${q.id} equals its searchBatch result")(sameHits(hits, reference(q.id)))
          (i % 2 == 0, s)
        }
      }
    }
    ctx.phase("query")
    ctx.heapProbe(searcher.searchBatch(batch, K, BM25()))

    // WAND is bit-identical to exhaustive on every query, and the fixed
    // canary table reproduces its committed golden top-k
    val exhaustive = Ctx.time(searcher.searchBatch(batch, K, BM25(), useWand = false))
    if (reference != null) mix.foreach { q =>
      ctx.check(s"WAND top-$K equals exhaustive for ${q.id}")(sameHits(reference(q.id), exhaustive._1(q.id)))
    }
    Golden.check(ctx, spark)
    ctx.heapCheckpoint()
    ctx.phase("query_checks")

    // churn phase, on the same index
    val ch = churn(ctx, spark, dir, dps, mix, Docs, math.max(4, ctx.seconds / 2), traced = _ % 2 == 1)
    ctx.heapCheckpoint()
    ctx.phase("churn")

    // live text after the churn: the table plus the one batch still live
    val liveText = textBytes + ch.liveTextAdded
    val untraced = (xs: Seq[(Boolean, Double)]) => xs.filter(x => !Trace.traced || !x._1).map(_._2)
    val rounds = untraced(roundS)
    val lat = untraced(latS).map(_ * 1000)
    val cyc = untraced(ch.cycles)
    val qps = batch.size / Stats.median(rounds)
    val p50 = (k: String) => Stats.median(ch.steps(k)) * 1000
    ctx.namedMetric("query_batch_qps", qps, "queries/s")
    ctx.namedMetric("search_p50_ms", Stats.median(lat), "ms")
    ctx.namedMetric("search_p99_ms", Stats.percentile(lat, 99), "ms")
    ctx.namedMetric("churn_cycle_p50_ms", Stats.median(cyc) * 1000, "ms")
    ctx.namedMetric("append_p50_ms", p50("append"), "ms")
    ctx.namedMetric("update_p50_ms", p50("update"), "ms")
    ctx.namedMetric("delete_p50_ms", p50("delete"), "ms")
    ctx.namedMetric("churn_search_p50_ms", Stats.median(ch.steps("first") ++ ch.steps("warm")) * 1000, "ms")
    ch.compactS.foreach(s => ctx.namedMetric("compact_s", s, "s"))
    ctx.namedMetric("index_bytes_per_text_byte", Ctx.bytes(idx).toDouble / liveText, "ratio")
    ctx.info("search_latency_samples") = lat.size
    ctx.info("batch_queries") = batch.size
    ctx.info("batch_rounds") = rounds.size
    ctx.info("churn_cycles") = cyc.size
    ctx.info("segments_before_compact") = ch.segsBefore.size
    ctx.info("segments_after_compact") = ch.segsAfter.size
    ctx.metric("rate_per_s", qps, "1/s")
    ctx.metric("op_p50_ms", Stats.median(cyc) * 1000, "ms")

    if (Trace.traced) {
      val traced = (xs: Seq[(Boolean, Double)]) => xs.filter(_._1).map(_._2)
      Layers.overhead(ctx, Seq(
        Stats.median(traced(roundS)) / Stats.median(rounds),
        Stats.median(traced(latS)) * 1000 / Stats.median(lat),
        Stats.median(traced(ch.cycles)) / Stats.median(cyc)))
      ctx.layer("search.exhaustive_qps", batch.size / exhaustive._2, "queries/s")
      Layers.batch(ctx, Trace.calls("IndexSearcher.searchBatch"))
      Layers.build(ctx, Trace.calls("IndexBuilder.build"))
      Layers.churn(ctx, ch)
      Probes.complete(ctx, Probes.Env(spark, idx, liveText, texts, mix))
    }
  }

  /** One `searchBatch` round (k=10, BM25) of `batch`, a traced call when
    * tracing is on. */
  def batchRound(searcher: IndexSearcher, batch: Seq[(String, Query)]): Map[String, Array[ScoredDoc]] =
    Trace.request(Trace.span("IndexSearcher.searchBatch", "search")(searcher.searchBatch(batch, K, BM25())))

  /** What a churn measured. `steps` holds the seconds of each step of the
    * untraced cycles (`append`, `update`, `delete`, and the `first` and
    * `warm` searches after the commit); `cycles` each cycle's seconds and
    * whether it was traced; `first` and `warm` the searches of every
    * cycle. `liveTextAdded` is the text of the one batch left live. */
  final case class Churn(steps: Map[String, Seq[Double]], cycles: Seq[(Boolean, Double)],
      first: Seq[Double], warm: Seq[Double], compactS: Option[Double],
      segsBefore: Seq[SegmentMeta], segsAfter: Seq[SegmentMeta], liveTextAdded: Long)

  /** `cycles` churn cycles on the index at `dir`, then `Maintenance.compact`,
    * with every count checked. New pages take the page indexes from
    * `firstDoc` on; cycle `i` is traced when `traced(i)`. */
  def churn(ctx: Ctx, spark: SparkSession, dir: String, dps: Int, mix: IndexedSeq[QueryMix.Q],
      firstDoc: Long, cycles: Int, traced: Int => Boolean): Churn = {
    def count(term: String): Long = new IndexSearcher(spark, dir).matchingDocs(TermQ(term)).count()
    def liveDocs(): Long = new IndexSearcher(spark, dir).liveDocCount()
    // a first replacement batch, for cycle 0 to delete
    val start = liveDocs()
    StreamingIndexer.appendBatch(spark, Corpus.batch(spark, ctx.seed, firstDoc, Batch, updateMarker(-1)),
      dir, docsPerSegment = dps)
    val base = liveDocs()
    ctx.check(s"the first batch adds $Batch live docs before the churn")(base == start + Batch)
    val t = Seq("append", "update", "delete", "first", "warm").map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val cycleS = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val searchAll = Map("first" -> mutable.ArrayBuffer.empty[Double], "warm" -> mutable.ArrayBuffer.empty[Double])
    var nextDoc = firstDoc + Batch
    ctx.window("churn") {
      for (i <- 0 until cycles) {
        val on = traced(i)
        var cycle = 0.0
        def timed[A](kind: String, name: String, layer: String)(f: => A): Option[A] = {
          Trace.setOn(on)
          try ctx.timedOp(name)(Trace.request(Trace.span(name, layer)(f))).map { case (a, s) =>
            cycle += s
            if (!(on && Trace.traced)) t(kind) += s
            searchAll.get(kind).foreach(_ += s)
            a
          } finally Trace.setOn(false)
        }
        val appendDf = Corpus.batch(spark, ctx.seed, nextDoc, Batch, appendMarker(i))
        val updateDf = Corpus.batch(spark, ctx.seed, nextDoc + Batch, Batch, updateMarker(i))
        nextDoc += 2 * Batch

        timed("append", "StreamingIndexer.appendBatch", "streaming") {
          StreamingIndexer.appendBatch(spark, appendDf, dir, docsPerSegment = dps)
        }
        ctx.check(s"cycle $i: append adds $Batch live docs")(liveDocs() == base + Batch)
        timed("update", "StreamingIndexer.updateDocuments", "streaming") {
          StreamingIndexer.updateDocuments(spark, dir, TermQ(appendMarker(i)), updateDf, docsPerSegment = dps)
        }
        ctx.check(s"cycle $i: update keeps the live count")(liveDocs() == base + Batch)
        ctx.check(s"cycle $i: update moves the marker counts")(
          count(appendMarker(i)) == 0 && count(updateMarker(i)) == Batch)
        val deleter = new IndexSearcher(spark, dir)
        timed("delete", "IndexSearcher.deleteDocs", "search") {
          deleter.deleteDocs(TermQ(updateMarker(i - 1)))
        }.foreach(n => ctx.check(s"cycle $i: deleteDocs removes exactly $Batch docs (got $n)")(n == Batch))
        ctx.check(s"cycle $i: delete leaves the base live count")(liveDocs() == base)
        // a reader re-opened after the commit, then warm searches
        val fresh = new IndexSearcher(spark, dir)
        (0 until SearchesPerCycle).foreach { j =>
          val q = mix((i * SearchesPerCycle + j) % mix.size)
          timed(if (j == 0) "first" else "warm", "IndexSearcher.search", "search") {
            fresh.search(q.query, K, BM25())
          }
        }
        cycleS += ((on, cycle))
      }
    }
    Trace.setOn(true)

    // compaction keeps the live count and the marker match sets
    val last = updateMarker(cycles - 1)
    def matchSet(term: String): Seq[Long] =
      new IndexSearcher(spark, dir).matchingDocs(TermQ(term)).collect().map(_.getLong(0)).sorted.toSeq
    val before = matchSet(last)
    val segsBefore = IndexMetaIO.readLatest(dir).get.segments
    val compactS = ctx.timedOp("Maintenance.compact") {
      Trace.request(Trace.span("Maintenance.compact", "index")(Maintenance.compact(spark, dir, dps)))
    }.map(_._2)
    val segsAfter = IndexMetaIO.readLatest(dir).get.segments
    ctx.check("compact keeps the live count")(liveDocs() == base)
    ctx.check(s"compact keeps the match set of $last")(matchSet(last) == before && before.size == Batch)
    ctx.check("compact keeps deleted markers empty")(
      (0 until cycles).forall(i => count(appendMarker(i)) == 0) && count(updateMarker(cycles - 2)) == 0)
    ctx.check("compact merges the small segments")(segsAfter.size < segsBefore.size)
    val liveTextAdded = Corpus.batch(spark, ctx.seed, nextDoc - Batch, Batch, last)
      .selectExpr("sum(octet_length(text))").head().getLong(0)
    Churn(t.map { case (k, v) => k -> v.toSeq }, cycleS.toSeq, searchAll("first").toSeq,
      searchAll("warm").toSeq, compactS, segsBefore, segsAfter, liveTextAdded)
  }
}
