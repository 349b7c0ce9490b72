package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.analysis.Analyzer
import graft.index.{IndexBuilder, IndexConfig}
import graft.score.BM25
import graft.search.{BruteForce, IndexSearcher}

/** A fixed canary: a small table that never depends on `--seed`, a fixed
  * query set over it, and its top-10 (docId, score) committed in
  * `golden_topk.tsv`. The file was written by `BruteForce`, the engine's
  * exhaustive single-thread spec (`--workload write-golden`); every query
  * run checks that the distributed engine reproduces it bit for bit. */
object Golden {
  val Seed = 7L
  val Docs = 1200
  val PerClass = 8
  val K = 10

  private def texts: IndexedSeq[String] = (0 until Docs).map(i => Corpus.text(Seed, i.toLong))
  private def queries = QueryMix.make(Seed, texts.take(150), PerClass)
  def file(data: File): File = new File(data, "golden_topk.tsv")

  /** docId is the url's rank, as the builder assigns it. */
  private def docIds: IndexedSeq[(Long, String)] = {
    val pages = (0 until Docs).map(i => graft.corpus.SyntheticCorpus.page(Seed, i.toLong, Corpus.AvgLen, Corpus.Vocab))
    pages.sortBy(_.url).zipWithIndex.map { case (p, rank) => (rank.toLong, p.text) }
  }

  def write(data: File): Unit = {
    val corpus = BruteForce.analyzeCorpus(Analyzer.byName("standard"), docIds)
    val w = new PrintWriter(file(data), "UTF-8")
    try queries.foreach { q =>
      BruteForce.search(corpus, q.query, K, BM25()).zipWithIndex.foreach { case (h, r) =>
        w.println(s"${q.id}\t$r\t${h.docId}\t${java.lang.Double.toString(h.score)}")
      }
    } finally w.close()
  }

  def check(ctx: Ctx, spark: SparkSession): Unit = {
    val expected: Map[String, Seq[(Long, Double)]] =
      Files.readAllLines(file(ctx.args.data).toPath).asScala.toSeq.map(_.split('\t'))
        .groupBy(_(0)).map { case (id, rows) =>
          id -> rows.sortBy(_(1).toInt).map(r => (r(2).toLong, r(3).toDouble))
        }
    val dir = ctx.dir("golden-index")
    val corpus = new File(ctx.work, "golden-corpus").getPath
    graft.corpus.SyntheticCorpus.generate(spark, Docs, Seed, Corpus.AvgLen, Corpus.Vocab)
      .write.mode("overwrite").parquet(corpus)
    IndexBuilder.build(spark, spark.read.parquet(corpus), IndexConfig(dir.getPath, docsPerSegment = Docs / 4))
    val qs = queries
    val got = new IndexSearcher(spark, dir.getPath).searchBatch(qs.map(q => q.id -> q.query), K, BM25())
    ctx.check("golden query set matches the committed file")(qs.map(_.id).toSet == expected.keySet)
    qs.foreach { q =>
      ctx.check(s"golden top-$K for ${q.id}") {
        val g = got(q.id).toSeq.map(h => (h.docId, h.score))
        val e = expected.getOrElse(q.id, Nil)
        g.size == e.size && g.zip(e).forall { case ((d1, s1), (d2, s2)) =>
          d1 == d2 && java.lang.Double.doubleToLongBits(s1) == java.lang.Double.doubleToLongBits(s2)
        }
      }
    }
    Ctx.rm(dir)
  }
}
