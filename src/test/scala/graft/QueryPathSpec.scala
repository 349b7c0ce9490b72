package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexBuilder, IndexConfig, IndexMetaIO}
import graft.score.{BM25, BM25Exact, ClassicTFIDF, Similarity}
import graft.search._

/** The distributed searcher's entry points: explain agrees with the
  * collected scores, every entry point submits a pinned number of Spark
  * jobs (layer attribution in the benchmark reads jobs by submission
  * order), and a searcher never opens a commit it cannot fully read. */
class QueryPathSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def buildIndex(texts: Seq[String], dps: Int): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-qpath").toString
    val df = texts.zipWithIndex.map { case (t, i) => (f"u$i%05d", t) }.toDF("url", "text")
    IndexBuilder.build(spark, df, IndexConfig(dir, analyzer = "whitespace",
      docsPerSegment = dps, writeDocMap = false))
    dir
  }

  private def randomTexts(rnd: scala.util.Random, n: Int): Seq[String] =
    (0 until n).map { _ =>
      (0 until (3 + rnd.nextInt(10)))
        .map(_ => QueryGen.vocab(rnd.nextInt(QueryGen.vocab.size))).mkString(" ")
    }

  /** Runs `f` and counts the Spark jobs it submitted. */
  private def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val a = f
      ListenerBusDrain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }

  test("IndexSearcher.explain carries every searchBatch hit's score bit for bit") {
    val rnd = new scala.util.Random(5150)
    val texts = randomTexts(rnd, 120)
    val dir = buildIndex(texts, dps = 17)
    val s = new IndexSearcher(spark, dir)
    val queries = (0 until 10).map(i => s"q$i" -> QueryGen.randQuery(rnd, 0)) :+
      ("pfx" -> PrefixQ("fz", constantScore = false))
    var hitsChecked = 0
    for (sim <- Seq[Similarity](BM25(), ClassicTFIDF, BM25Exact())) {
      val results = s.searchBatch(queries, 6, sim)
      queries.foreach { case (id, q) =>
        val hits = results(id)
        val many = s.explainMany(q, hits.map(_.docId).toSeq, sim)
        hits.zip(many).foreach { case (h, m) =>
          val ex = s.explain(q, h.docId, sim)
          assert(ex.matched, s"$id doc=${h.docId} unmatched\n q=$q\n${ex.render()}")
          assert(ex.value == h.score,
            s"$id doc=${h.docId}: explain=${ex.value} score=${h.score}\n q=$q\n${ex.render()}")
          assert(m.value == ex.value, s"$id doc=${h.docId}: explainMany=${m.value}")
          hitsChecked += 1
        }
        val matched = s.matchingDocs(q).collect().map(_.getLong(0)).toSet
        (0L until texts.size.toLong).find(d => !matched.contains(d)).foreach { miss =>
          val ex = s.explain(q, miss, sim)
          assert(!ex.matched && ex.value == 0.0,
            s"$id non-hit $miss explained as a match\n q=$q\n${ex.render()}")
        }
      }
    }
    assert(hitsChecked > 60, s"only $hitsChecked hits checked")
    // a docId past the index explains as a non-match, without a scatter job
    val (outside, jobs) = jobsOf(s.explain(TermQ("fz1"), texts.size + 5L, BM25()))
    assert(!outside.matched && outside.value == 0.0)
    assert(jobs == 1) // the global-df job only
  }

  test("every searcher entry point submits a pinned number of Spark jobs") {
    val rnd = new scala.util.Random(77)
    val dir = buildIndex(randomTexts(rnd, 60), dps = 8)
    val s = new IndexSearcher(spark, dir)
    val sim = BM25()
    val plain = Seq("a" -> TermQ("fz1"), "b" -> BoolQ(should = Seq(TermQ("fz2"), TermQ("gq1"))),
      "c" -> PhraseQ(Seq("fz3", "fz4"), slop = 2))
    val multi = plain :+ ("d" -> PrefixQ("gq")) :+ ("e" -> FuzzyQ("fz9"))
    val hit = s.search(TermQ("fz1"), 1, sim).head.docId
    val counts = Seq(
      "search" -> jobsOf(s.search(TermQ("fz1"), 5, sim))._2,
      "searchBatch" -> jobsOf(s.searchBatch(plain, 5, sim))._2,
      "searchWithTimeout" -> jobsOf(s.searchWithTimeout(TermQ("fz1"), 5, sim, 60000L))._2,
      "matchingDocs.count" -> jobsOf(s.matchingDocs(TermQ("fz1")).count())._2,
      "explain" -> jobsOf(s.explain(TermQ("fz1"), hit, sim))._2,
      "explainMany" -> jobsOf(s.explainMany(TermQ("fz1"), Seq(hit, 0L, 59L), sim))._2,
      "liveDocCount" -> jobsOf(s.liveDocCount())._2,
      "multiTerm searchBatch" -> jobsOf(s.searchBatch(multi, 5, sim))._2,
      "deleteDocs" -> jobsOf(s.deleteDocs(TermQ("hx1")))._2)
    assert(counts == Seq(
      "search" -> 2,
      "searchBatch" -> 2,
      "searchWithTimeout" -> 2,
      "matchingDocs.count" -> 3,
      "explain" -> 2,
      "explainMany" -> 2,
      "liveDocCount" -> 1,
      "multiTerm searchBatch" -> 3,
      "deleteDocs" -> 3))
  }

  test("a commit whose snapshot is missing is refused, not rebuilt from segment dirs") {
    val dir = buildIndex((0 until 12).map(i => s"${if (i % 2 == 0) "gone" else "kept"} w$i"), dps = 4)
    assert(new IndexSearcher(spark, dir).deleteDocs(TermQ("gone")) == 6)
    assert(new IndexSearcher(spark, dir).liveDocCount() == 6)
    // lose the newest commit's binary snapshot: its delete generation is
    // recorded only there, so no reader may adopt the bare segment dirs
    val gen = IndexMetaIO.latestGen(dir).get
    assert(new File(dir, s"commits/commit_$gen.segs").delete())
    assert(IndexMetaIO.readLatest(dir).isEmpty)
    intercept[IllegalStateException](new IndexSearcher(spark, dir))
  }
}
