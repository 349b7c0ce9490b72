package graft

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.SyntheticCorpus
import graft.index._
import graft.score.BM25
import graft.search._

class SparkIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmpDir(): String = Files.createTempDirectory("graft-spark").toString

  private val N = 500
  private lazy val corpus = SyntheticCorpus.generate(spark, N, seed = 11, avgLen = 50, vocab = 400)
  // brute-force twin: docId = rank in url order (the builder's contract)
  private lazy val bfDocs = {
    val pages = SyntheticCorpus.localPages(N, seed = 11, avgLen = 50, vocab = 400)
      .sortBy(_.url)
    BruteForce.analyzeCorpus(graft.analysis.StandardAnalyzer(),
      pages.zipWithIndex.map { case (p, i) => (i.toLong, p.text) })
  }

  /** SHA-256 of every segment file, keyed by its path under `dir`. */
  private def fileHashes(dir: String): Map[String, String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val root = new File(dir).toPath
    walk(new File(dir))
      .filter(f => f.getName.endsWith(".bin") || f.getName.endsWith(".idx"))
      .map { f =>
        val digest = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f.toPath))
        root.relativize(f.toPath).toString -> digest.map(b => f"$b%02x").mkString
      }.toMap
  }

  /** Pinned segment digests (`case -> path -> sha256`), recorded while the
    * sortshuffle build mode still existed and wrote the same bytes. */
  private lazy val golden: Map[String, Map[String, String]] = {
    val src = scala.io.Source.fromResource("graft/segment-sha256.tsv")(scala.io.Codec.UTF8)
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map(_.split('\t')).toSeq
      .groupMap(_(0))(a => a(1) -> a(2)).map { case (c, kv) => c -> kv.toMap }
    finally src.close()
  }

  /** Paths whose digest differs, or that only one side has. */
  private def differing(a: Map[String, String], b: Map[String, String]): Seq[String] =
    (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k)).toSeq.sorted

  private def assertGolden(dir: String, name: String): Unit = {
    val diff = differing(fileHashes(dir), golden(name))
    assert(golden(name).nonEmpty && diff.isEmpty, s"$name segments differ from the golden in: $diff")
  }

  test("distributed build + distributed search == brute force") {
    val dir = tmpDir()
    val report = IndexBuilder.build(spark, corpus,
      IndexConfig(dir, docsPerSegment = 64, writeDocMap = false))
    assert(report.numDocs == N)
    assert(report.builtSegments == 8)

    val searcher = new IndexSearcher(spark, dir)
    assert(searcher.meta.numDocs == N)

    val queries: Seq[(String, Query)] = Seq(
      "t1" -> TermQ("w3"),
      "or" -> BoolQ(should = Seq(TermQ("w1"), TermQ("w7"), TermQ("w31"))),
      "and" -> BoolQ(must = Seq(TermQ("w2"), TermQ("w5"))),
      "not" -> BoolQ(must = Seq(TermQ("w1")), mustNot = Seq(TermQ("w9"))),
      // multi-term nodes distributed-expanded, incl. inside a filter
      "prefix" -> PrefixQ("w1", constantScore = false),
      "filtered" -> FilteredQ(TermQ("w2"), TermRangeQ(Some("w1"), Some("w4"))))
    val got = searcher.searchBatch(queries, 10, BM25())
    queries.foreach { case (id, q) =>
      val spec = BruteForce.search(bfDocs, q, 10, BM25())
      assert(got(id).toSeq == spec.toSeq, s"query $id")
    }
  }

  test("distributed merge path (>256 segments) matches driver merge and spec") {
    val dir = tmpDir()
    // 500 single-doc segments force the reduceByKey top-k merge
    IndexBuilder.build(spark, corpus, IndexConfig(dir, docsPerSegment = 1, writeDocMap = false))
    val searcher = new IndexSearcher(spark, dir)
    assert(searcher.meta.segments.size == N)
    val queries: Seq[(String, Query)] = Seq(
      "t" -> TermQ("w3"),
      "or" -> BoolQ(should = Seq(TermQ("w1"), TermQ("w7"), TermQ("w31"))))
    val got = searcher.searchBatch(queries, 10, BM25())
    queries.foreach { case (id, q) =>
      val spec = BruteForce.search(bfDocs, q, 10, BM25())
      assert(got(id).toSeq == spec.toSeq, s"query $id")
    }
  }

  test("build output matches the segment golden at any shuffle partitioning") {
    val d2 = tmpDir(); val d8 = tmpDir()
    IndexBuilder.build(spark, corpus, IndexConfig(d2, docsPerSegment = 64,
      buildPartitions = 2, writeDocMap = false))
    IndexBuilder.build(spark, corpus, IndexConfig(d8, docsPerSegment = 64,
      buildPartitions = 8, writeDocMap = false))
    assertGolden(d2, "corpus")
    assertGolden(d8, "corpus")
  }

  test("resume: killed build restarts from committed segments only") {
    val full = tmpDir(); val resumed = tmpDir()
    IndexBuilder.build(spark, corpus, IndexConfig(full, docsPerSegment = 64, writeDocMap = false))

    // simulate a partial run: build, then delete 3 segments + snapshot
    IndexBuilder.build(spark, corpus, IndexConfig(resumed, docsPerSegment = 64, writeDocMap = false))
    Seq(1, 4, 7).foreach { s =>
      val f = new File(resumed, SegmentFormat.segDirName(s))
      f.listFiles().foreach(_.delete()); f.delete()
    }
    new File(resumed, "commits").listFiles().foreach(_.delete())

    val report = IndexBuilder.build(spark, corpus, IndexConfig(resumed, docsPerSegment = 64, writeDocMap = false))
    assert(report.resumedSegments == 5, report)
    assert(report.builtSegments == 3, report)
    assertGolden(full, "corpus")
    assertGolden(resumed, "corpus")

    // the resumed index answers queries identically
    val a = new IndexSearcher(spark, full).search(TermQ("w2"), 10, BM25())
    val b = new IndexSearcher(spark, resumed).search(TermQ("w2"), 10, BM25())
    assert(a.toSeq == b.toSeq)
  }

  test("supplementary-plane terms: code-point order, segments match the golden") {
    import spark.implicits._
    val sup1 = new String(Character.toChars(0x10000))
    val sup2 = new String(Character.toChars(0x1D11E))
    val texts = Seq(s"alpha $sup1 common", s"\uFFFB zeta common", s"$sup2 \uE000 common",
      "plain common words")
    val df = texts.zipWithIndex
      .map { case (t, i) => (f"u$i%04d", t) }.toDF("url", "text")
    val d = tmpDir()
    IndexBuilder.build(spark, df, IndexConfig(d, analyzer = "whitespace",
      docsPerSegment = 2, writeDocMap = false))
    IndexMetaIO.readLatest(d).get.segments.foreach { m =>
      val r = new SegmentReader(new File(d, SegmentFormat.segDirName(m.segId)))
      val ts = r.allTerms.map(_.term).toSeq
      assert(ts == ts.sorted(TermOrder.ordering), s"dict order in segment ${m.segId}: $ts")
    }
    assertGolden(d, "supplementary")
    // searchable across the surrogate boundary
    val hits = new IndexSearcher(spark, d).search(TermRangeQ(Some("\uFFFB"), None,
      includeLower = true, includeUpper = true), 10, BM25())
    assert(hits.map(_.docId).toSet == Set(0L, 1L, 2L), hits.toSeq)
  }

  /** Builds `texts` (docId = position) with LocalIndex and with the
    * distributed builder; returns the segment files whose bytes differ. */
  private def localVsDistributed(texts: Seq[String], analyzer: String, docsPerSegment: Int,
      storePositions: Boolean = true, storeTermVectors: Boolean = false,
      storePayloads: Boolean = false): Seq[String] = {
    import spark.implicits._
    val local = tmpDir(); val dist = tmpDir()
    LocalIndex.build(local, texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, analyzer,
      docsPerSegment, storePositions, storeTermVectors, storePayloads)
    // zero-padded urls, so url rank == position in `texts`
    val df = texts.zipWithIndex.map { case (t, i) => (f"u$i%06d", t) }.toDF("url", "text")
    IndexBuilder.build(spark, df, IndexConfig(dist, analyzer, docsPerSegment, storePositions,
      writeDocMap = false, storeTermVectors = storeTermVectors, storePayloads = storePayloads))
    val l = fileHashes(local)
    assert(l.nonEmpty)
    differing(l, fileHashes(dist))
  }

  test("LocalIndex.build writes the same segment bytes as IndexBuilder.build") {
    // 500 docs at 64 per segment: eight segments, the last one 52 docs
    val texts = SyntheticCorpus.localPages(N, seed = 11, avgLen = 50, vocab = 400)
      .sortBy(_.url).map(_.text)
    // term vectors: the first doc mixes a supplementary-plane term with a
    // U+E000..U+FFFF term, where UTF-16 and code-point order disagree
    val sup = new String(Character.toChars(0x1D11E))
    val vecTexts = Seq(s"$sup \uE000 common", s"\uFFFB zeta $sup common", "plain common words",
      "common \uFFFB alpha", "")
    val payTexts = Seq("quick|3 brown fox|9", "lazy dog|2 quick|1 quick|7", "fox fox|4", "dog")
    val diffs = Seq(
      "positions" -> localVsDistributed(texts, "standard", 64),
      "no positions" -> localVsDistributed(texts, "standard", 64, storePositions = false),
      "vectors" -> localVsDistributed(vecTexts, "whitespace", 2, storeTermVectors = true),
      "vectors, no positions" -> localVsDistributed(vecTexts, "whitespace", 2,
        storePositions = false, storeTermVectors = true),
      "payloads" -> localVsDistributed(payTexts, "delimited", 3, storePayloads = true))
    assert(diffs.forall(_._2.isEmpty), diffs.filter(_._2.nonEmpty).mkString("; "))
  }
}
