package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.corpus.SyntheticCorpus
import graft.search.{BoolQ, PhraseQ, Query, TermQ}

/** The seeded web-page table of FIXTURES.md §1: Zipf vocabulary with a
  * stop-word head and about 400 tokens per document. */
object Corpus {
  val AvgLen = 400
  val Vocab = 50000

  def text(seed: Long, idx: Long): String = SyntheticCorpus.docText(seed, idx, AvgLen, Vocab)

  /** `n` pages from page index `from` on (urls are unique per index), each
    * text ending in `marker`, a token no other batch carries. */
  def batch(spark: SparkSession, seed: Long, from: Long, n: Int, marker: String): DataFrame = {
    import spark.implicits._
    (from until from + n).map { i =>
      val p = SyntheticCorpus.page(seed, i, AvgLen, Vocab)
      p.copy(text = p.text + " " + marker)
    }.toDF()
  }

  /** Write `n` pages as parquet; returns the UTF-8 bytes of their text. */
  def write(spark: SparkSession, seed: Long, n: Long, path: String): Long = {
    SyntheticCorpus.generate(spark, n, seed, AvgLen, Vocab)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).agg(sum(octet_length(col("text")))).head().getLong(0)
  }
}

/** A seeded mix of distinct queries in four classes. Terms are drawn from
  * analyzed sample documents, so term choice follows the corpus's own
  * frequency law: `disj` is 2-4 terms drawn from the sample's token
  * stream (Zipf for the synthetic table), `rare_common` is one term seen
  * once in the sample plus two of its 200 most frequent, `conj` requires
  * 2-3 terms of one document, and `phrase` is two adjacent terms of one
  * document. `conj` and `phrase` therefore always match at least their
  * source document. Each class keeps `perClass` of eight times as many
  * drawn queries, one from each equal slice of the draws ordered by the
  * sample frequency of their terms: a few very frequent terms dominate a
  * query's cost, and this keeps how many of them a mix holds nearly the
  * same from seed to seed without changing their distribution. */
object QueryMix {
  val Classes: Seq[String] = Seq("disj", "rare_common", "conj", "phrase")

  final case class Q(id: String, cls: String, query: Query)

  def make(seed: Long, texts: IndexedSeq[String], perClass: Int): IndexedSeq[Q] = {
    val an = Analyzer.byName("standard")
    // per doc: (term, position) after analysis
    val docs: IndexedSeq[IndexedSeq[(String, Int)]] = texts.map { t =>
      var pos = -1
      an.analyze(t).map { tok => pos += tok.posIncr; (tok.term, pos) }.toIndexedSeq
    }.filter(_.size >= 4)
    require(docs.nonEmpty, "no sample documents with terms")
    val freq = mutable.HashMap.empty[String, Int]
    docs.foreach(_.foreach { case (t, _) => freq(t) = freq.getOrElse(t, 0) + 1 })
    val common = freq.toSeq.sortBy { case (t, c) => (-c, t) }.take(200).map(_._1).toIndexedSeq
    val rare = freq.toSeq.filter(_._2 == 1).map(_._1).sorted.toIndexedSeq
    val rnd = new scala.util.Random(seed * 7919L + 17)
    def anyTerm(): String = { val d = docs(rnd.nextInt(docs.size)); d(rnd.nextInt(d.size))._1 }
    def gen(cls: String): Query = cls match {
      case "disj" =>
        BoolQ(should = Seq.fill(2 + rnd.nextInt(3))(anyTerm()).distinct.map(TermQ(_)))
      case "rare_common" =>
        val r = if (rare.nonEmpty) rare(rnd.nextInt(rare.size)) else anyTerm()
        BoolQ(should = (r +: Seq.fill(2)(common(rnd.nextInt(common.size)))).distinct.map(TermQ(_)))
      case "conj" =>
        val d = docs(rnd.nextInt(docs.size))
        BoolQ(must = Seq.fill(2 + rnd.nextInt(2))(d(rnd.nextInt(d.size))._1).distinct.map(TermQ(_)))
      case "phrase" =>
        val d = docs(rnd.nextInt(docs.size))
        val adj = d.indices.dropRight(1).filter(i => d(i + 1)._2 == d(i)._2 + 1)
        if (adj.isEmpty) PhraseQ(Seq(d(0)._1))
        else { val i = adj(rnd.nextInt(adj.size)); PhraseQ(Seq(d(i)._1, d(i + 1)._1)) }
    }
    def weight(q: Query): Int = Query.allTerms(q).toSeq.map(t => freq.getOrElse(t, 0)).sum
    Classes.flatMap { cls =>
      val pool = Vector.fill(perClass * 8)(gen(cls)).distinct.sortBy(q => (weight(q), q.toString))
      val picks = rnd.shuffle((0 until math.min(perClass, pool.size)).toVector)
        .map(k => pool(((k + rnd.nextDouble()) * pool.size / perClass).toInt))
      picks.zipWithIndex.map { case (q, n) => Q(f"$cls-$n%04d", cls, q) }
    }.toIndexedSeq
  }

  /** Sample texts of the synthetic table: `n` seeded page indexes. */
  def syntheticTexts(seed: Long, corpusDocs: Long, n: Int): IndexedSeq[String] = {
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    (0 until n).map(_ => Corpus.text(seed, (rnd.nextDouble() * corpusDocs).toLong))
  }
}
