package graft.search

import graft.index.SegmentReader
import graft.score.{CorpusStats, Similarity}

/** Score explanation tree (reference Explanation.cpp / Weight::explain,
  * e.g. /root/reference/src/core/search/TermQuery.cpp:116-167). The
  * CheckHits invariant (/root/reference/src/test/search/CheckHits.cpp:
  * 204-269) holds bit-for-bit: for a matching doc, `value` equals the score
  * the collector saw, because every node's value runs through the same
  * executable-spec arithmetic the scorers are verified against
  * ([[BruteForce.scoreDoc]] — engine == spec is FuzzSpec-pinned). */
final case class Explanation(
    value: Double,
    description: String,
    details: Seq[Explanation] = Nil,
    matched: Boolean = true) extends Serializable {

  def render(indent: Int = 0): String = {
    val pad = "  " * indent
    val head = f"$pad$value%.6f = $description" + (if (matched) "" else " (NON-MATCH)")
    (head +: details.map(_.render(indent + 1))).mkString("\n")
  }
}

object Explanation {
  /** What a docId outside every segment explains as. */
  private[graft] def notInIndex(docId: Long): Explanation =
    Explanation(0.0, s"doc $docId not in index", matched = false)
}

/** Builds explanations over a per-doc view. The view is extracted from the
  * real segment files ([[Explain.docView]]), so what gets explained is what
  * was indexed, not a re-analysis. */
object Explain {

  /** Terms whose postings the doc view needs — [[Query.allTerms]] plus the
    * constant-score term sets it deliberately excludes from df broadcasts. */
  def viewTerms(q: Query): Set[String] = {
    def extra(q: Query): Set[String] = q match {
      case TermSetQ(ts, _) => ts.toSet
      case BoolQ(m, s, n, _) => (m ++ s ++ n).flatMap(extra).toSet
      case ConstantScoreQ(inner, _) => extra(inner)
      case CachedQ(inner) => extra(inner)
      case CustomScoreQ(sub, _, _, _) => extra(sub)
      case DisMaxQ(ds, _, _) => ds.flatMap(extra).toSet
      case FilteredQ(q2, f) => extra(q2) ++ extra(f)
      case _ => Set.empty
    }
    Query.allTerms(q) ++ extra(q)
  }

  /** Extract one doc's term positions/payloads/length from a segment — the
    * inputs the scorers saw for it. */
  def docView(reader: SegmentReader, localDoc: Int, terms: Set[String]): BruteForce.Doc = {
    val hasPos = reader.meta.hasPositions
    val hasPay = reader.meta.hasPayloads
    val posMap = scala.collection.mutable.Map.empty[String, Array[Int]]
    val payMap = scala.collection.mutable.Map.empty[String, Array[Array[Byte]]]
    terms.foreach { t =>
      reader.termInfo(t).foreach { ti =>
        val pi = reader.postings(ti, needPositions = hasPos)
        if (pi.advance(localDoc) == localDoc) {
          posMap(t) =
            if (hasPos) pi.positions()
            // freq-only segment: lengths matter (freq), values don't
            else Array.fill(pi.freq)(0)
          if (hasPay) payMap(t) = pi.payloads()
        }
      }
    }
    BruteForce.Doc(localDoc.toLong, posMap.toMap, reader.doclens(localDoc),
      payMap.toMap, segDocCount = reader.meta.docCount)
  }

  /** The per-segment explain body both searchers run: `q` (expanded and
    * rewritten, as the scorers see it) explained for each global docId of
    * `docIds`, all of which lie in `reader`'s segment. */
  private[graft] def explainSegment(reader: SegmentReader, q: Query, docIds: Seq[Long],
      sim: Similarity, st: CorpusStats, dfm: Map[String, Long]): Seq[(Long, Explanation)] = {
    val qn = sim.queryNorm(SegmentSearch.sumOfSquaredWeights(q, sim, st, dfm.getOrElse(_, 0L)))
    val terms = viewTerms(q)
    docIds.map { id =>
      id -> explainDoc(q, docView(reader, (id - reader.meta.docBase).toInt, terms),
        sim, st, dfm, qn)
    }
  }

  /** Explain `q` against one doc view. `queryNorm` as fed to the scorer
    * tree; `dfm` must be the GLOBAL df map (same values the searcher
    * broadcast). */
  def explainDoc(q: Query, doc: BruteForce.Doc, sim: Similarity, st: CorpusStats,
      dfm: Map[String, Long], queryNorm: Float): Explanation = {
    def df(t: String) = dfm.getOrElse(t, 0L)
    def score(node: Query): Option[Double] = BruteForce.scoreDoc(node, doc, sim, st, dfm, queryNorm)
    def rec(node: Query): Explanation = explainNode(node)

    def leaf(v: Option[Double], desc: String, details: Seq[Explanation] = Nil) =
      v match {
        case Some(s) => Explanation(s, desc, details)
        case None => Explanation(0.0, desc, details, matched = false)
      }

    def explainNode(node: Query): Explanation = node match {
      case TermQ(t, boost) =>
        val f = doc.freq(t)
        val idf = sim.idf(df(t), st)
        leaf(score(node),
          s"weight(term=$t boost=$boost), from tf·idf·norm:",
          Seq(
            Explanation(f.toDouble, s"termFreq(freq of '$t' in doc)"),
            Explanation(idf.toDouble, s"idf(df=${df(t)}, N=${st.numDocs})"),
            Explanation(doc.dl.toDouble, s"docLen (avgdl=${st.avgDocLength})"),
            Explanation(queryNorm.toDouble, "queryNorm")))

      case PhraseQ(ts, slop, boost) =>
        val idfSum = ts.map(t => sim.idf(df(t), st)).sum
        leaf(score(node), s"phrase(${ts.mkString(" ")}) slop=$slop boost=$boost:",
          Seq(Explanation(idfSum.toDouble, "idf, sum over phrase terms")))

      case MultiPhraseQ(slots, boost) =>
        val idfSum = slots.flatten.map(t => sim.idf(df(t), st)).sum
        leaf(score(node), s"multiPhrase(${slots.map(_.mkString("|")).mkString(" ")}) boost=$boost:",
          Seq(Explanation(idfSum.toDouble, "idf, sum over slot terms")))

      case MatchAllQ => leaf(score(node), "MatchAllDocsQuery")

      case FilteredQ(q2, f) =>
        val fe = rec(f)
        val qe = rec(q2)
        val v = score(node)
        Explanation(v.getOrElse(0.0), "filtered(query AND filter), score by query:",
          Seq(qe, fe.copy(description = "filter: " + fe.description)),
          matched = v.isDefined)

      case ConstantScoreQ(inner, boost) =>
        val ie = rec(inner)
        leaf(score(node), s"ConstantScore(boost=$boost x queryNorm=$queryNorm):", Seq(ie))

      case DisMaxQ(ds, tie, boost) =>
        val subs = ds.map(rec)
        leaf(score(node), s"max plus $tie times others, boost=$boost:", subs)

      case CachedQ(inner) =>
        val ie = rec(inner)
        Explanation(0.0, "cached filter (scoreless):", Seq(ie), matched = ie.matched)

      case TermSetQ(terms, boost) =>
        leaf(score(node), s"termSet(${terms.size} terms, constant boost=$boost)")

      case ValueSourceQ(src, boost) =>
        leaf(score(node), s"valueSource($src) x boost=$boost x queryNorm:",
          Seq(Explanation(BruteForce.valueOf(src, doc, st), s"value of $src")))

      case CustomScoreQ(sub, valSrcs, boost, _) =>
        val se = rec(sub)
        val ves = valSrcs.map(v =>
          Explanation(BruteForce.valueOf(v, doc, st), s"value of $v"))
        leaf(score(node), s"custom score, provider over sub + values, boost=$boost:", se +: ves)

      case PayloadTermQ(t, fn, inc, boost) =>
        val spanPart = score(PayloadTermQ(t, fn, includeSpanScore = true, boost))
        leaf(score(node), s"payloadTerm($t, $fn, includeSpanScore=$inc):",
          Seq(Explanation(doc.freq(t).toDouble, s"positions of '$t'"),
            Explanation(spanPart.getOrElse(0.0), "span+payload product")))

      case pq @ PayloadNearQ(cs, slop, inOrder, fn, boost) =>
        val plain = score(SpanNearQ(cs, slop, inOrder, boost))
        val payFactor = for (v <- score(node); p <- plain if p != 0.0) yield v / p
        leaf(score(node), s"payloadNear(slop=$slop inOrder=$inOrder $fn), span x payload:",
          Seq(Explanation(plain.getOrElse(0.0), "span score"),
            Explanation(payFactor.getOrElse(1.0), s"payload factor ($fn)")))

      case sq: SpanQuery =>
        val idfSum = Spans.idfSum(sq, sim, st, df)
        leaf(score(node), s"span(${sq.getClass.getSimpleName}) boost=${sq.boost}, sloppyFreq x weight:",
          Seq(Explanation(idfSum.toDouble, "idf, sum over span terms")))

      case mt: MultiTermQ =>
        throw new IllegalStateException(s"multi-term query not expanded: $mt")

      case m: MetaFieldQ =>
        throw new IllegalStateException(
          s"metadata field query not resolved against the source table: $m")

      case BoolQ(must, should, mustNot, msm) =>
        val maxCoord = must.size + should.size
        val mustEx = must.map(rec)
        val shouldEx = should.map(rec)
        val notEx = mustNot.map(rec).filter(_.matched)
        val overlap = must.count(m => score(m).isDefined) + should.count(s => score(s).isDefined)
        val coordEx = Explanation(sim.coord(overlap, maxCoord).toDouble,
          s"coord($overlap/$maxCoord)")
        val v = score(node)
        Explanation(v.getOrElse(0.0),
          s"bool(must=${must.size} should=${should.size} not=${mustNot.size} msm=$msm), sum x coord:",
          (mustEx ++ shouldEx ++ notEx.map(e =>
            e.copy(description = "prohibited clause MATCHED: " + e.description))) :+ coordEx,
          matched = v.isDefined)
    }

    explainNode(Query.rewrite(q))
  }
}
