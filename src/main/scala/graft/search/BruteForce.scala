package graft.search

import graft.analysis.Analyzer
import graft.codec.SmallFloat
import graft.score.{CorpusStats, Similarity}

/** Exhaustive single-threaded reference implementation — the executable
  * spec. Every query the engine answers must match BruteForce exactly
  * (same docIDs, same float scores, same tie-break). This is the reference
  * suite's dual-implementation pattern (Boolean2Test asserts BooleanScorer ==
  * BooleanScorer2 — /root/reference/src/test/search/Boolean2Test.cpp:42-63)
  * applied to the whole engine. It shares the exact TermWeight arithmetic
  * and clause-order float accumulation with the scorers, so equality is
  * bitwise, not approximate. */
object BruteForce {

  final case class Doc(docId: Long, termPositions: Map[String, Array[Int]], dl: Int,
      termPayloads: Map[String, Array[Array[Byte]]] = Map.empty,
      /** Segment doc count for per-reader ordinals (engine ReverseOrd
        * semantics); -1 = single-reader corpus (use stats.numDocs). */
      segDocCount: Long = -1) {
    def freq(t: String): Int = termPositions.get(t).map(_.length).getOrElse(0)
  }

  def analyzeCorpus(analyzer: Analyzer, docs: Seq[(Long, String)]): Seq[Doc] =
    docs.map { case (id, text) =>
      var pos = -1
      var len = 0
      val m = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
      val pm = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Array[Byte]]]
      analyzer.analyze(text).foreach { t =>
        pos += t.posIncr
        len += 1
        m.getOrElseUpdate(t.term, scala.collection.mutable.ArrayBuffer.empty[Int]) += pos
        pm.getOrElseUpdate(t.term, scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]) += t.payload
      }
      Doc(id, m.view.mapValues(_.toArray).toMap, len, pm.view.mapValues(_.toArray).toMap)
    }

  def stats(corpus: Seq[Doc]): CorpusStats =
    CorpusStats(corpus.size.toLong, if (corpus.isEmpty) 0.0 else corpus.map(_.dl.toLong).sum.toDouble / corpus.size)

  def df(corpus: Seq[Doc]): Map[String, Long] =
    corpus.flatMap(_.termPositions.keys).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }

  /** Match + score one doc; None when no match. Mirrors the scorer-tree
    * semantics in SegmentSearch (coord applied per BoolQ level, clause-order
    * summation). */
  def scoreDoc(q: Query, doc: Doc, sim: Similarity, st: CorpusStats,
      dfm: Map[String, Long], queryNorm: Float): Option[Double] = q match {

    case TermQ(t, boost) =>
      val f = doc.freq(t)
      if (f == 0) None
      else {
        val norm = SmallFloat.encodeNorm(doc.dl)
        Some(sim.normalizedTermWeight(dfm.getOrElse(t, 0L), boost, queryNorm, st)
          .score(f.toFloat, norm, doc.dl))
      }

    case PhraseQ(ts, slop, boost) =>
      val actual = ts.map(t => doc.termPositions.get(t))
      if (actual.exists(_.isEmpty)) None
      else {
        val pf: Double =
          if (slop <= 0) {
            val sets = actual.zipWithIndex.map { case (a, i) => a.get.map(_ - i) }
            sets.head.count(p => sets.tail.forall(_.contains(p))).toDouble
          } else
            SloppyPhrase.freq(actual.map(_.get).toArray, ts.indices.toArray, slop)
        if (pf == 0.0) None
        else {
          val idfSum = ts.map(t => sim.idf(dfm.getOrElse(t, 0L), st)).sum
          val norm = SmallFloat.encodeNorm(doc.dl)
          Some(sim.phraseWeight(idfSum, boost, queryNorm, st).score(pf.toFloat, norm, doc.dl))
        }
      }

    case MatchAllQ => Some(queryNorm.toDouble)

    case FilteredQ(q2, f) =>
      if (scoreDoc(f, doc, sim, st, dfm, queryNorm).isEmpty) None
      else scoreDoc(q2, doc, sim, st, dfm, queryNorm)

    case MultiPhraseQ(slots, boost) =>
      val arrs = slots.zipWithIndex.map { case (alts, i) =>
        alts.flatMap(t => doc.termPositions.getOrElse(t, Array.emptyIntArray).map(_ - i))
          .distinct.sorted.toArray
      }
      if (arrs.exists(_.isEmpty)) None
      else {
        val pf = arrs.head.count(p => arrs.tail.forall(_.contains(p)))
        if (pf == 0) None
        else {
          val idfSum = slots.flatten.map(t => sim.idf(dfm.getOrElse(t, 0L), st)).sum
          val norm = SmallFloat.encodeNorm(doc.dl)
          Some(sim.phraseWeight(idfSum, boost, queryNorm, st).score(pf.toFloat, norm, doc.dl))
        }
      }

    case ConstantScoreQ(inner, boost) =>
      scoreDoc(inner, doc, sim, st, dfm, queryNorm)
        .map(_ => (boost * queryNorm).toDouble)

    case DisMaxQ(ds, tie, boost) =>
      val subScores = ds.flatMap(d => scoreDoc(d, doc, sim, st, dfm, queryNorm))
      if (subScores.isEmpty) None
      else {
        val max = subScores.max
        val sum = subScores.sum
        Some((max + (sum - max) * tie) * (boost * queryNorm))
      }

    case TermSetQ(terms, boost) =>
      if (terms.exists(t => doc.freq(t) > 0)) Some((boost * queryNorm).toDouble)
      else None

    case CachedQ(inner) =>
      scoreDoc(inner, doc, sim, st, dfm, queryNorm).map(_ => 0.0)

    case PayloadTermQ(t, fn, includeSpanScore, boost) =>
      val f = doc.freq(t)
      if (f == 0) None
      else {
        val spanFreq = f * Spans.sloppyFreq(0, 1)
        var payloadScore = fn.init
        var seen = 0
        doc.termPayloads.getOrElse(t, Array.empty[Array[Byte]]).foreach { p =>
          if (p != null) { payloadScore = fn.fold(payloadScore, sim.scorePayload(p).toDouble); seen += 1 }
        }
        val pay = fn.docScore(seen, payloadScore)
        val norm = SmallFloat.encodeNorm(doc.dl)
        val w = sim.phraseWeight(sim.idf(dfm.getOrElse(t, 0L), st), boost, queryNorm, st)
        Some(if (includeSpanScore) w.score(spanFreq.toFloat, norm, doc.dl) * pay else pay)
      }

    case ValueSourceQ(src, boost) =>
      Some((boost * queryNorm).toDouble * valueOf(src, doc, st))

    case CustomScoreQ(sub, valSrcs, boost, provider) =>
      scoreDoc(sub, doc, sim, st, dfm, queryNorm * boost).map { s =>
        boost.toDouble * provider.customScore(s, valSrcs.map(valueOf(_, doc, st)).toArray)
      }

    case pq @ PayloadNearQ(_, _, _, fn, boost) =>
      Spans.buildLocal(pq, t => doc.termPositions.get(t),
        t => doc.termPayloads.getOrElse(t, null)) match {
        case None => None
        case Some(spans) =>
          if (!spans.next()) None
          else {
            // payloads of the first match only (PayloadNearSpanScorer::
            // setFreqCurrentDoc runs getPayloads once per doc)
            var payloadScore = fn.init
            var seen = 0
            Spans.collectMatchPayloads(spans, pay => {
              payloadScore = fn.fold(payloadScore, sim.scorePayload(pay).toDouble)
              seen += 1
            })
            var freq = Spans.sloppyFreq(spans.start, spans.end)
            while (spans.next()) freq += Spans.sloppyFreq(spans.start, spans.end)
            val idfSum = Spans.idfSum(pq, sim, st, t => dfm.getOrElse(t, 0L))
            val norm = SmallFloat.encodeNorm(doc.dl)
            Some(sim.phraseWeight(idfSum, boost, queryNorm, st)
              .score(freq.toFloat, norm, doc.dl) * fn.docScore(seen, payloadScore))
          }
      }

    case sq: SpanQuery =>
      Spans.buildLocal(sq, t => doc.termPositions.get(t)) match {
        case None => None
        case Some(spans) =>
          var freq = 0.0
          while (spans.next()) freq += Spans.sloppyFreq(spans.start, spans.end)
          if (freq == 0.0) None
          else {
            val idfSum = Spans.idfSum(sq, sim, st, t => dfm.getOrElse(t, 0L))
            val norm = SmallFloat.encodeNorm(doc.dl)
            Some(sim.phraseWeight(idfSum, sq.boost, queryNorm, st)
              .score(freq.toFloat, norm, doc.dl))
          }
      }

    case mt: MultiTermQ =>
      throw new IllegalStateException(s"multi-term query not expanded: $mt")

    case m: MetaFieldQ =>
      throw new IllegalStateException(
        s"metadata field query not resolved against the source table: $m")

    case BoolQ(must, should, mustNot, msm) =>
      if (mustNot.exists(n => scoreDoc(n, doc, sim, st, dfm, queryNorm).isDefined)) None
      else {
        val mustScores = must.map(m => scoreDoc(m, doc, sim, st, dfm, queryNorm))
        if (mustScores.exists(_.isEmpty)) None
        else {
          val shouldScores = should.map(s => scoreDoc(s, doc, sim, st, dfm, queryNorm))
          val matchedOpt = shouldScores.count(_.isDefined)
          if (must.isEmpty && matchedOpt < math.max(1, msm)) None
          else if (msm > 0 && matchedOpt < msm) None
          else {
            // grouping must mirror the scorer tree bit-for-bit: the should
            // clauses sum into their OWN subtotal (the disjunction scorer's
            // score) before joining the must sum — float addition is not
            // associative, so ((m1+m2)+(s1+s2)) != (((m1+m2)+s1)+s2)
            var s = 0.0
            mustScores.foreach(o => s += o.get)
            var ss = 0.0
            shouldScores.foreach(o => o.foreach(v => ss += v))
            if (matchedOpt > 0) s += ss
            val maxCoord = must.size + should.size
            Some(s * sim.coord(must.size + matchedOpt, maxCoord))
          }
        }
      }
  }

  /** Value-source twin over the single-reader view: docIds are url ranks,
    * so ord == docId + 1 (engine ords are per segment, like the reference's
    * per-reader FieldCache — identical on single-segment indexes). */
  def valueOf(src: ValueSource, doc: Doc, st: CorpusStats): Double = src match {
    case DocLenVS => doc.dl.toDouble
    case OrdVS => (doc.docId + 1).toDouble
    case ReverseOrdVS =>
      ((if (doc.segDocCount >= 0) doc.segDocCount else st.numDocs) - doc.docId).toDouble
    case ConstVS(v) => v
  }

  def search(corpus: Seq[Doc], q0: Query, k: Int, sim: Similarity): Array[ScoredDoc] = {
    val st = stats(corpus)
    val dfm = df(corpus)
    lazy val sortedTerms = dfm.keys.toArray.sorted(graft.index.TermOrder.ordering)
    val q = Query.rewrite(MultiTerm.expand(q0, lower =>
      lower.fold(sortedTerms.iterator)(lo =>
        sortedTerms.iterator.dropWhile(t => graft.index.TermOrder.lt(t, lo)))))
    val qn = sim.queryNorm(SegmentSearch.sumOfSquaredWeights(q, sim, st, t => dfm.getOrElse(t, 0L)))
    corpus.flatMap(d => scoreDoc(q, d, sim, st, dfm, qn).map(s => ScoredDoc(d.docId, s)))
      .sortBy(h => (-h.score, h.docId))
      .take(k)
      .toArray
  }
}
