package graft.search

import graft.index.{SegmentReader, TermOrder}

/** Multi-term expansion: rewrite Prefix/Wildcard/TermRange/Fuzzy nodes into
  * explicit term disjunctions against the index's term dictionary — the
  * reference's FilteredTermEnum + rewrite machinery
  * (/root/reference/src/core/search/MultiTermQuery.cpp:25-62,
  * PrefixQuery.cpp, WildcardTermEnum.cpp, TermRangeTermEnum.cpp,
  * FuzzyTermEnum.cpp).
  *
  * Matching is a pure function of the term text, so per-segment expansion +
  * global df produces results identical to a global expansion: a term
  * matched only in other segments cannot score docs in this one. Expansion
  * order is sorted by term, fixing float summation order everywhere. */
/** Scoring multi-term expansion exceeded [[MultiTerm.MaxClauseCount]]
  * (reference TooManyClausesException, BooleanQuery.cpp:60-68). */
final class TooManyClauses(msg: String) extends RuntimeException(msg)

object MultiTerm {

  /** Scoring-rewrite clause budget (reference BooleanQuery.cpp:18
    * maxClauseCount = 1024). */
  val MaxClauseCount = 1024

  /** Constant-score expansions above this term count rewrite to a bitset
    * filter instead of a boolean OR (reference ConstantScoreAutoRewrite
    * DEFAULT_TERM_COUNT_CUTOFF — MultiTermQuery.cpp:182). */
  val TermCountCutoff = 350

  /** Lower seek bound for a node's dictionary scan (inclusive), if any. */
  def seekLowerBound(q: MultiTermQ): Option[String] = q match {
    case PrefixQ(p, _, _) => Some(p)
    case WildcardQ(pat, _, _) =>
      val i = pat.indexWhere(c => c == '*' || c == '?')
      if (i <= 0) None else Some(pat.substring(0, i))
    case TermRangeQ(lower, _, _, _, _, _) => lower
    case FuzzyQ(t, _, pl, _) if pl > 0 => Some(t.substring(0, math.min(pl, t.length)))
    case _: FuzzyQ => None
  }

  /** Scan-termination check: once true, no later term can match. */
  def pastUpperBound(q: MultiTermQ, term: String): Boolean = q match {
    case PrefixQ(p, _, _) => !term.startsWith(p) && TermOrder.gt(term, p)
    case WildcardQ(pat, _, _) =>
      seekLowerBound(q).exists(p => !term.startsWith(p) && TermOrder.gt(term, p))
    case TermRangeQ(_, Some(upper), _, incl, _, _) =>
      if (incl) TermOrder.gt(term, upper) else TermOrder.gteq(term, upper)
    case TermRangeQ(_, None, _, _, _, _) => false
    case FuzzyQ(t, _, pl, _) if pl > 0 =>
      val p = t.substring(0, math.min(pl, t.length))
      !term.startsWith(p) && TermOrder.gt(term, p)
    case _: FuzzyQ => false
  }

  /** Per-term match + expanded-term boost (None = no match). */
  def matchBoost(q: MultiTermQ, term: String): Option[Float] = q match {
    case PrefixQ(p, boost, _) =>
      if (term.startsWith(p)) Some(boost) else None
    case WildcardQ(pat, boost, _) =>
      if (wildcardMatch(pat, term)) Some(boost) else None
    case TermRangeQ(lower, upper, inclL, inclU, boost, _) =>
      val okL = lower.forall(l => if (inclL) TermOrder.gteq(term, l) else TermOrder.gt(term, l))
      val okU = upper.forall(u => if (inclU) TermOrder.lteq(term, u) else TermOrder.lt(term, u))
      if (okL && okU) Some(boost) else None
    case FuzzyQ(target, minSim, prefixLen, boost) =>
      val pl = math.min(prefixLen, math.min(target.length, term.length))
      if (prefixLen > 0 && !term.regionMatches(0, target, 0, pl)) None
      else {
        // reference FuzzyTermEnum: similarity over the post-prefix parts,
        // scaled by 1/(1-minSim) (FuzzyTermEnum.cpp:42)
        val a = target.substring(pl)
        val b = term.substring(pl)
        val maxLen = math.min(a.length, b.length) + pl
        if (maxLen == 0) { if (term == target) Some(boost) else None }
        else {
          val dist = levenshtein(a, b)
          val sim = 1.0f - dist.toFloat / maxLen
          if (sim > minSim) Some(boost * (sim - minSim) / (1 - minSim)) else None
        }
      }
  }

  /** Classic `*`/`?` glob over chars (reference WildcardTermEnum match). */
  def wildcardMatch(pattern: String, s: String): Boolean = {
    // iterative two-pointer with backtracking on the last '*'
    var p = 0
    var i = 0
    var starP = -1
    var starI = 0
    while (i < s.length) {
      if (p < pattern.length && (pattern.charAt(p) == '?' || pattern.charAt(p) == s.charAt(i))) {
        p += 1; i += 1
      } else if (p < pattern.length && pattern.charAt(p) == '*') {
        starP = p; starI = i; p += 1
      } else if (starP >= 0) {
        starI += 1; i = starI; p = starP + 1
      } else return false
    }
    while (p < pattern.length && pattern.charAt(p) == '*') p += 1
    p == pattern.length
  }

  def levenshtein(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length)
  }

  /** One segment's dictionary scan for `node`: seek to its lower bound,
    * stop past its upper bound, keep the terms it matches — in dictionary
    * order. Both searchers run it per segment; the union over segments is
    * the node's global expansion (see the object's scaladoc). */
  private[graft] def segmentMatches(reader: SegmentReader, node: MultiTermQ): Iterator[String] =
    reader.termsFrom(seekLowerBound(node)).map(_.term)
      .takeWhile(t => !pastUpperBound(node, t))
      .filter(t => matchBoost(node, t).isDefined)

  /** Each node's matched terms, distinct and in dictionary order, from
    * (node, term) pairs gathered over any number of segments or indexes. */
  private[graft] def termSets(
      matches: Iterable[(MultiTermQ, String)]): MultiTermQ => Iterator[String] = {
    val sets = matches.groupMap(_._1)(_._2)
      .map { case (n, ts) => n -> ts.toSeq.distinct.sorted(TermOrder.ordering) }
    n => sets.getOrElse(n, Nil).iterator
  }

  /** The one walk over a query's multi-term nodes: `q` with every node
    * replaced by `f(node)`, in tree order. */
  private[graft] def mapNodes(q: Query)(f: MultiTermQ => Query): Query = q match {
    case mt: MultiTermQ => f(mt)
    case BoolQ(m, s, n, msm) =>
      BoolQ(m.map(mapNodes(_)(f)), s.map(mapNodes(_)(f)), n.map(mapNodes(_)(f)), msm)
    case ConstantScoreQ(inner, boost) => ConstantScoreQ(mapNodes(inner)(f), boost)
    case CachedQ(inner) => CachedQ(mapNodes(inner)(f))
    case cs: CustomScoreQ => cs.copy(sub = mapNodes(cs.sub)(f))
    case DisMaxQ(ds, tie, boost) => DisMaxQ(ds.map(mapNodes(_)(f)), tie, boost)
    case FilteredQ(q2, fq) => FilteredQ(mapNodes(q2)(f), mapNodes(fq)(f))
    case other => other
  }

  /** Every multi-term node of `q`, in tree order. */
  private[graft] def nodes(q: Query): Seq[MultiTermQ] = {
    val found = scala.collection.mutable.ArrayBuffer.empty[MultiTermQ]
    mapNodes(q) { n => found += n; n }
    found.toSeq
  }

  /** Expand against a merged dictionary view: `termsFrom` iterates the
    * sorted dictionary from a lower bound. */
  def expand(q: Query, termsFrom: Option[String] => Iterator[String]): Query =
    expandNodes(q, n => termsFrom(seekLowerBound(n)))

  /** Expand every multi-term node from its own candidate terms: `termsOf`
    * iterates a node's terms in dictionary order (its matches, or the
    * dictionary from its lower bound). Expanded terms come back sorted;
    * the rewrite keeps the reference's semantics: constant-score nodes
    * become ConstantScoreQ(OR), scoring nodes a plain OR of boosted TermQs.
    * Nodes that match nothing become an unsatisfiable empty BoolQ. */
  private[graft] def expandNodes(q: Query, termsOf: MultiTermQ => Iterator[String]): Query =
    mapNodes(q) { mt =>
      val it = termsOf(mt)
      val matched = scala.collection.mutable.ArrayBuffer.empty[TermQ]
      var done = false
      while (!done && it.hasNext) {
        val t = it.next()
        if (pastUpperBound(mt, t)) done = true
        else matchBoost(mt, t).foreach(b => matched += TermQ(t, b))
      }
      if (matched.isEmpty) BoolQ(should = Nil, minShouldMatch = 1) // matches nothing
      else if (mt.constantScore) {
        // CONSTANT_SCORE_AUTO (MultiTermQuery.cpp:182): small expansions
        // stay a lazy OR; big ones become a per-segment bitset filter so a
        // hot prefix never builds 10^4 TermScorers
        if (matched.size <= TermCountCutoff)
          ConstantScoreQ(BoolQ(should = matched.toSeq), mt.boost)
        else
          ConstantScoreQ(TermSetQ(matched.map(_.term).toSeq), mt.boost)
      } else mt match {
        case _: FuzzyQ if matched.size > MaxClauseCount =>
          // FuzzyQuery.cpp:85-121: keep the best maxClauseCount expansions
          // by similarity boost; ties keep the smaller term. Re-sort by term
          // so float summation order stays the dictionary order.
          val kept = matched.toSeq
            .sortBy(tq => (-tq.boost, tq.term))(
              Ordering.Tuple2(Ordering.Float.TotalOrdering, TermOrder.ordering))
            .take(MaxClauseCount).sortBy(_.term)(TermOrder.ordering)
          BoolQ(should = kept)
        case _ if matched.size > MaxClauseCount =>
          throw new TooManyClauses(
            s"multi-term expansion of $mt matched ${matched.size} terms " +
              s"(maxClauseCount = $MaxClauseCount); use a constant-score rewrite")
        case _ => BoolQ(should = matched.toSeq)
      }
    }
}
