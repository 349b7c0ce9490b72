package graft.index

import graft.score.Similarity
import graft.search.{Query, ScoredDoc, SegmentSearch}

/** Single-process build/search over the same segment format — used by unit
  * tests (fast, no SparkSession) and as the 1-partition baseline that the
  * distributed build must byte-match (MultiSearcherRankingTest pattern,
  * SURVEY.md §5.1). The build runs the distributed build's own inverter
  * (`IndexBuilder.invertPartitionSegments`) over all docs in one pass;
  * SparkIndexSpec pins its bytes to `IndexBuilder.build`'s. */
object LocalIndex {

  /** docs = (docId, text) with dense ids 0..n-1. */
  def build(indexDir: String, docs: Seq[(Long, String)], analyzerName: String,
      docsPerSegment: Int = Int.MaxValue, storePositions: Boolean = true,
      storeTermVectors: Boolean = false, storePayloads: Boolean = false): IndexMeta = {
    new java.io.File(indexDir).mkdirs()
    val keyed = docs.sortBy(_._1).iterator.map { case (id, text) =>
      ((IndexBuilder.segIdOf(id, docsPerSegment), id), text)
    }
    val metas = IndexBuilder.invertPartitionSegments(keyed, indexDir, analyzerName,
      docsPerSegment, docs.size.toLong, storePositions,
      storeVectors = storeTermVectors, storePayloads = storePayloads).toSeq
    val meta = IndexMeta(analyzerName, metas.map(_.docCount.toLong).sum,
      metas.map(_.sumDocLength).sum, storePositions, metas)
    IndexMetaIO.writeCommit(indexDir, meta)
    meta
  }

  /** Sequential search across all segments + merge (drop-in comparable with
    * the distributed IndexSearcher). */
  def search(indexDir: String, q0: Query, k: Int, sim: Similarity,
      useWand: Boolean = true): Array[ScoredDoc] = {
    val meta = IndexMetaIO.readLatest(indexDir).get
    val readers = meta.segments.map(m =>
      new SegmentReader(new java.io.File(indexDir, SegmentFormat.segDirName(m.segId))))
    val q =
      if (!graft.search.Query.hasMultiTerm(q0)) q0
      else {
        // merged dictionary view: union of per-segment sorted term streams
        val termsFrom = (lower: Option[String]) => {
          val its = readers.map(_.termsFrom(lower).map(_.term))
          its.foldLeft(Iterator.empty: Iterator[String])(_ ++ _).toSeq.distinct
            .sorted(TermOrder.ordering).iterator
        }
        graft.search.MultiTerm.expand(q0, termsFrom)
      }
    val terms = Query.allTerms(q)
    val dfm = terms.map(t => t -> readers.flatMap(_.termInfo(t)).map(_.df.toLong).sum).toMap
    val stats = graft.score.CorpusStats(meta.numDocs, meta.avgDocLength)
    readers.flatMap(r => SegmentSearch.topK(r, q, k, sim, stats, t => dfm.getOrElse(t, 0L), useWand))
      .sortBy(h => (-h.score, h.docId))
      .take(k)
      .toArray
  }

  /** Explain `q0`'s score for one doc (reference Searcher::explain). The
    * value is bit-identical to what [[search]] collects for a hit, and 0
    * with matched=false for a non-hit. */
  def explain(indexDir: String, q0: Query, docId: Long,
      sim: Similarity): graft.search.Explanation = {
    val meta = IndexMetaIO.readLatest(indexDir).get
    val readers = meta.segments.map(m =>
      new SegmentReader(new java.io.File(indexDir, SegmentFormat.segDirName(m.segId))))
    val q =
      if (!graft.search.Query.hasMultiTerm(q0)) q0
      else {
        val termsFrom = (lower: Option[String]) => {
          val its = readers.map(_.termsFrom(lower).map(_.term))
          its.foldLeft(Iterator.empty: Iterator[String])(_ ++ _).toSeq.distinct
            .sorted(TermOrder.ordering).iterator
        }
        graft.search.MultiTerm.expand(q0, termsFrom)
      }
    val terms = Query.allTerms(q)
    val dfm = terms.map(t => t -> readers.flatMap(_.termInfo(t)).map(_.df.toLong).sum).toMap
    val stats = graft.score.CorpusStats(meta.numDocs, meta.avgDocLength)
    val reader = readers.find(r =>
      docId >= r.meta.docBase && docId < r.meta.docBase + r.meta.docCount)
      .getOrElse(return graft.search.Explanation(0.0, s"doc $docId not in index",
        matched = false))
    val local = (docId - reader.meta.docBase).toInt
    val view = graft.search.Explain.docView(reader, local, graft.search.Explain.viewTerms(q))
    val qn = sim.queryNorm(SegmentSearch.sumOfSquaredWeights(
      Query.rewrite(q), sim, stats, t => dfm.getOrElse(t, 0L)))
    graft.search.Explain.explainDoc(q, view, sim, stats, dfm, qn)
  }
}
