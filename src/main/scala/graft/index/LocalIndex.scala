package graft.index

import graft.score.{CorpusStats, Similarity}
import graft.search.{Explain, Explanation, MultiTerm, Query, ScoredDoc, SegmentSearch}

/** Single-process build/search over the same segment format — used by unit
  * tests (fast, no SparkSession) and as the 1-partition baseline that the
  * distributed build must byte-match (MultiSearcherRankingTest pattern,
  * SURVEY.md §5.1). The build runs the distributed build's own inverter
  * (`IndexBuilder.invertPartitionSegments`) over all docs in one pass;
  * SparkIndexSpec pins its bytes to `IndexBuilder.build`'s. Search and
  * explain run IndexSearcher's per-segment bodies (`MultiTerm.segmentMatches`,
  * `SegmentSearch.topK`, `Explain.explainSegment`) in a loop over the
  * segments and merge with `ScoredDoc.topK`. */
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

  /** The single-process twin of IndexSearcher's preamble: the committed
    * segments, `q0` expanded through the same per-segment dictionary scan
    * and rewritten, the corpus stats and the global df. */
  private def prepare(indexDir: String,
      q0: Query): (Seq[SegmentReader], Query, CorpusStats, Map[String, Long]) = {
    val meta = IndexMetaIO.readLatest(indexDir).get
    val readers = meta.segments.map(m =>
      new SegmentReader(new java.io.File(indexDir, SegmentFormat.segDirName(m.segId))))
    val nodes = MultiTerm.nodes(q0).distinct
    val termsOf = MultiTerm.termSets(
      for (r <- readers; n <- nodes; t <- MultiTerm.segmentMatches(r, n)) yield (n, t))
    val q = Query.rewrite(MultiTerm.expandNodes(q0, termsOf))
    val dfm = Query.allTerms(q).iterator
      .map(t => t -> readers.flatMap(_.termInfo(t)).map(_.df.toLong).sum).toMap
    (readers, q, CorpusStats(meta.numDocs, meta.avgDocLength), dfm)
  }

  /** Sequential search across all segments + merge (drop-in comparable with
    * the distributed IndexSearcher). */
  def search(indexDir: String, q0: Query, k: Int, sim: Similarity,
      useWand: Boolean = true): Array[ScoredDoc] = {
    val (readers, q, st, dfm) = prepare(indexDir, q0)
    ScoredDoc.topK(readers.iterator.flatMap(r =>
      SegmentSearch.topK(r, q, k, sim, st, dfm.getOrElse(_, 0L), useWand)), k)
  }

  /** Explain `q0`'s score for one doc (reference Searcher::explain). The
    * value is bit-identical to what [[search]] collects for a hit, and 0
    * with matched=false for a non-hit. */
  def explain(indexDir: String, q0: Query, docId: Long, sim: Similarity): Explanation = {
    val (readers, q, st, dfm) = prepare(indexDir, q0)
    readers.find(r => docId >= r.meta.docBase && docId < r.meta.docBase + r.meta.docCount)
      .fold(Explanation.notInIndex(docId))(r =>
        Explain.explainSegment(r, q, Seq(docId), sim, st, dfm).head._2)
  }
}
