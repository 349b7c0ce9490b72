package graft.search

import java.io.File

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.{IndexMeta, IndexMetaIO, SegmentFormat, SegmentReader}
import graft.score.{BM25, CorpusStats, Similarity}

/** Per-executor segment reader cache — segments are immutable, so a
  * process-wide map keyed by path is safe; the mmap'd buffers are shared by
  * all tasks on the executor (reference analog: one SegmentReader per open
  * index — /root/reference/src/core/index/DirectoryReader.cpp). */
object ReaderCache {
  /** Bounded: an executor touching 10^5+ segments across many indexes must
    * not accumulate mmaps without limit; evicted readers' buffers are
    * unmapped by GC once their scorers finish. */
  private val MaxReaders = 4096
  private val cache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, SegmentReader](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, SegmentReader]): Boolean =
          size() > MaxReaders
      })
  /** `segDir` may carry a `#<delGen>` suffix: the filesystem path is
    * everything before '#', the full string is the cache key — a delete
    * batch bumps the generation so every executor re-opens the segment and
    * sees the new del bitset (the reference's reopen-to-see-deletes
    * semantics). The generation is also the reader's del-file BOUND: the
    * reader loads the newest `del_<g>.bin` with g ≤ delGen, so a bitset
    * written ahead of its commit (updateDocuments) stays invisible until
    * the commit that references its generation lands. No suffix = snapshot
    * at generation 0 (no committed deletes). */
  def get(segDir: String): SegmentReader = {
    val hit = cache.get(segDir)
    if (hit != null) hit
    else {
      val h = segDir.indexOf('#')
      val path = if (h < 0) segDir else segDir.substring(0, h)
      val bound = if (h < 0) 0 else segDir.substring(h + 1).toInt
      val r = new SegmentReader(new File(path), bound)
      cache.put(segDir, r)
      r
    }
  }
  def clear(): Unit = { cache.clear(); FilterCache.clear() }
}

/** Per-(segment, filter) memoized match bitsets — the reference's
  * CachingWrapperFilter per-reader cache
  * (/root/reference/src/core/search/CachingWrapperFilter.cpp:1-155)
  * keyed by segment directory (segments are immutable). Bounded LRU so a
  * long-lived executor holding many indexes cannot grow without limit. */
object FilterCache {
  private val MaxEntries = 256
  private val hitCount = new java.util.concurrent.atomic.AtomicLong
  private val missCount = new java.util.concurrent.atomic.AtomicLong
  private val cache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Query), java.util.BitSet](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Query), java.util.BitSet]): Boolean =
          size() > MaxEntries
      })

  def getOrCompute(segDir: String, q: Query)(compute: => java.util.BitSet): java.util.BitSet = {
    val key = (segDir, q)
    val hit = cache.get(key)
    if (hit != null) { hitCount.incrementAndGet(); hit }
    else {
      missCount.incrementAndGet()
      val bits = compute
      cache.put(key, bits)
      bits
    }
  }

  def hits: Long = hitCount.get
  def misses: Long = missCount.get
  def clear(): Unit = { cache.clear(); hitCount.set(0); missCount.set(0) }
}

/** Distributed BM25 top-k over the committed segment set.
  *
  * This IS the reference's ParallelMultiSearcher re-expressed on Spark
  * (/root/reference/src/core/search/ParallelMultiSearcher.cpp:32-90;
  * SURVEY.md §3.2): the per-subreader scatter loop becomes a task per
  * segment, docBase offsets come from the lineage table, global weights
  * (df, N, avgdl) are computed once driver-side and broadcast, and the
  * final merge is a driver heap over ≤ k hits per segment.
  *
  * Every entry point (search, explain, match, delete) runs one path.
  * `prepare` expands multi-term nodes against the dictionary (one job, only
  * when the batch has such nodes), applies the 1-clause rewrite and
  * computes global df for all the batch's terms (one job). `scatter`, the
  * one scatter, broadcasts the df map with the operation's payload, runs
  * that operation's per-segment body as one task per segment and destroys
  * the broadcast. The driver merges top-k hits with `ScoredDoc.topK`. The
  * per-segment bodies (`SegmentSearch.topK`, `Explain.explainSegment`,
  * `SegmentSearch.markMatches`, `MultiTerm.segmentMatches`) are the ones
  * LocalIndex runs in a loop. Queries are executed in BATCHES, so
  * per-query driver work is O(segments · k).
  *
  * `commitGen` opens a POINT-IN-TIME snapshot at that commit generation
  * instead of the latest — the reference's IndexCommit / IndexReader::open
  * (commit) (/root/reference/src/core/index/IndexReader.cpp, DirectoryReader
  * over a SegmentInfos generation): the searcher sees exactly the segment
  * set and deletion generation that commit recorded, regardless of later
  * appends, deletes, or updates. Valid until a compaction retires segments
  * the commit references (the same lifetime the reference gives non-latest
  * commits under its default deletion policy). Enumerate openable
  * generations with `IndexMetaIO.commitGens(dir)`. */
final class IndexSearcher(spark: SparkSession, val indexDir: String,
    commitGen: Option[Int]) extends Serializable {

  def this(spark: SparkSession, indexDir: String) = this(spark, indexDir, None)

  private val snapshot: (IndexMeta, Map[String, String]) = commitGen match {
    case Some(g) => IndexMetaIO.readSnapshot(indexDir, g)
      .getOrElse(throw new IllegalStateException(s"no commit generation $g at $indexDir"))
    case None => IndexMetaIO.readLatestWithExtra(indexDir)
      .getOrElse(throw new IllegalStateException(s"no committed index at $indexDir"))
  }
  val meta: IndexMeta = snapshot._1
  val stats: CorpusStats = CorpusStats(meta.numDocs, meta.avgDocLength)

  /** Deletion generation of the snapshot this searcher opened — baked into
    * every reader-cache key so executors re-open segments after a delete
    * batch. Scoring stats (df, N, avgdl) deliberately keep counting
    * tombstoned docs until a merge reclaims them, as the reference does. */
  private val delGen: Int = snapshot._2.get("delgen").map(_.toInt).getOrElse(0)

  private def segDir(segId: Int): String = {
    val path = new File(indexDir, SegmentFormat.segDirName(segId)).getPath
    if (delGen == 0) path else s"$path#$delGen"
  }

  private val segDirs: Seq[String] = meta.segments.map(m => segDir(m.segId))

  /** The one scatter: broadcast `dfMap` with the operation's `payload`, run
    * `body` as one task per element of `parts` (a segment dir, or a dir
    * with the docIds to explain), hand the lazy result to `run` on the
    * driver, then destroy the broadcast. `keep` leaves it alive for a
    * result that is still lazy when this returns. */
  private def scatter[T: ClassTag, P, R: ClassTag, X](parts: Seq[T], payload: P,
      dfMap: Map[String, Long] = Map.empty, keep: Boolean = false)(
      body: (T, P, Map[String, Long]) => IterableOnce[R])(run: RDD[R] => X): X = {
    val sc = spark.sparkContext
    val bc = sc.broadcast((payload, dfMap))
    try run(sc.parallelize(parts, math.max(1, parts.size)).flatMap { part =>
      val (p, dfm) = bc.value
      body(part, p, dfm)
    })
    finally if (!keep) bc.destroy()
  }

  /** The one preamble: expand the batch's multi-term nodes against this
    * index's dictionary, apply the 1-clause rewrite, and compute global df
    * for every term left. */
  private def prepare(
      queries0: Seq[(String, Query)]): (Seq[(String, Query)], Map[String, Long]) = {
    val queries = IndexSearcher.expandAcross(Seq(this), queries0)
      .map { case (id, q) => id -> Query.rewrite(q) }
    (queries, globalDf(queries.flatMap { case (_, q) => Query.allTerms(q) }.toSet))
  }

  private def prepare(q0: Query): (Query, Map[String, Long]) = {
    val (queries, dfMap) = prepare(Seq("q" -> q0))
    (queries.head._2, dfMap)
  }

  /** Global document frequencies for a term set: sum of per-segment df.
    * Exact (the reference's df is exact too — SURVEY.md §2.4). */
  def globalDf(terms: Set[String]): Map[String, Long] =
    if (terms.isEmpty) Map.empty
    else scatter(segDirs, terms.toSeq) { (dir, ts, _) =>
      val r = ReaderCache.get(dir)
      ts.flatMap(t => r.termInfo(t).map(ti => (t, ti.df.toLong)))
    }(_.reduceByKey(_ + _).collect().toMap)

  /** (node, matched term) pairs from this index's segments — the
    * distributed half of multi-term expansion. Per-node match is a pure
    * function of term text, so the union is exactly the global dictionary
    * expansion (MultiTerm scaladoc); a cross-index MultiSearcher unions
    * several indexes' pairs before rewriting once, like the reference's
    * rewrite against the combined reader. */
  private[search] def multiTermMatches(nodes: Seq[MultiTermQ]): Array[(MultiTermQ, String)] =
    scatter(segDirs, nodes) { (dir, ns, _) =>
      val r = ReaderCache.get(dir)
      ns.iterator.flatMap(n => MultiTerm.segmentMatches(r, n).map(t => (n, t)))
    }(_.distinct().collect())

  def search(q: Query, k: Int, sim: Similarity, useWand: Boolean = true): Array[ScoredDoc] =
    searchBatch(Seq("q" -> q), k, sim, useWand)("q")

  def searchBatch(queries0: Seq[(String, Query)], k: Int, sim: Similarity,
      useWand: Boolean = true): Map[String, Array[ScoredDoc]] = {
    val (queries, dfMap) = prepare(queries0)
    searchBatchWith(queries, k, sim, useWand, stats, dfMap, 0L)
  }

  /** The post-expansion scatter/merge with CALLER-SUPPLIED scoring stats,
    * document frequencies, and a docId offset — the hook a cross-index
    * MultiSearcher uses so every sub-index scores with the combined
    * corpus's weights (reference MultiSearcher::createWeight +
    * CachedDfSource, reference src/core/search/MultiSearcher.cpp). */
  private[search] def searchBatchWith(queries: Seq[(String, Query)], k: Int,
      sim: Similarity, useWand: Boolean, st: CorpusStats,
      dfMap: Map[String, Long], docIdOffset: Long): Map[String, Array[ScoredDoc]] = {
    val mergeTopK = (a: Array[ScoredDoc], b: Array[ScoredDoc]) => ScoredDoc.topK(a ++ b, k)
    val collected = scatter(segDirs, queries, dfMap) { (dir, qs, dfm) =>
      val reader = ReaderCache.get(dir)
      val df = (t: String) => dfm.getOrElse(t, 0L)
      qs.iterator.map { case (id, q) =>
        (id, SegmentSearch.topK(reader, q, k, sim, st, df, useWand))
      }
    } { perSegment =>
      // Above a segment-count threshold the merge goes through reduceByKey:
      // the map-side combiners fold each partition's hits first, so the
      // driver receives O(queries · k) rows instead of O(segments · k)
      if (segDirs.size <= 256) perSegment.collect()
      else perSegment.reduceByKey(mergeTopK, math.max(1, queries.size)).collect()
    }
    collected.groupBy(_._1).map { case (id, hits) =>
      val merged = ScoredDoc.topK(hits.iterator.flatMap(_._2), k)
      id -> (if (docIdOffset == 0L) merged
             else merged.map(h => h.copy(docId = h.docId + docIdOffset)))
    }
  }

  /** Time-budgeted search: each segment task stops collecting once its
    * share of `timeoutMs` elapses and returns what it gathered — partial
    * top-k plus a timed-out flag (the reference's TimeLimitingCollector
    * semantics, applied per task: each executor enforces the budget with
    * its own clock). */
  def searchWithTimeout(q0: Query, k: Int, sim: Similarity,
      timeoutMs: Long): (Array[ScoredDoc], Boolean) = {
    val (q, dfMap) = prepare(q0)
    val st = stats
    val budgetNanos = timeoutMs * 1000000L
    val perSegment = scatter(segDirs, q, dfMap) { (dir, q, dfm) =>
      Iterator.single(SegmentSearch.topKTimed(ReaderCache.get(dir), q, k, sim, st,
        dfm.getOrElse(_, 0L), useWand = false, System.nanoTime() + budgetNanos))
    }(_.collect())
    (ScoredDoc.topK(perSegment.iterator.flatMap(_._1), k), perSegment.exists(_._2))
  }

  /** ALL matching docIds as a DataFrame — the match-set path. Matches are
    * enumerated inside tasks (one per segment) and returned as a distributed
    * result; nothing is materialized on the driver, so a stop-word phrase
    * over 10^12 docs streams straight to the sink. Scoring is skipped:
    * only the scorer tree's matching behavior runs. */
  def matchingDocs(q0: Query): DataFrame = {
    val (q, dfMap) = prepare(q0)
    val st = stats
    val rdd = scatter(segDirs, q, dfMap, keep = true) { (dir, q, dfm) =>
      val reader = ReaderCache.get(dir)
      val df = (t: String) => dfm.getOrElse(t, 0L)
      val sim = BM25()
      val docBase = reader.meta.docBase
      val qn = sim.queryNorm(SegmentSearch.sumOfSquaredWeights(q, sim, st, df))
      SegmentSearch.scorer(q, reader, sim, st, df, qn) match {
        case None => Iterator.empty
        case Some(s) =>
          Iterator.continually(s.nextDoc())
            .takeWhile(_ != Scorer.NoMoreDocs)
            .filter(d => !reader.deleted(d))
            .map(d => docBase + d)
      }
    }(identity)
    val sp = spark
    import sp.implicits._
    rdd.toDF("doc_id")
  }

  /** Explain the score of one (query, doc) — the reference's
    * Searcher::explain (Explanation value == the score search collects for
    * a hit; matched=false and 0 for a non-hit). Runs on the executor side,
    * where the segment files live; only the explanation tree comes back. */
  def explain(q0: Query, docId: Long, sim: Similarity): Explanation =
    explainMany(q0, Seq(docId), sim).head

  /** Batched [[explain]]: every (query, doc) explanation in ONE Spark job
    * (one task per touched segment, one shared df job and broadcast)
    * instead of a df job + a one-task job per doc. Order follows
    * `docIds`. */
  def explainMany(q0: Query, docIds: Seq[Long], sim: Similarity): Seq[Explanation] = {
    val (q, dfMap) = prepare(q0)
    val st = stats
    val bySeg = docIds.distinct.flatMap { docId =>
      meta.segments.find(m => docId >= m.docBase && docId < m.docBase + m.docCount)
        .map(m => segDir(m.segId) -> docId)
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
    val found: Map[Long, Explanation] =
      if (bySeg.isEmpty) Map.empty
      else scatter(bySeg, q, dfMap) { case ((dir, ids), q, dfm) =>
        Explain.explainSegment(ReaderCache.get(dir), q, ids, sim, st, dfm)
      }(_.collect().toMap)
    docIds.map(id => found.getOrElse(id, Explanation.notInIndex(id)))
  }

  /** Delete every doc matching `q` — the reference's
    * IndexReader::deleteDocuments re-expressed: one task per segment ORs
    * the match set into the segment's del bitset (atomic write), the
    * driver then snapshots a bumped deletion generation so subsequently
    * OPENED searchers see the deletes (this searcher's snapshot is
    * unchanged, like the reference's point-in-time readers). DocIDs stay
    * stable; space is reclaimed at the next merge. Returns the number of
    * docs newly deleted. */
  def deleteDocs(q0: Query): Long = deleteDocs(q0, commit = true)

  /** Tombstone every doc matching `q0`. With `commit = false` the del
    * bitsets are written but the delgen snapshot is left to the caller —
    * updateDocuments uses this to fold deletes and appends into ONE
    * commit (the reference's IndexWriter::updateDocument,
    * /root/reference/src/core/index/IndexWriter.cpp:981-1004). */
  def deleteDocs(q0: Query, commit: Boolean): Long = {
    val (q, dfMap) = prepare(q0)
    val st = stats
    // the CURRENT committed generation (not this searcher's open-time
    // snapshot — a second batch through the same instance must seed from
    // the first batch's committed bitsets), and the generation the new
    // bitsets will be committed under: files are written as
    // del_<targetGen>.bin and stay invisible to every reader until the
    // commit recording delgen=targetGen lands (crash ⇒ ignored orphans)
    val (commitMeta, commitExtra) = IndexMetaIO.readLatestWithExtra(indexDir).get
    val committedGen = commitExtra.get("delgen").map(_.toInt).getOrElse(0)
    val targetGen = committedGen + 1
    // Purge orphan generations (> committedGen) left by a batch that
    // crashed pre-commit, across the CURRENT commit's segments — a
    // superset of anywhere orphans can live, and deliberately not just
    // this searcher's (possibly stale) snapshot. Without this, committing
    // delgen=targetGen below would retroactively adopt a crashed
    // updateDocuments' del_<targetGen>.bin in segments this batch didn't
    // write: its deletes would apply without its adds.
    val allSegs = commitMeta.segments
      .map(m => new File(indexDir, SegmentFormat.segDirName(m.segId)).getPath)
    scatter(allSegs, committedGen) { (path, gen, _) =>
      SegmentFormat.purgeOrphanDeletes(new File(path), gen)
      Iterator.empty[Unit]
    }(_.foreach(_ => ()))
    val newly = scatter(segDirs, q, dfMap) { (dir, q, dfm) =>
      val reader = ReaderCache.get(dir)
      val df = (t: String) => dfm.getOrElse(t, 0L)
      val sim: Similarity = BM25()
      // seed from the CURRENT COMMITTED bitset, NOT the cached reader's
      // open-time snapshot: this searcher's reader-cache key is pinned to
      // its open-time delGen, so a second delete batch through the same
      // searcher instance would otherwise OR into a pre-first-batch bitset
      // and silently resurrect the first batch's committed tombstones
      val bits = SegmentFormat.readDeletes(reader.dir, committedGen)
      val before = bits.cardinality()
      SegmentSearch.markMatches(q, reader, sim, st, df,
        sim.queryNorm(SegmentSearch.sumOfSquaredWeights(q, sim, st, df)), bits)
      val added = bits.cardinality() - before
      if (added > 0) SegmentFormat.writeDeletes(reader.dir, bits, targetGen)
      Iterator.single(added.toLong)
    }(_.collect().sum)
    if (newly > 0 && commit) {
      // publish: a fresh snapshot (meta unchanged) whose delgen references
      // the just-written generation — readers flip atomically to it
      IndexMetaIO.writeCommit(indexDir, commitMeta,
        commitExtra + ("delgen" -> targetGen.toString))
    }
    newly
  }

  /** Live (non-tombstoned) doc count — numDocs minus deletions. */
  def liveDocCount(): Long =
    meta.numDocs - scatter(segDirs, ()) { (dir, _, _) =>
      Iterator.single(ReaderCache.get(dir).delCount.toLong)
    }(_.collect().sum)
}

/** Cross-index searcher — the reference's MultiSearcher over several
  * physical indexes (/root/reference/src/core/search/MultiSearcher.cpp):
  * docFreq sums across sub-indexes, scoring stats come from the combined
  * corpus (so scores are comparable across indexes — MultiSearcher's
  * CachedDfSource weight creation), result docIds are offset by each
  * sub-index's start (starts[] remapping), and multi-term expansion
  * rewrites ONCE against the union of the sub-dictionaries. */
final class MultiIndexSearcher(subs: Seq[IndexSearcher]) {
  require(subs.nonEmpty, "MultiIndexSearcher needs at least one sub-index")

  /** docId offset per sub-index, in order (MultiSearcher starts[]). */
  val starts: Seq[Long] = subs.scanLeft(0L)(_ + _.meta.numDocs).init

  val stats: CorpusStats = {
    val docs = subs.map(_.meta.numDocs).sum
    val sumDl = subs.map(_.meta.sumDocLength).sum
    CorpusStats(docs, if (docs == 0) 0.0 else sumDl.toDouble / docs)
  }

  def globalDf(terms: Set[String]): Map[String, Long] =
    subs.map(_.globalDf(terms)).foldLeft(Map.empty[String, Long]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (t, df)) => a.updated(t, a.getOrElse(t, 0L) + df) }
    }

  def search(q: Query, k: Int, sim: Similarity,
      useWand: Boolean = true): Array[ScoredDoc] =
    searchBatch(Seq("q" -> q), k, sim, useWand)("q")

  def searchBatch(queries0: Seq[(String, Query)], k: Int, sim: Similarity,
      useWand: Boolean = true): Map[String, Array[ScoredDoc]] = {
    // union multi-term expansion across every sub-dictionary, then one
    // rewrite — per-index expansion would pick different fuzzy/budget
    // subsets and make scores incomparable
    val queries = IndexSearcher.expandAcross(subs, queries0)
    val dfMap = globalDf(queries.flatMap { case (_, q) => Query.allTerms(q) }.toSet)
    val perSub = subs.zip(starts).map { case (s, base) =>
      s.searchBatchWith(queries, k, sim, useWand, stats, dfMap, base)
    }
    queries.map { case (id, _) =>
      id -> ScoredDoc.topK(perSub.iterator.flatMap(_.get(id).iterator.flatten), k)
    }.toMap
  }
}

object IndexSearcher {

  /** Expand every multi-term node of the batch against the union of
    * `searchers`' dictionaries: one dictionary-scan job per searcher, and
    * none when the batch has no multi-term node. */
  private[search] def expandAcross(searchers: Seq[IndexSearcher],
      queries: Seq[(String, Query)]): Seq[(String, Query)] = {
    val nodes = queries.flatMap { case (_, q) => MultiTerm.nodes(q) }.distinct
    if (nodes.isEmpty) queries
    else {
      val termsOf = MultiTerm.termSets(searchers.flatMap(_.multiTermMatches(nodes)))
      queries.map { case (id, q) => id -> MultiTerm.expandNodes(q, termsOf) }
    }
  }
}
