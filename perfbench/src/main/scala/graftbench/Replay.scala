package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import graft.index.{IndexMetaIO, SegmentFormat, SegmentReader, SegmentWriter}
import graft.search.Scorer

/** Replays a committed segment through a fresh `SegmentWriter`: the terms,
  * postings (with positions) and `doclens` are read with `SegmentReader`
  * first, so the timed part is encode and write only. */
object Replay {
  final case class Posting(doc: Int, freq: Int, positions: Array[Int])

  def read(segDir: File): (SegmentReader, Seq[(String, Array[Posting])]) = {
    val r = new SegmentReader(segDir)
    val terms = r.allTerms.map { ti =>
      val it = r.postings(ti, needPositions = r.meta.hasPositions)
      val out = mutable.ArrayBuffer.empty[Posting]
      var d = it.nextDoc()
      while (d != Scorer.NoMoreDocs) {
        out += Posting(d, it.freq, if (r.meta.hasPositions) it.positions() else Array.emptyIntArray)
        d = it.nextDoc()
      }
      (ti.term, out.toArray)
    }.toVector
    (r, terms)
  }

  /** Seconds to write the segment into `outIndex`, and whether every file
    * came out byte-identical to the original. */
  def replay(segDir: File, outIndex: File): (Double, Boolean) = {
    val (r, terms) = read(segDir)
    val m = r.meta
    outIndex.mkdirs()
    val (_, sec) = Ctx.time {
      val w = new SegmentWriter(outIndex.getPath, m.segId, m.docBase, m.docCount, m.analyzer, m.hasPositions)
      var i = 0
      while (i < m.docCount) { w.addDocLength(i, r.doclens(i)); i += 1 }
      terms.foreach { case (t, ps) => ps.foreach(p => w.addPosting(t, p.doc, p.freq, p.positions)) }
      w.finish()
    }
    val copy = new File(outIndex, SegmentFormat.segDirName(m.segId))
    val orig = Ctx.files(segDir).filterNot(_.getName.startsWith("del_"))
    val same = orig.map(_.getName) == Ctx.files(copy).map(_.getName) && orig.forall { f =>
      java.util.Arrays.equals(Files.readAllBytes(f.toPath),
        Files.readAllBytes(new File(copy, f.getName).toPath))
    }
    (sec, same)
  }

  def firstSegment(indexDir: File): File = {
    val m = IndexMetaIO.readLatest(indexDir.getPath).get.segments.minBy(_.segId)
    new File(indexDir, SegmentFormat.segDirName(m.segId))
  }

  /** Replays the first segment of `indexDir` three times; returns the
    * median write time and checks every copy is byte-identical. */
  def check(ctx: Ctx, indexDir: File): Double = {
    val seg = firstSegment(indexDir)
    val runs = (1 to 3).map { i =>
      val out = ctx.dir(s"replay-$i")
      try replay(seg, out) finally Ctx.rm(out)
    }
    ctx.check(s"replayed ${seg.getName} is byte-identical to the built one")(runs.forall(_._2))
    Stats.median(runs.map(_._1))
  }
}
