package graft.index

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.codec.{ByteReader, ByteWriter}

/** Index-level snapshot: the committed segment set + global stats.
  *
  * Commit model mirrors the reference's lockless two-phase `segments_N`
  * (/root/reference/src/core/index/SegmentInfos.cpp:29-31,226-289):
  *  - each segment directory is published by atomic rename (task-level
  *    commit — the per-partition lineage row of the north rule);
  *  - the driver then writes `commits/commit_<gen>.json` naming the full
  *    segment set (snapshot). Readers use the highest complete generation;
  *    a half-written commit file is ignored because generation files are
  *    write-once + atomic-renamed.
  * Resume = planned segments MINUS segments already on disk with valid
  * meta (anti-join on segId). */
final case class IndexMeta(
    analyzer: String,
    numDocs: Long,
    sumDocLength: Long,
    hasPositions: Boolean,
    segments: Seq[SegmentMeta]) {
  def avgDocLength: Double = if (numDocs == 0) 0.0 else sumDocLength.toDouble / numDocs
}

object IndexMetaIO {

  /** On-disk segment format version, stamped into every commit snapshot.
    * Bump when the term-dict/postings layout changes (v2: per-term skip
    * tables + skipBytes in the term entry); readers of a mismatched index
    * must rebuild rather than mis-parse. */
  val FormatVersion = "2"

  def encodeSegment(m: SegmentMeta): Array[Byte] = {
    val w = new ByteWriter(128)
    w.writeVInt(m.segId)
    w.writeVLong(m.docBase)
    w.writeVInt(m.docCount)
    w.writeVLong(m.sumDocLength)
    w.writeVInt(m.termCount)
    w.writeVLong(m.postingCount)
    w.writeVLong(m.bytes)
    w.writeString(m.analyzer)
    w.writeByte(if (m.hasPositions) 1 else 0)
    w.writeByte(if (m.hasVectors) 1 else 0)
    w.writeByte(if (m.hasPayloads) 1 else 0)
    w.toArray
  }

  def decodeSegment(bytes: Array[Byte]): SegmentMeta = {
    val r = new ByteReader(bytes)
    SegmentMeta(r.readVInt(), r.readVLong(), r.readVInt(), r.readVLong(),
      r.readVInt(), r.readVLong(), r.readVLong(), r.readString(), r.readByte() == 1,
      r.remaining > 0 && r.readByte() == 1,
      r.remaining > 0 && r.readByte() == 1)
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def segmentJson(m: SegmentMeta): String =
    s"""{"segId":${m.segId},"docBase":${m.docBase},"docCount":${m.docCount},""" +
      s""""sumDocLength":${m.sumDocLength},"termCount":${m.termCount},""" +
      s""""postingCount":${m.postingCount},"bytes":${m.bytes},""" +
      s""""analyzer":${jsonStr(m.analyzer)},"hasPositions":${m.hasPositions},""" +
      s""""hasVectors":${m.hasVectors},"hasPayloads":${m.hasPayloads}}"""

  /** Write the driver-side commit snapshot: human-readable lineage JSON +
    * a binary twin (.segs) that readers load authoritatively — so a crash
    * BETWEEN a segment publish and its snapshot cannot surface uncommitted
    * segments to queries (the reference's write-once segments_N semantics,
    * SegmentInfos.cpp:226-289). `extra` carries e.g. the streaming batch
    * watermark. */
  def writeCommit(indexDir: String, meta: IndexMeta, extra0: Map[String, String] = Map.empty): Unit = {
    val extra = if (extra0.contains("format")) extra0 else extra0 + ("format" -> FormatVersion)
    val commitsDir = new File(indexDir, "commits")
    commitsDir.mkdirs()
    val gen = 1 + listCommitGens(commitsDir).foldLeft(-1)(math.max)
    val body = new StringBuilder
    body ++= s"""{"analyzer":${jsonStr(meta.analyzer)},"numDocs":${meta.numDocs},"""
    body ++= s""""sumDocLength":${meta.sumDocLength},"hasPositions":${meta.hasPositions},"""
    extra.foreach { case (k, v) => body ++= s"""${jsonStr(k)}:${jsonStr(v)},""" }
    body ++= s""""segments":["""
    body ++= meta.segments.sortBy(_.segId).map(segmentJson).mkString(",")
    body ++= "]}"
    val segsBin = new ByteWriter(4096)
    segsBin.writeString(meta.analyzer)
    segsBin.writeVLong(meta.numDocs)
    segsBin.writeVLong(meta.sumDocLength)
    segsBin.writeByte(if (meta.hasPositions) 1 else 0)
    segsBin.writeVInt(extra.size)
    extra.toSeq.sortBy(_._1).foreach { case (k, v) => segsBin.writeString(k); segsBin.writeString(v) }
    segsBin.writeVInt(meta.segments.size)
    meta.segments.sortBy(_.segId).foreach { m =>
      val b = encodeSegment(m)
      segsBin.writeVInt(b.length)
      segsBin.writeBytes(b)
    }
    val tmpB = new File(commitsDir, s".commit_$gen.segs.tmp")
    Files.write(tmpB.toPath, segsBin.toArray)
    Files.move(tmpB.toPath, new File(commitsDir, s"commit_$gen.segs").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    val tmp = new File(commitsDir, s".commit_$gen.tmp")
    Files.writeString(tmp.toPath, body.toString)
    Files.move(tmp.toPath, new File(commitsDir, s"commit_$gen.json").toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Read a binary snapshot; returns (meta, extra). */
  def readSnapshot(indexDir: String, gen: Int): Option[(IndexMeta, Map[String, String])] = {
    val f = new File(new File(indexDir, "commits"), s"commit_$gen.segs")
    if (!f.exists()) return None
    val r = new ByteReader(Files.readAllBytes(f.toPath))
    val analyzer = r.readString()
    val numDocs = r.readVLong()
    val sumDl = r.readVLong()
    val hasPos = r.readByte() == 1
    val nExtra = r.readVInt()
    val extra = (0 until nExtra).map(_ => (r.readString(), r.readString())).toMap
    val n = r.readVInt()
    val segs = (0 until n).map { _ =>
      val len = r.readVInt()
      decodeSegment(r.readBytes(len))
    }
    Some((IndexMeta(analyzer, numDocs, sumDl, hasPos, segs), extra))
  }

  def latestGen(indexDir: String): Option[Int] = {
    val gens = listCommitGens(new File(indexDir, "commits"))
    if (gens.isEmpty) None else Some(gens.max)
  }

  /** All commit generations on disk, ascending — the reference's
    * IndexReader::listCommits. Every listed generation is openable:
    * compaction purges the commit files whose snapshots reference the
    * segments it physically retires (Maintenance.compact), so history
    * truncates exactly where its files go. Only generations whose binary
    * `.segs` twin survives are listed: every open path reads the twin, so
    * a `.json` whose twin was lost must not be advertised as openable. */
  def commitGens(indexDir: String): Seq[Int] = {
    val cd = new File(indexDir, "commits")
    listCommitGens(cd)
      .filter(g => new File(cd, s"commit_$g.segs").exists())
      .sorted
  }

  private def listCommitGens(commitsDir: File): Seq[Int] = {
    val fs = Option(commitsDir.listFiles()).getOrElse(Array.empty)
    fs.toSeq.map(_.getName).collect {
      case n if n.startsWith("commit_") && n.endsWith(".json") =>
        n.stripPrefix("commit_").stripSuffix(".json").toInt
    }
  }

  /** Segments already committed on disk (task-level lineage), independent of
    * a driver snapshot — the resume source of truth. */
  def committedSegments(indexDir: String): Seq[SegmentMeta] = {
    val dir = new File(indexDir)
    val fs = Option(dir.listFiles()).getOrElse(Array.empty)
    fs.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("seg-") && !f.getName.contains(".tmp"))
      .flatMap { segDir =>
        val metaFile = new File(segDir, "meta.bin")
        if (metaFile.exists()) Some(decodeSegment(Files.readAllBytes(metaFile.toPath)))
        else None
      }
      .sortBy(_.segId)
  }

  /** Read the latest committed snapshot. The binary `.segs` twin is
    * authoritative: segments on disk that never made a snapshot are
    * invisible to queries, and a newest commit whose twin is missing reads
    * as no index (its deletion generation lives only there). */
  def readLatest(indexDir: String): Option[IndexMeta] =
    readLatestWithExtra(indexDir).map(_._1)

  def readLatestWithExtra(indexDir: String): Option[(IndexMeta, Map[String, String])] =
    latestGen(indexDir).flatMap(gen => readSnapshot(indexDir, gen))
}
