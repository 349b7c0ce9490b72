package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory spans for the traced run. The benchmark opens a span around
  * each call it makes into graft (name, layer, start, end, parent, and a
  * request id shared by one query or op); a SparkListener adds the job,
  * stage and task records as child spans of the span that was open when
  * the job was submitted. Nothing is written until the run ends. With
  * tracing off, `span` is a plain call and no listener is attached. */
object Trace {

  final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
      val kind: String, val req: Int, val start: Long, var end: Long) {
    val attrs = mutable.LinkedHashMap.empty[String, Double]
    def dur: Double = (end - start) / 1e9
  }

  @volatile private var enabled = false
  private var active = false // listener attached: the run is a traced run
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Span] = Nil
  private var req = 0
  private var sc: SparkContext = _
  private val SpanKey = "graftbench.span"
  private val ReqKey = "graftbench.req"

  // Spark timestamps are wall-clock milliseconds; spans use nanoTime
  private val nanoMinusMs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNano(ms: Long): Long = ms * 1000000L + nanoMinusMs

  def traced: Boolean = active
  /** Record spans from now on (traced runs only); off pauses recording so
    * the run can time the same work untraced for the overhead figure. */
  def setOn(b: Boolean): Unit = enabled = b && active
  def activate(): Unit = { active = true; enabled = true }

  /** Listen to a new session's events. Job and stage ids restart with
    * every SparkContext, so the id maps start empty too. */
  def attach(s: SparkSession): Unit = if (active) {
    jobSpan.synchronized { jobSpan.clear(); stageJob.clear(); resultStage.clear() }
    sc = s.sparkContext
    sc.addSparkListener(listener)
  }

  private def add(s: Span): Span = spans.synchronized { spans += s; s }
  private def newId(): Int = spans.synchronized { val i = nextId; nextId += 1; i }

  /** A new request id for the spans of one query or op. */
  def request[A](f: => A): A = {
    val saved = req
    req = newId()
    try f finally req = saved
  }

  def span[A](name: String, layer: String)(f: => A): A = {
    if (!enabled) return f
    val parent = stack.headOption.map(_.id).getOrElse(0)
    val s = add(new Span(newId(), parent, name, layer, "call", req, System.nanoTime(), 0L))
    stack = s :: stack
    setLocal(s.id)
    try f finally {
      s.end = System.nanoTime()
      stack = stack.tail
      setLocal(parent)
    }
  }

  private def setLocal(id: Int): Unit = if (sc != null && !sc.isStopped) {
    sc.setLocalProperty(SpanKey, id.toString)
    sc.setLocalProperty(ReqKey, req.toString)
  }

  /** Wait for the listener to see every event posted so far. */
  def drain(): Unit = if (active && sc != null && !sc.isStopped)
    org.apache.spark.GraftbenchBus.drain(sc)

  // ---- listener records

  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val resultStage = mutable.HashMap.empty[Int, Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val p = Option(e.properties)
      val parent = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(0)
      val r = p.flatMap(x => Option(x.getProperty(ReqKey))).map(_.toInt).getOrElse(0)
      if (parent != 0) {
        val s = add(new Span(newId(), parent, s"job-${e.jobId}", "spark", "job", r,
          msToNano(e.time), 0L))
        s.attrs("job_id") = e.jobId
        jobSpan.synchronized {
          jobSpan(e.jobId) = s
          e.stageIds.foreach(st => stageJob(st) = e.jobId)
          if (e.stageIds.nonEmpty) resultStage(e.jobId) = e.stageIds.max
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.synchronized(jobSpan.get(e.jobId)).foreach(_.end = msToNano(e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      jobSpan.synchronized {
        for (job <- stageJob.get(si.stageId); js <- jobSpan.get(job);
             sub <- si.submissionTime; done <- si.completionTime) {
          val s = add(new Span(newId(), js.id, s"stage-${si.stageId}", "spark", "stage",
            js.req, msToNano(sub), msToNano(done)))
          s.attrs("result") = if (resultStage.get(job).contains(si.stageId)) 1 else 0
          s.attrs("tasks") = si.numTasks
        }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = jobSpan.synchronized(stageJob.get(e.stageId).flatMap(jobSpan.get))
      job.foreach { js =>
        val ti = e.taskInfo
        val s = add(new Span(newId(), js.id, s"task-${e.stageId}-${ti.index}", "spark", "task",
          js.req, msToNano(ti.launchTime), msToNano(ti.finishTime)))
        s.attrs("stage") = e.stageId
        val m = e.taskMetrics
        if (m != null) {
          s.attrs("run_ms") = m.executorRunTime
          s.attrs("gc_ms") = m.jvmGCTime
          s.attrs("sched_ms") = math.max(0L, ti.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          s.attrs("shuffle_write_bytes") = m.shuffleWriteMetrics.bytesWritten
          s.attrs("spill_bytes") = m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  // ---- queries over the recorded spans

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def calls(name: String): Seq[Span] = all.filter(s => s.kind == "call" && s.name == name)
  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)
  def descendants(s: Span): Seq[Span] = {
    val byParent = all.groupBy(_.parent)
    def go(id: Int): Seq[Span] = byParent.getOrElse(id, Nil).flatMap(c => c +: go(c.id))
    go(s.id)
  }
  /** Jobs submitted inside `s` (directly or from a nested call), in order. */
  def jobs(s: Span): Seq[Span] = descendants(s).filter(_.kind == "job").sortBy(_.attrs("job_id"))
  def stages(job: Span): Seq[Span] = children(job).filter(_.kind == "stage").sortBy(_.start)
  def tasks(job: Span): Seq[Span] = children(job).filter(_.kind == "task")

  /** Self time: span time minus the time of its direct call and job
    * children. */
  private def selfTime(s: Span, kids: Seq[Span]): Double =
    s.dur - kids.filter(k => k.kind == "call" || k.kind == "job").map(_.dur).sum

  def write(out: File): Unit = {
    out.getParentFile.mkdirs()
    val spans = all
    val byParent = spans.groupBy(_.parent)
    val w = new PrintWriter(out, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"kind":"${s.kind}","req":${s.req},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_s":${Json.num(selfTime(s, byParent.getOrElse(s.id, Nil)))},""" +
        s""""attrs":{$attrs}}""")
    } finally w.close()
  }
}
