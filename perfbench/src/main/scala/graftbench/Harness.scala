package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Files
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, data: File, launchMs: Long, spans: Option[String])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("data")),
      m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()), m.get("spans"))
  }
}

/** Order statistics over samples. Percentiles use the nearest-rank rule. */
object Stats {
  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.toArray.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def percentile(xs: Iterable[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.toArray.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
}

/** /proc/stat CPU jiffies, for the sys/steal share of a measured window. */
final case class CpuSample(jiffies: Array[Long]) {
  def window(later: CpuSample): Map[String, Double] = {
    if (jiffies.length < 8 || later.jiffies.length < 8) return Map.empty
    val d = later.jiffies.zip(jiffies).map { case (b, a) => b - a }
    val total = d.sum.toDouble
    if (total <= 0) Map.empty
    else Map("sys_frac" -> d(2) / total, "steal_frac" -> d(7) / total, "idle_frac" -> d(3) / total)
  }
}

object Host {
  def cpu(): CpuSample =
    try CpuSample(Files.readAllLines(new File("/proc/stat").toPath).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong))
    catch { case _: Exception => CpuSample(Array.empty) }

  def memTotalMb: Double =
    try {
      val line = Files.readAllLines(new File("/proc/meminfo").toPath).toArray
        .map(_.toString).find(_.startsWith("MemTotal:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Exception => -1.0 }

  def nproc: Int = Runtime.getRuntime.availableProcessors()
}

/** Everything one run accumulates: operation counts and failures, the
  * end-to-end and named metrics, per-layer metrics, host windows and the
  * run's scratch directories. One client thread drives it. */
final class Ctx(val args: Args) {
  val seed: Long = args.seed
  val seconds: Int = args.seconds
  val work: File = args.work
  val localDir: File = new File(work, "spark-local")
  localDir.mkdirs()

  private var attemptedN = 0L
  private var failedN = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** End-to-end metrics of the contract line (untraced runs). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics of the contract line (traced runs). */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The workload's end-to-end figures under their descriptive names. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private val windows = mutable.LinkedHashMap.empty[String, Map[String, Double]]

  def attempted: Long = attemptedN
  def failed: Long = failedN

  /** One operation: counted as attempted; a throw counts as failed and
    * yields None, so a failed call is never timed as a fast one. */
  def op[A](what: String)(f: => A): Option[A] = {
    attemptedN += 1
    try Some(f)
    catch {
      case e: Throwable =>
        fail(s"$what threw ${e.toString.take(300)}")
        None
    }
  }

  /** Time one operation in seconds; None when it threw. */
  def timedOp[A](what: String)(f: => A): Option[(A, Double)] =
    op(what) { Ctx.time(f) }

  /** A correctness check: counted as attempted, failed when false. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attemptedN += 1
    val r = try ok catch {
      case e: Throwable => fail(s"$what threw ${e.toString.take(300)}"); return false
    }
    if (!r) fail(what)
    r
  }

  private def fail(msg: String): Unit = {
    failedN += 1
    if (failures.size < 50) failures += msg
    System.err.println(s"[graftbench] FAILED: $msg")
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)
  def namedMetric(name: String, value: Double, unit: String): Unit = named(name) = (value, unit)

  /** Run `f` as a named host window: /proc/stat sys and steal shares. */
  def window[A](name: String)(f: => A): A = {
    val a = Host.cpu()
    try f finally windows(name) = a.window(Host.cpu())
  }
  def hostWindows: Map[String, Map[String, Double]] = windows.toMap

  /** Seconds since `main` at named points of the run, for the detail line. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def phase(name: String): Unit =
    phases(name) = (System.currentTimeMillis() - Main.mainStartMs) / 1000.0

  // ---- sessions

  private var current: SparkSession = _
  val masters = mutable.ArrayBuffer.empty[String]

  /** A local session of `cores` threads, replacing the open one when the
    * width differs. Shuffle and spill files stay inside the run's
    * directory. */
  def session(cores: Int): SparkSession = {
    if (current != null && current.sparkContext.defaultParallelism == cores &&
      !current.sparkContext.isStopped) return current
    stopSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.local.dir", localDir.getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    masters += s.sparkContext.master
    Trace.attach(s)
    current = s
    s
  }

  def stopSession(): Unit = {
    if (current != null) { current.stop(); current = null }
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---- heap

  private var heapPeak = 0.0
  private def observeHeap(usedBytes: Long): Unit = synchronized {
    heapPeak = math.max(heapPeak, usedBytes / 1048576.0)
  }
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  // Every full collection of the run reports the heap it left in use,
  // summed over the heap pools: the live set at that moment. Young
  // collections are left out, as what they leave in use depends on how
  // much garbage was promoted since the last full one.
  private val gcListener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction == "end of major GC")
          observeHeap(info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, use) if heapPools(pool) => use.getUsed
          }.sum)
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ =>
  }

  /** A sample at a phase boundary: a full collection, then the heap in
    * use. Called outside timed regions only. */
  def heapCheckpoint(): Unit = {
    System.gc()
    observeHeap(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** Run `f`, an untimed extra pass of a workload's main operation, while
    * a second thread forces a full collection every `Ctx.HeapSampleMs`,
    * so the peak includes the heap the operation holds while it runs. */
  def heapProbe[A](f: => A): A = {
    @volatile var running = true
    val sampler = new Thread(() => while (running) { System.gc(); Thread.sleep(Ctx.HeapSampleMs) },
      "graftbench-heap-sampler")
    sampler.setDaemon(true)
    sampler.start()
    try f finally { running = false; sampler.join() }
  }

  /** The peak heap in use after a full collection. */
  def heapPeakMb: Double = synchronized(heapPeak)

  def dir(name: String): File = {
    val d = new File(work, name)
    Ctx.rm(d)
    d.mkdirs()
    d
  }
}

object Ctx {
  val HeapSampleMs = 50L

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  def files(d: File): Seq[File] =
    if (d.isDirectory) Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(files)
    else if (d.isFile) Seq(d) else Nil

  def bytes(d: File): Long = files(d).map(_.length()).sum
}

/** The end-to-end `setup_s`: JVM start (launch to `main`) and the parts
  * a run can only do once (session start, the set-up index build),
  * plus the median of the part it repeats (data generation). */
object Setup {
  def record(ctx: Ctx, once: Seq[(String, Double)], repeated: Seq[Double]): Unit = {
    val parts = ("jvm_start" -> math.max(0L, Main.mainStartMs - ctx.args.launchMs) / 1000.0) +:
      once :+ ("repeated_median" -> Stats.median(repeated))
    ctx.info("setup_parts_s") = parts.toMap
    ctx.info("setup_repeats") = repeated.size
    val v = parts.map(_._2).sum
    ctx.namedMetric("setup_s", v, "s")
    ctx.metric("setup_s", v, "s")
  }
}
