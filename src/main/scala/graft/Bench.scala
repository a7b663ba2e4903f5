package graft

/** Benchmark main (driver contract): one JSON line with per-query seconds.
  *
  * Protocol mirrors the reference's benchmark methodology
  * (`serve-model/benchmark_baseline.py:10-35`: warm-up then timed
  * iterations): each query executes twice and the SECOND (steady-state)
  * time is reported — the first run pays one-off codegen compilation and
  * page-cache faults that say nothing about the plan. `cold_s` carries the
  * first-run total for reference.
  */
object Bench {

  /** Committed standalone pin: total warm seconds (and query count)
    * measured on an UNCONTENDED host for the current query set at
    * sf0.1 / local[32]. Emitted with every run so a polluted number is
    * self-evidently polluted — a gate total far above `pin_warm_s`
    * with matching `pin_n` convicts the environment, not the plans.
    * MUST be refreshed (standalone `runMain graft.Bench`) whenever the
    * query set or a heavy plan changes. */
  // 182.4 s: round-12 CLOSING standalone pin at 277 queries
  // (pinnable:true; 0 failed). Same-day quotable spread at the r12
  // code state: 171.2/275 → 179.0/276 → 184.0/276 → 182.4/277 (sim26
  // then d37 added along the way); two further runs were auto-stamped
  // pinnable:false by a recurring mm7_image_resize warm>cold GC
  // suspect (182.8/275, 186.9/277) and are NOT quoted. The 182.4 pin
  // carries d37's pre-sampling exact side (5.37 s in-run); the shipped
  // md5-sample form pins fresh-JVM at warm 1.78/1.93 (PLANS.md "Round
  // 12 addenda"), so
  // the honest closing estimate is ~178-179 s — the driver's own
  // BENCH_r12 at this HEAD is the quotable artifact. One final-HEAD
  // run closed at 211.0 pinnable:true with GC 83.3 s (vs 61-65 in the
  // other quotable runs) and zero suspects — globally-elevated GC is
  // a guard blind spot (next-round refinement: stamp gc_ms > ~1.3×
  // the committed norm); quote the SPREAD, never that run alone. Delta vs r11's 154.2/270: six new queries measured at
  // ~11 s (d34 2.1 / d35 2.1 / d36 2.7 / sim24+25 ~2 / sim26 ~1) plus
  // the planner-wired banding layouts (flat-to-faster per query at
  // sf0.1 — d2 1.41, d5 1.47, t21 2.91 — the ×2–4 band rows buy
  // 0.6→99% detection, PLANS "Band-planner wiring deltas").
  // r11 lineage: 154.2/270 closing pin, same-day spread 143.3–166.1
  // (the last started at load1 5.1 after a 60 GB spill-cleanup
  // episode — see PLANS round-11 ops note; d17's fresh-JVM pin
  // improved 3.5→3.0 the same day, so the drift is environment, not
  // plans). The two new queries carry ~4 s of genuinely new timed
  // work (d33 2.83 — two full dedup pipelines joined — and sim23 ~1).
  // Quote the spread, never one run. Lineage:
  // r10 144.5/264 (same-day spread 131.3–158.3), r9 130.6–143.6/
  // 258–260, r8 138.7/250 (Iterate.pin fixpoints, sorted order;
  // spread 130.7–146.4), 127.3/248 after the native SimHash/MinHash
  // kernels, mid-r8 152.5/246 (4096-entry codegen cache; 167.2 at the
  // old 100-entry), r6 99.6/182. Per-query constant ~0.55 s/q
  // throughout.
  // FALLBACK ONLY (r12 values): superseded by `bench_norms.json`, the
  // committed self-calibrating history of quotable runs (see
  // [[loadNorms]]). These constants bind only when the file is absent.
  private val pinWarmS = 182.4
  private val pinN = 277
  // fallback GC norm (ms): the r12 quotable runs' MEDIAN (61.2/63.x/
  // 65.5 s → ~63 s); the old 65 s "norm" was the max, and 1.3×65 s
  // = 84.5 s failed to trip the 83.3 s outlier that motivated the
  // gate (r12 ADVICE). 1.3×63 s = 81.9 s trips it while every
  // quotable run passes.
  private val gcNormMs = 63000L

  /** Committed quotable-run history: per-round totals + GC and the last
    * few warm seconds per query. All pin/GC/suspect thresholds derive
    * from THIS (not source constants), so growing the query set or a
    * plan change can't silently stale the gates — a pinnable run
    * rewrites the file and the next round's thresholds follow
    * (r12 verdict item 2). Schema:
    * {{{
    * {"runs":[{"ts":"…","total_warm_s":182.4,"n":277,"gc_ms":65500}],
    *  "queries":{"a1_distinct":[0.21,0.22]}}   // most recent first
    * }}} */
  private case class Norms(path: String, sf: String,
      runs: Seq[(String, Double, Int, Long)], // ts, total, n, gcMs
      queries: Map[String, Seq[Double]])

  /** Norms file lives at the repo root (discovered by walking up from
    * CWD to the first dir holding build.sbt or .git), overridable via
    * SPARK_GRAFT_NORMS — no machine-specific absolute path in source,
    * so a run from another checkout calibrates against ITS history
    * (r13 ADVICE). */
  private def repoRoot(): java.io.File = {
    var d = new java.io.File(".").getCanonicalFile
    while (d != null &&
        !new java.io.File(d, "build.sbt").isFile &&
        !new java.io.File(d, ".git").exists()) d = d.getParentFile
    if (d == null) new java.io.File(".").getCanonicalFile else d
  }

  private def normsFile(): String =
    sys.env.getOrElse("SPARK_GRAFT_NORMS",
      new java.io.File(repoRoot(), "bench_norms.json").getPath)

  private def loadNorms(): Option[Norms] = {
    val p = normsFile()
    if (!new java.io.File(p).isFile) return None
    try {
      import org.json4s._
      val j = jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))))
      def d(v: JValue): Double = v.values.toString.toDouble
      // sf stamp of the runs that wrote the file; legacy files (pre-r14)
      // lack it and were all written at sf0.1
      val sf = (j \ "sf") match {
        case JString(s) => s
        case _ => "sf0.1"
      }
      val runs = (j \ "runs").children.map { r =>
        ((r \ "ts").values.toString, d(r \ "total_warm_s"),
          d(r \ "n").toInt, d(r \ "gc_ms").toLong)
      }
      val qs = (j \ "queries") match {
        case JObject(fields) => fields.map { case (k, v) =>
          k -> v.children.map(d) }.toMap
        case _ => Map.empty[String, Seq[Double]]
      }
      Some(Norms(p, sf, runs, qs))
    } catch { case e: Throwable =>
      println(s"[bench] WARN unreadable norms at $p: ${e.getMessage}")
      None
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) 0.0
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Merge a PINNABLE run into the norms file: append the run record
    * (last 8 kept), prepend each query's warm to its history (last 3
    * kept), prune queries no longer registered. Only quotable runs
    * calibrate — a contaminated run must not teach the gates its
    * contamination. Queries the run flagged `slower` (plan-regression
    * signature) keep their PRIOR history unchanged (r13 ADVICE): a
    * genuine regression must not be absorbed into the norm it is
    * measured against within 1-3 rounds — the flag keeps firing until
    * the plan is fixed or the query's history entry is deliberately
    * reset. A run that carried ANY slower flag is likewise excluded
    * from the run-level history (total/gc) — the r14 form froze only
    * per-query entries while the regressed run's total_warm and gc_ms
    * still entered the 8-entry runs list, letting run-level norms (the
    * gc-outlier gate's median) absorb the very regression the
    * per-query freeze exists to keep visible (r14 ADVICE). Per-query
    * histories of UNflagged queries still update from such a run.
    * The file is stamped with the sf that wrote it. */
  private def writeNorms(prior: Option[Norms], sf: String, total: Double,
      warms: Seq[(String, Double)], gcMs: Long,
      frozen: Set[String]): Unit = {
    val path = prior.map(_.path).getOrElse(normsFile())
    val ts = java.time.Instant.now().toString
    val runs = (if (frozen.nonEmpty) prior.map(_.runs).getOrElse(Nil)
                else prior.map(_.runs).getOrElse(Nil) :+
                  ((ts, total, warms.length, gcMs))).takeRight(8)
    val old = prior.map(_.queries).getOrElse(Map.empty)
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    val qJson = warms.sortBy(_._1).map { case (k, w) =>
      val hist =
        if (frozen.contains(k) && old.contains(k)) old(k).map(r3).take(3)
        else (r3(w) +: old.getOrElse(k, Nil).map(r3)).take(3)
      s""""$k":[${hist.mkString(",")}]"""
    }.mkString(",")
    val rJson = runs.map { case (t, tw, n, g) =>
      s"""{"ts":"$t","total_warm_s":${r3(tw)},"n":$n,"gc_ms":$g}"""
    }.mkString(",")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        s"""{"sf":"$sf","runs":[$rJson],\n "queries":{$qJson}}\n""".getBytes)
      println(s"[bench] norms updated at $path" +
        (if (frozen.nonEmpty)
           s" (histories frozen for slower-flagged: ${frozen.mkString(",")})"
         else ""))
    } catch { case e: Throwable =>
      println(s"[bench] WARN cannot write norms at $path: ${e.getMessage}")
    }
  }

  /** PIDs of this JVM plus its ancestor chain (the sbt launcher that
    * forked us) — the only Java processes that are NOT contamination. */
  private def selfAndAncestors(): Set[Long] = {
    def ppid(pid: Long): Option[Long] =
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/proc/$pid/stat")))
        // field 4 after the parenthesized comm (which may contain spaces)
        Some(stat.substring(stat.lastIndexOf(')') + 2).split(" ")(1).toLong)
      } catch { case _: Throwable => None }
    val self = ProcessHandle.current().pid()
    Iterator.iterate(Option(self))(p => p.flatMap(ppid).filter(_ > 1))
      .takeWhile(_.isDefined).take(32).flatten.toSet
  }

  /** Host-wide CPU jiffies from `/proc/stat` line 1: (busy, total).
    * busy = total − idle − iowait. Total spans ALL cpus, so one core of
    * external load on a 32-way host reads as ~3% — the suspect
    * threshold below is set well above scheduler noise but well below
    * an oracle process or a second build saturating cores. */
  private def hostJiffies(): (Long, Long) =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      val idle = f(3) + (if (f.length > 4) f(4) else 0L)
      (f.sum - idle, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Hypervisor steal jiffies (`/proc/stat` field 8) — time the host
    * VM was runnable but a CO-TENANT held the physical CPU. Steal
    * lands in the busy-minus-self residue exactly like a local
    * foreign process would (it is busy capacity no local PID owns),
    * so it correctly de-pins a run — but it must be NAMED in the
    * artifact, or a stolen afternoon reads as a phantom local
    * contaminator (round-14 postmortem: 14-16% "external CPU" bursts
    * with zero other processes on the box, `vmstat` showing st>0). */
  private def stealJiffies(): Long =
    try {
      val f = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      if (f.length > 7) f(7) else 0L
    } catch { case _: Throwable => 0L }

  /** This process's own jiffies (utime+stime over all threads) PLUS
    * its ancestor chain's — subtracting the sum from the host delta
    * isolates CPU burned by anyone who is neither this JVM nor the
    * sbt launcher that forked it. The round-5 gate published a 3×
    * inflated total with `contended:false` because the old sentinel
    * only saw other /java argv[0]s; jiffy accounting is
    * process-agnostic. Ancestors joined the self side in round 14:
    * the sbt launcher pumps every stdout/log line the forked bench
    * emits, and its pump threads were being billed as EXTERNAL CPU —
    * two sub-second queries tripped the >10% window rule on a host
    * with 0.04% run-level external CPU, de-pinning an otherwise clean
    * run. The launcher is already exempt from the foreign-JVM
    * sentinel via [[selfAndAncestors]]; the jiffy side now agrees. */
  private def procJiffies(pid: Long): Long =
    try {
      val stat = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/proc/$pid/stat")))
      val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong // utime, stime
    } catch { case _: Throwable => 0L }

  private lazy val selfPids: Set[Long] = selfAndAncestors()

  /** Per-pid self-side sample. Deltas are computed PER PID and clamped
    * at >= 0 by [[selfDelta]]: the round-14 form summed the chain at two
    * instants, so an ancestor exiting mid-window made its start-sample
    * jiffies vanish from the end sample — inflating "external" CPU and
    * spuriously de-pinning a clean run (r14 ADVICE). The converse bias
    * is accepted and documented: any CPU the ancestor sbt launcher
    * burns during the window is billed as self on the assumption that
    * its only in-run activity is pumping this fork's stdout/log lines
    * (it runs no build tasks while the fork holds the console). */
  private def selfJiffiesByPid(): Map[Long, Long] =
    selfPids.iterator.map(p => p -> procJiffies(p)).toMap

  /** Sum of per-pid jiffy deltas between two samples, each clamped at
    * >= 0 — a pid that vanished (or whose /proc read failed) contributes
    * zero instead of a negative that would surface as phantom external
    * CPU elsewhere in the subtraction. */
  private def selfDelta(start: Map[Long, Long],
      end: Map[Long, Long]): Long =
    start.iterator.map { case (p, s0) =>
      math.max(0L, end.getOrElse(p, 0L) - s0)
    }.sum

  private def load1(): Double =
    try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    } catch { case _: Throwable => -1.0 }

  /** First other Java process (a concurrent sbt/test/bench JVM) running
    * on this host, as "pid:cmdline-head", or None: round-3/4 post-mortems
    * traced every in-run "regression" ≥2× to exactly this, so the JSON
    * self-reports the offender. Matching on the "/java" executable path
    * (not the bare substring) keeps shell wrappers whose argument text
    * merely mentions java out of the verdict. */
  private def otherJvm(): Option[String] = {
    val mine = selfAndAncestors()
    try {
      val procs = new java.io.File("/proc").listFiles()
      if (procs == null) return None
      procs.iterator.filter(f => f.getName.forall(_.isDigit) &&
          !mine.contains(f.getName.toLong))
        .flatMap { f =>
          try {
            val argv = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"/proc/${f.getName}/cmdline")))
              .split('\u0000')
            if (argv.headOption.exists(a =>
                a.endsWith("/java") || a == "java"))
              Some(s"${f.getName}:${argv.take(3).mkString(" ").take(80)}")
            else None
          } catch { case _: Throwable => None }
        }.nextOption()
    } catch { case _: Throwable => None }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // reclaim orphaned shuffle-spill litter BEFORE the session exists —
    // round 11 hit ENOSPC mid-run from ~50 GB of /tmp/spark-* left by
    // killed scale experiments, and the cleanup was manual
    SpillJanitor.sweep()
    // quiet-start guard (round-11 postmortem): BENCH_r11's headline was
    // captured at start load1 7.96 and its per-query numbers were noise
    // regardless of the in-run jiffy accounting — a run that STARTS
    // contended is unquotable before it begins. Wait for the host to go
    // quiet (load1 ≤ 2, no foreign JVM) up to 10 minutes; if it never
    // does, run anyway but stamp pinnable:false so the artifact can't be
    // quoted as a pin.
    val quietDeadlineNs = System.nanoTime() + 10L * 60 * 1000 * 1000 * 1000
    def quietNow(): Boolean = load1() <= 2.0 && otherJvm().isEmpty
    var startWaitS = 0
    var quietAtStart = quietNow()
    while (!quietAtStart && System.nanoTime() < quietDeadlineNs) {
      Thread.sleep(15000)
      startWaitS += 15
      quietAtStart = quietNow()
    }
    if (!quietAtStart)
      println(s"[bench] WARN host still contended after ${startWaitS}s " +
        s"wait (load1=${load1()}) — output will be stamped pinnable:false")
    val spark = LocalSession.build()
    var contendedBy = otherJvm()
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime()
      try f catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // host-load accounting: jiffy deltas per query window + whole-run
    val runStartHost = hostJiffies()
    val runStartSelf = selfJiffiesByPid()
    val runStartSteal = stealJiffies()
    val loadStart = load1()
    var winHost = runStartHost
    var winSelf = runStartSelf
    // non-self busy CPU share (percent of all-core capacity) since the
    // previous call — CPU burned by any process that isn't this JVM
    def nonSelfPct(): Double = {
      val h = hostJiffies(); val s = selfJiffiesByPid()
      val totD = h._2 - winHost._2
      val busyD = h._1 - winHost._1
      val selfD = selfDelta(winSelf, s)
      winHost = h; winSelf = s
      if (totD <= 0) 0.0
      else math.max(0.0, (busyD - selfD).toDouble / totD * 100.0)
    }
    // per-query pollution tripwire. The first cut flagged warm > 3x the
    // running median, which on a heterogeneous 182-query set (median
    // ~0.25 s, legit heavies ~10 s) flagged 43 healthy queries and
    // buried the signal; ANY median multiple fails the same way (the
    // heavies are 50x the median when healthy). A suspect must carry
    // query-relative evidence instead: external CPU during ITS window
    // (>10% of all-core capacity), or warm exceeding the SAME
    // invocation's cold run by 1.5x (+2 s floor) — a steady-state run
    // costlier than the one that paid codegen + page-cache faults is
    // the signature of mid-run interference the jiffy counter can't
    // see (cgroup throttling, memory pressure).
    val suspects = scala.collection.mutable.ArrayBuffer.empty[String]
    val slower = scala.collection.mutable.ArrayBuffer.empty[String]
    val slowerNames = scala.collection.mutable.Set.empty[String]
    // committed quotable-run history → per-query norms + gate thresholds.
    // Norms only bind when THIS run's sf matches the sf that wrote them
    // (r13 ADVICE): sf0.1 per-query norms floored into a sf0.01 run's
    // effCold would disable the warm>1.5×cold contamination check, and
    // the sf0.1 gc norm would mislabel a larger sf's every run as
    // gc_outlier. Mismatched sf falls back to raw warm-vs-cold + the
    // source-constant fallbacks.
    val sfBase = new java.io.File(sfDir).getName
    // normsRaw survives an sf mismatch so the WRITE path can refuse to
    // clobber a foreign-sf file's history (r14 ADVICE: collapsing to
    // None before writeNorms silently overwrote a mismatched
    // SPARK_GRAFT_NORMS target, dropping its run/query history)
    val normsRaw = loadNorms()
    val norms = normsRaw match {
      case Some(n) if n.sf != sfBase =>
        println(s"[bench] norms at ${n.path} were written at ${n.sf}; " +
          s"this run is $sfBase — ignoring them (raw gates apply)")
        None
      case other => other
    }
    def qNorm(name: String): Option[Double] =
      norms.flatMap(_.queries.get(name)).filter(_.nonEmpty).map(median)
    // optional slice "lo:hi" (indices into the registry's iteration
    // order) — lets the split-bench A/B run each half in its own JVM to
    // test whether late queries are billed for earlier ones' JVM litter.
    // Sorted by name: Map iteration order is hash-based, so ADDING a
    // query used to reshuffle every query's run position — in-run
    // values carry a position-dependent JVM component (r8 measured the
    // same untouched query at 1.4 s early-run vs 2.9 s late-run, both
    // 1.6 s in a fresh JVM), which made cross-round per-query
    // comparisons partly order luck. Sorted order pins each query's
    // position to its name.
    val allQs = SparkEntry.queries.toSeq.sortBy(_._1)
    val qs = sys.env.get("SPARK_GRAFT_QUERY_RANGE") match {
      case Some(r) =>
        val Array(lo, hi) = r.split(":").map(_.toInt)
        allQs.slice(lo, hi)
      case None => allQs
    }
    val results = qs.map { case (name, fn) =>
      // quiesce between queries: iterative queries persist internal
      // frames and can only release the intermediates — the FINAL frame
      // is still cached when the query returns (a caller must be able
      // to consume it), so across 182 queries dead caches pile up in
      // the block manager and bill later heavies for eviction + memory
      // pressure (in-run t22 measured 5.6 s vs 1.1 s isolated with the
      // identical plan). Dropping all cached plans between queries
      // reproduces isolated conditions; each query's own cold run
      // rebuilds what it needs. Leftover local-checkpoint blocks go too
      // (observed: g10 26.6 s in-run vs 5.5 s isolated, run GC 55 s).
      LocalSession.quiesce(spark)
      // then collect the previous query's garbage so its old-gen
      // pressure doesn't bill the next timing
      System.gc()
      if (contendedBy.isEmpty) contendedBy = otherJvm()
      nonSelfPct() // reset the window to the query's own start
      val cold = time { fn(spark, sfDir).count(): Unit }
      // two timed steady-state runs, best-of-2 reported: run-to-run noise
      // on a shared machine is additive (scheduler, page cache, GC), so
      // the minimum is the least-biased estimate of the plan's cost
      val warm = if (cold < 0) -1.0 else {
        val w1 = time { fn(spark, sfDir).count(): Unit }
        val w2 = time { fn(spark, sfDir).count(): Unit }
        if (w1 < 0 || w2 < 0) -1.0 else math.min(w1, w2)
      }
      val qNonSelf = nonSelfPct()
      // warm>cold alone had a page-cache blind spot (r12: the recurring
      // mm7 false suspect — a cold run that rides page cache warmed by
      // NEIGHBOR queries reads artificially fast, so a healthy warm
      // trips 1.5×cold). Floor the comparison base at the query's own
      // committed quotable-run norm: a warm within 1.5× of what this
      // query historically costs on a quiet host is not interference,
      // whatever this invocation's cold happened to be. Queries without
      // history (new this round) keep the raw warm-vs-cold rule.
      val effCold = math.max(cold, qNorm(name).getOrElse(0.0))
      if (warm >= 0 &&
          ((warm > 1.5 * effCold && warm > 2.0) || qNonSelf > 10.0))
        suspects += f"$name:w=$warm%.2f,c=$cold%.2f,xcpu=$qNonSelf%.0f%%"
      // separate diagnostic (does NOT gate pinnable): a warm well above
      // the query's quotable-run norm where THIS invocation's cold is
      // also high and no external CPU showed — the signature of a real
      // plan regression, not contamination. Informational so a future
      // round's slowdown is named in the artifact the day it ships.
      else if (warm > 2.0 && qNorm(name).exists(n => warm > 1.5 * n)) {
        slower += f"$name:w=$warm%.2f,norm=${qNorm(name).get}%.2f"
        slowerNames += name
      }
      name -> (cold, warm)
    }
    val runEndHost = hostJiffies()
    val runEndSelf = selfJiffiesByPid()
    val runEndSteal = stealJiffies()
    val loadEnd = load1()
    val runTotD = runEndHost._2 - runStartHost._2
    val runStealPct =
      if (runTotD <= 0) 0.0
      else (runEndSteal - runStartSteal).toDouble / runTotD * 100.0
    val runNonSelfPct =
      if (runTotD <= 0) 0.0
      else math.max(0.0, ((runEndHost._1 - runStartHost._1) -
        selfDelta(runStartSelf, runEndSelf)).toDouble / runTotD * 100.0)
    // JIT/GC health: a full code cache silently turns late queries
    // interpreted; runaway GC bills every timing. Stamped so a slow run
    // carries its own diagnosis.
    import scala.jdk.CollectionConverters._
    val gcMs = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val ccPools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala.filter(_.getName.contains("CodeHeap"))
    val ccUsedMb = ccPools.map(_.getUsage.getUsed).sum / (1024 * 1024)
    // Janino compile count — the codegen-cache eviction instrument: a
    // query's warm runs hit the generated-class cache unless entries
    // were evicted between its cold and warm runs (impossible here —
    // runs are back-to-back) or the SUITE holds more distinct code
    // shapes than spark.sql.codegen.cache.maxEntries, in which case
    // repeated fragments recompile across queries and this count rises
    // with no plan change. Compare across cache-size A/B runs: flat
    // count = no eviction pressure at this suite size.
    val janinoN = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    // histogram values are already milliseconds (CodeGenerator.doCompile
    // updates with timeMs)
    val janinoMeanMs = math.rint(org.apache.spark.metrics.source
      .CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean * 100) / 100
    // failed queries stay visible as -1 per-query but must NOT shrink the
    // aggregate: sum only successful timings and report the failure count
    val ok = results.map(_._2).filter(_._2 >= 0)
    val total = ok.map(_._2).sum
    val coldTotal = ok.map(_._1).sum
    val nFailed = results.map(_._2).count(_._2 < 0)
    // Full per-query detail first, one line each, for humans and logs —
    // these lines sit ABOVE the contract line so they can never push it
    // out of a tail-capped capture.
    results.foreach { case (k, (c, w)) =>
      println(f"BENCHQ $k%-24s warm=$w%.3f cold=$c%.3f")
    }
    // The driver captures only the LAST 2000 characters of output, and
    // sbt appends its own ~80-char "[success] ..." line after ours — so
    // the contract JSON line must stay under ~1850 chars END TO END or
    // its head is cut mid-line and nothing parses (rounds 1-3 all lost
    // their totals this way). Headline totals lead the line; the
    // per-query map lists queries slowest-first at 3 dp and is trimmed
    // to the budget, with the trimmed remainder summarized explicitly
    // ("omitted_n"/"omitted_s") — no silent truncation.
    def r3(d: Double): Double = math.rint(d * 1000) / 1000
    if (contendedBy.isEmpty) contendedBy = otherJvm()
    // name the offender so a flagged run is diagnosable from the JSON
    // alone (round-5: the flag once latched with no offender recorded,
    // which was unfalsifiable)
    val contention = contendedBy match {
      case Some(who) => s""","contended":true,"contended_by":${
        "\"" + who.replace("\\", "\\\\").replace("\"", "\\\"") + "\""}"""
      case None => s""","contended":false"""
    }
    // flag contended on CPU evidence too: >5% of all-core capacity spent
    // outside this JVM over the whole run is not scheduler noise
    val cpuContended = runNonSelfPct > 5.0
    val suspectJson =
      (if (suspects.isEmpty) ""
       else s""","suspect":[${suspects.take(4).map(s => "\"" + s + "\"")
         .mkString(",")}]""" +
         (if (suspects.size > 4) s""","suspect_more":${suspects.size - 4}"""
          else "")) +
      (if (slower.isEmpty) ""
       else s""","slower":[${slower.take(4).map(s => "\"" + s + "\"")
         .mkString(",")}]""" +
         (if (slower.size > 4) s""","slower_more":${slower.size - 4}"""
          else ""))
    // a run is PINNABLE (quotable as the standalone reference number)
    // only when nothing contaminated it end to end: quiet start, no
    // foreign JVM, no external CPU, no per-query suspects, no failures,
    // and no globally-elevated GC. The GC gate closes the blind spot a
    // round-12 final-HEAD run exposed: 211.0 s with quiet start, zero
    // suspects, xcpu 1.2% — but GC 83.3 s vs the 61–65 s of every
    // other quotable run; global GC elevation inflates the total
    // without tripping any per-query warm>cold flag. The norm now
    // self-calibrates: median gc_ms of the quotable runs recorded in
    // bench_norms.json, which every pinnable run rewrites below.
    // thresholds derive from the committed quotable-run history when
    // present; the source constants are only the no-file fallback
    val gcNormEff = norms.map(n => median(n.runs.map(_._4.toDouble)))
      .filter(_ > 0).map(_.toLong).getOrElse(gcNormMs)
    // 1.25×median (not 1.3×max — r12 ADVICE): the motivating 83.3 s
    // outlier must trip while the 61–67 s quotable spread passes
    val gcOutlier = gcMs > (gcNormEff * 1.25).toLong
    // effective pin = Σ per-query norms over the CURRENT query set
    // (coverage-weighted: a just-added query contributes nothing and is
    // visible in pin_cover_n < pin_n) — adding a query changes no
    // source constant and the pin can never quote a stale set size
    val pinCovered = qs.flatMap { case (n, _) => qNorm(n) }
    val (pinWarmEff, pinCoverN) =
      if (pinCovered.nonEmpty) (pinCovered.sum, pinCovered.length)
      else (pinWarmS, pinN)
    val pinnable = quietAtStart && contendedBy.isEmpty &&
      runNonSelfPct <= 5.0 && suspects.isEmpty && nFailed == 0 &&
      !gcOutlier
    // pin_basis: where the pin came from and the most recent QUOTABLE
    // run on record — so a contaminated run's artifact carries its own
    // comparable number and no reader has to dig through PLANS.md to
    // learn that e.g. a 245 s stolen-host total sits against a 215 s
    // quotable history (r14 verdict: the driver artifact and the
    // committed pin disagreed with no machine-readable link between
    // them).
    val pinBasis = norms match {
      case Some(n) if n.runs.nonEmpty =>
        val (lts, ltw, ln, _) = n.runs.last
        s""","pin_basis":{"src":"norms","runs_n":${n.runs.length}""" +
          s""","last_quotable_s":${r3(ltw)},"last_quotable_n":$ln""" +
          s""","last_quotable_ts":"$lts"}"""
      case _ => s""","pin_basis":{"src":"fallback","runs_n":0}"""
    }
    if (pinnable && sfDir.endsWith("sf0.1") &&
        sys.env.get("SPARK_GRAFT_QUERY_RANGE").isEmpty) {
      normsRaw match {
        case Some(n) if n.sf != sfBase =>
          // never clobber a foreign-sf history file — the caller pointed
          // SPARK_GRAFT_NORMS at it deliberately; losing its runs to an
          // sf0.1 rewrite is unrecoverable (r14 ADVICE)
          println(s"[bench] REFUSING to overwrite norms at ${n.path}: " +
            s"file holds ${n.sf} history, this run is $sfBase — point " +
            "SPARK_GRAFT_NORMS at an sf-matching (or absent) file to " +
            "record this run")
        case _ =>
          writeNorms(norms, sfBase, total,
            results.map { case (k, (_, w)) => (k, w) }, gcMs,
            slowerNames.toSet)
      }
    }
    val header = s""""metric":"total_warm","value":${r3(total)},"unit":"sec"""" +
      s""","pinnable":$pinnable,"gc_outlier":$gcOutlier""" +
      s""","gc_norm_ms":$gcNormEff""" +
      s""","start_wait_s":$startWaitS""" +
      s""","cold_s":${r3(coldTotal)},"failed":$nFailed$contention""" +
      s""","xcpu_pct":${r3(runNonSelfPct)},"xcpu_contended":$cpuContended""" +
      s""","steal_pct":${r3(runStealPct)}""" +
      s""","load1":[${r3(loadStart)},${r3(loadEnd)}]""" +
      s""","gc_ms":$gcMs,"codecache_mb":$ccUsedMb""" +
      s""","janino_n":$janinoN,"janino_mean_ms":$janinoMeanMs""" +
      s""","pin_warm_s":${r3(pinWarmEff)},"pin_n":${qs.length}""" +
      s""","pin_cover_n":$pinCoverN$pinBasis$suspectJson""" +
      s""","sf":"$sfDir""""
    val slowestFirst = results.sortBy { case (_, (_, w)) => -w }
    val budget = 1750 - header.length - 60 // 60 = braces + omitted fields
    // stop at the FIRST entry that doesn't fit: skipping it but admitting
    // a later shorter-named one would make drop(kept) mislabel what was
    // actually omitted
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    var kept = 0
    var full = false
    slowestFirst.foreach { case (k, (_, w)) =>
      if (!full) {
        val e = s"\"$k\":${r3(w)}"
        if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1; kept += 1 }
        else full = true
      }
    }
    val omitted = slowestFirst.drop(kept)
    val omittedS = r3(omitted.map(_._2._2).filter(_ >= 0).sum)
    println(s"""{$header,"queries":${entries.mkString("{", ",", "}")}""" +
      s""","omitted_n":${omitted.length},"omitted_s":$omittedS}""")
    spark.stop()
  }
}
