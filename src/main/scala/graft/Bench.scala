package graft

import org.apache.spark.sql.functions.col

import scala.util.control.NonFatal

/** Benchmark main: runs the registered queries against SPARK_GRAFT_SF_DIR and prints one
  * JSON line. With no arguments every registered query runs; positional arguments name
  * the queries to run instead (`graft.Bench q1_pricing cdc_apply_merge`). A query that
  * throws is recorded as an `"errors"` entry (and excluded from the total) rather than
  * silently timed — BENCH output distinguishes fast from crashed.
  *
  * MEASUREMENT VALIDITY (r6, after BENCH_r05 recorded 10-50× inflation on untouched code
  * from machine contention during the run):
  *   - each query runs K times (SPARK_GRAFT_BENCH_REPS, default 3) and the MEDIAN is
  *     recorded — one noisy-neighbor spike on a single rep no longer poisons the number;
  *     reps are interleaved round-robin across queries so a query's K samples are spread
  *     over the whole run instead of sharing one contention window; per-query min/max
  *     and spill totals land in the full-precision file (target/bench_full.json);
  *   - a fixed CANARY query (orders scan + groupBy count) is re-timed at start, middle and
  *     end of the run; if its timings drift by more than 2× the whole run is stamped
  *     `"degraded":true` — a consumer must treat such a file as environment-corrupted
  *     rather than as a regression signal;
  *   - a fixed-work CALIBRATION SPIN (~200 ms single-thread hashing) runs before EVERY
  *     query rep (r8: a sustained uniform host-co-tenancy burst inflated all medians 3-4×
  *     while load_avg/canary/steal_pct stayed green); any spin >2× the run's fastest trips
  *     `degraded`, and the stdout summary carries per-query `[min,med]` because the MINIMUM
  *     is the trustworthy basis when the spin series shows contention.
  */
object Bench {
  /** True median: odd count → middle; even count → mean of the two middles.
    * `sorted(size/2)` alone picks the UPPER middle, which for reps=2 is the MAX — one
    * contention spike would then poison the recorded number, the exact failure the
    * median-of-K mechanism exists to prevent. */
  private[graft] def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Kill stale BUILD JVMs left over from earlier compiles — the twice-measured root
    * cause of degraded rounds (BENCH_r05 and BENCH_r07 both started under load_avg ≈ 8-10
    * from prior sbt/compile-server JVMs burning cores for hours). The sweep now requires
    * EVIDENCE of staleness before touching a process (ADVICE r8): marker-matched command
    * line AND not an ancestor AND started ≥10 minutes ago AND actively burning CPU right
    * now (>0.25 cores over a 500 ms sample) — a concurrent fresh `sbt test`, an idle
    * Metals/bloop server, or anything merely name-matching is spared. Victims get a
    * graceful destroy() with a 2 s grace window before destroyForcibly(). Disable
    * entirely with SPARK_GRAFT_KILL_STALE=0. Returns the killed pids for the stderr log. */
  private def killStaleBuildJvms(): Seq[Long] = {
    if (sys.env.getOrElse("SPARK_GRAFT_KILL_STALE", "1") == "0") return Nil
    import scala.jdk.CollectionConverters._
    var anc = Set(ProcessHandle.current.pid)
    var p = ProcessHandle.current
    while (p.parent.isPresent) { p = p.parent.get; anc += p.pid }
    // anchored to build-tool artifact names, not bare substrings like "bloop" that could
    // match an unrelated process's arguments (ADVICE r8)
    val markers = Seq("sbt-launch", "xsbt.boot.Boot", "bloop.Server", "scala-compile-server")
    val now = java.time.Instant.now()
    def cpuSec(ph: ProcessHandle): Double =
      ph.info.totalCpuDuration.map[Double](d => d.toNanos / 1e9).orElse(0.0)
    val candidates = ProcessHandle.allProcesses().iterator().asScala.toList.filter { ph =>
      !anc.contains(ph.pid) &&
        ph.info.commandLine.map[Boolean](cl => markers.exists(cl.contains)).orElse(false) &&
        ph.info.startInstant.map[Boolean](si =>
          java.time.Duration.between(si, now).toMinutes >= 10).orElse(false)
    }
    if (candidates.isEmpty) return Nil
    val before = candidates.map(ph => ph.pid -> cpuSec(ph)).toMap
    Thread.sleep(500)
    val burning = candidates.filter(ph => ph.isAlive && cpuSec(ph) - before(ph.pid) > 0.125)
    burning.foreach(ph => ph.destroy())
    val deadline = System.nanoTime() + 2000000000L
    while (System.nanoTime() < deadline && burning.exists(_.isAlive)) Thread.sleep(100)
    burning.flatMap(ph => if (!ph.isAlive || ph.destroyForcibly()) Some(ph.pid) else None)
  }

  /** The queries one run times: every registered name, sorted, when `args` is empty;
    * otherwise exactly the named ones, in the order given. The names come from the
    * command line, so an unknown one fails here — before any session starts — with a
    * message that names it. */
  private[graft] def selectQueries(args: Seq[String]): Seq[String] =
    if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted
    else {
      val unknown = args.filterNot(SparkEntry.queries.contains).distinct
      require(unknown.isEmpty, s"unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
        unknown.mkString(", "))
      args.distinct
    }

  /** Iterations of [[calibrationSpin]] per probe (~200 ms on an idle host). */
  private val SpinIters = 100000000L

  /** JIT sink for [[calibrationSpin]] — a result the optimizer can't prove dead. */
  @volatile private var spinSink: Long = 0L

  /** Fixed-work, single-thread CPU spin (~200 ms on an idle host at [[SpinIters]]):
    * pure register arithmetic, no allocation, no I/O. Because the WORK is fixed, its
    * wall time is a direct probe of how much CPU this thread is actually getting —
    * a uniform 3-4× host-co-tenancy slowdown (the r8 failure mode that load_avg, the
    * 3-point canary, and steal_pct all missed) shows up as a 3-4× spin time. One spin runs
    * immediately before EVERY query rep, so each rep carries a contemporaneous probe. */
  private[graft] def calibrationSpin(iters: Long): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) { h = java.lang.Long.rotateLeft(h * 0x100000001b3L, 31) ^ i; i += 1 }
    spinSink = h
    (System.nanoTime() - t0) / 1e9
  }

  /** Degraded trip over the per-rep spin series: any rep's probe >2× the run's fastest
    * AND a material absolute gap (a pure spin has no JIT/alloc noise after warmup, but a
    * stray GC-of-other-threads pause can stretch one window by ~0.1 s — ratio alone would
    * flag that on a healthy machine, mirroring the canary's absolute guard). */
  private[graft] def spinTripped(spins: Seq[Double]): Boolean =
    spins.size >= 2 && spins.max > spins.min * 2 && spins.max - spins.min > 0.2

  def main(args: Array[String]): Unit = {
    val names = selectQueries(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    // stale-JVM sweep BEFORE our own session spins up: frees their cores and memory for
    // the whole run instead of letting them tax every rep (r7 verdict #1)
    val killedJvms = try killStaleBuildJvms() catch { case NonFatal(_) => Nil }
    if (killedJvms.nonEmpty)
      System.err.println(s"[bench] killed stale build JVMs: ${killedJvms.mkString(", ")}")
    val spark = LocalSession(cpus)
    // spill accounting: executor spill bytes per query, summed over its reps — evidence
    // that a query completes BY spilling under memory pressure, not just its wall time.
    // runOnce tags each rep's jobs with the query name as job group; the listener maps
    // stages to that group at submission and adds their spill at completion. It runs on
    // the listener bus, and the totals are read only after the last rep.
    val spillByQuery = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]
    val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => stageGroup.put(e.stageInfo.stageId, g))
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Option(stageGroup.remove(e.stageInfo.stageId)).foreach { g =>
          val m = e.stageInfo.taskMetrics
          spillByQuery.merge(g, (m.memoryBytesSpilled, m.diskBytesSpilled),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
    })
    // f"" uses the JVM default locale — a de_DE machine would print decimal COMMAS and
    // corrupt the JSON; all numeric formatting here goes through Locale.ROOT
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }
    // warmup: parquet footer reads + codegen/classloading so the alphabetically-first
    // query doesn't absorb session initialization in its timing
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).write.mode("overwrite")
      .format("noop").save()
    catch { case NonFatal(_) => () }
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // load canary: a fixed, cheap reference query whose cost is scan + one shuffle; its
    // drift across the run measures the MACHINE, not the engine
    def canary(): Double = {
      val t0 = System.nanoTime()
      try spark.read.parquet(s"$sfDir/orders.parquet")
        .groupBy(col("o_orderstatus")).count()
        .write.mode("overwrite").format("noop").save()
      catch { case NonFatal(_) => () }
      (System.nanoTime() - t0) / 1e9
    }
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    // ambient 1-min load average at start and end: the r6 root-cause of BENCH_r05's
    // corruption was stale sbt JVMs burning ~3 cores for hours — a high START sample
    // (before this JVM does any heavy work; the canary drift only catches drift DURING
    // the run) tells a consumer the whole file was measured on a contended machine
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // hypervisor STEAL time ((steal, total) jiffies from /proc/stat): load_avg and the
    // canary only see THIS VM — a co-tenant host stalls every rep uniformly and the
    // existing signals stay green while all timings inflate (observed r8: reps of one
    // query spanning 2.2-11.5 s under load_avg 0.3). The steal fraction over the run is
    // the direct measurement of that failure mode.
    // denominator is fields 0-7 (user..steal) ONLY: guest/guest_nice are already folded
    // into user/nice by the kernel, so summing them double-counts guest time and biases
    // steal_pct low right at the 10% threshold on nested-virt hosts (ADVICE r8)
    def cpuSteal(): (Long, Long) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try {
          val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
          (if (f.length > 7) f(7) else 0L, f.take(8).sum)
        } finally src.close()
      } catch { case NonFatal(_) => (0L, 0L) }
    val stealStart = cpuSteal()
    // start-load retry (r7 verdict #1): a high FIRST sample may be the 1-minute average
    // still carrying the JVMs killed above (or a decaying external spike) — sleep once and
    // resample before accepting a degraded stamp. One retry only: a machine still loaded
    // after 90 s is genuinely contended and the file must say so.
    var loadStart = loadAvg()
    var loadRetried = false
    if (loadStart > cpus.toDouble / 4.0) {
      System.err.println(String.format(java.util.Locale.ROOT,
        "[bench] start load_avg %.2f > cpus/4 — sleeping 90s for decay (single retry)",
        Double.box(loadStart)))
      Thread.sleep(90000)
      loadStart = loadAvg()
      loadRetried = true
    }
    canary() // throwaway: the first execution absorbs the canary's own codegen (~2 s),
             // which would read as 10× "drift" on a perfectly healthy machine
    canaries += canary()
    // per-rep CPU probe (r8 verdict #1): fixed-work spin before every query rep; the
    // series is the direct detector for sustained uniform host slowdown
    calibrationSpin(SpinIters) // throwaway: absorbs the spin loop's own JIT compile
    val spins = scala.collection.mutable.ArrayBuffer.empty[Double]
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double] // median
    val spreads = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)] // (min, max)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // per-rep time limit: a wedged query is recorded as an error, not a bench hang
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val perQueryTimeout = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "300").toLong
    // reps are interleaved ROUND-ROBIN (rep 1 of every query, then rep 2, ...), not run
    // back-to-back per query: BENCH_r06 recorded 13.89 s for a 2.6 s query because all 3
    // of its reps landed inside one transient contention window — with ~100 queries
    // between a query's reps, the three samples are minutes apart and a decaying load
    // spike can no longer poison every sample of the median (r6 verdict #3)
    val tsByName = scala.collection.mutable.LinkedHashMap(
      names.map(n => n -> scala.collection.mutable.ArrayBuffer.empty[Double]): _*)
    def runOnce(name: String): Unit = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try {
        Await.result(Future {
          // job groups are thread-local: tag the runner thread so a timeout on the main
          // thread can actually cancel the wedged jobs instead of abandoning them to
          // keep burning cores under the next query's timing
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        }, perQueryTimeout.seconds)
        tsByName(name) += (System.nanoTime() - t0) / 1e9
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
          errors(name) = s"timeout after ${perQueryTimeout}s"
        case NonFatal(e) =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      } finally {
        // one rep's plan-reuse caches must not tax the next rep's timing or memory (this
        // also drops any .cache() a query builder pinned, so the next query — and this
        // query's NEXT rep, a full pass later — re-materializes from parquet)
        spark.catalog.clearCache()
        // localCheckpoint blocks bypass the cache manager, so clearCache can't reach
        // them — the component/image queries legitimately return checkpoint-backed
        // frames (DedupLifecycleSpec's survivor allowance), but once the rep's action
        // is done nothing reads them again, and across 151 queries × reps they'd
        // accumulate real block-manager storage against later timings.
        // INVARIANT (ADVICE r13): this sweep unpersists EVERY persistent RDD,
        // including localCheckpoint blocks whose lineage is truncated — a frame that
        // survived from a prior rep and still referenced such a block would fail
        // UNRECOVERABLY, not recompute. It is safe only because every rep rebuilds
        // its query from parquet via SparkEntry.queries(name)(spark, sfDir) right
        // here, holding nothing across reps or queries. Do not introduce a cross-rep
        // or cross-query cached artifact into this loop without scoping the sweep to
        // the finished query's own RDDs first.
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    var rep = 0
    while (rep < reps) {
      names.foreach { name =>
        if (!errors.contains(name)) {
          spins += calibrationSpin(SpinIters)
          runOnce(name)
        }
      }
      canaries += canary() // one canary sample per pass boundary (incl. end of run)
      rep += 1
    }
    names.foreach { name =>
      val ts = tsByName(name)
      if (ts.nonEmpty && !errors.contains(name)) {
        val sorted = ts.sorted
        timings(name) = median(ts.toSeq)
        spreads(name) = (sorted.head, sorted.last)
      }
    }
    // degraded trips on EITHER signal:
    //  (a) canary drift: RELATIVE drift (>2x) AND a MATERIAL absolute spread (>1s) — the
    //      canary is sub-second, so pure ratio flags 0.2s of JIT/GC jitter as
    //      "contention" (a 0.38-vs-0.18 sample tripped it on an otherwise-clean r6 run);
    //  (b) ambient load at START: BENCH_r06 began under load_avg 8.15 (stale JVMs from a
    //      prior build) and the in-run canary never tripped because the load DECAYED over
    //      the run — a start sample above cpus/4 means the early timings are untrustworthy
    //      no matter what the canary saw later (r6 verdict #3).
    val stealEnd = cpuSteal()
    val stealPct =
      if (stealEnd._2 > stealStart._2)
        (stealEnd._1 - stealStart._1) * 100.0 / (stealEnd._2 - stealStart._2)
      else 0.0
    // (c) hypervisor steal: >10% of this run's cpu time stolen by co-tenants means every
    //     rep was uniformly inflated in a way neither the canary nor load_avg can see
    // (d) per-rep calibration spin (r8 verdict #1): the fixed-work probe that runs before
    //     EVERY rep — catches the sustained uniform burst mode that (a)-(c) all missed
    //     in BENCH_r08 (cdc_apply_merge_dict min 2.14 s / med 37.68 s, degraded:false)
    val degraded = (canaries.nonEmpty &&
      canaries.max > canaries.min * 2 && canaries.max - canaries.min > 1.0) ||
      loadStart > cpus.toDouble / 4.0 ||
      stealPct > 10.0 ||
      spinTripped(spins.toSeq)
    // errs stay bounded too (ADVICE r5: an unbounded error map defeats the stdout budget):
    // messages clip at 80 chars and whole entries fold into "_omitted" past the cap
    def errsJson(maxLen: Int): String = {
      var entries = errors.toSeq.map { case (k, v) => s""""${esc(k)}":"${esc(v.take(80))}"""" }
      var dropped = 0
      var s = entries.mkString("{", ",", "}")
      while (s.length > maxLen && entries.nonEmpty) {
        entries = entries.dropRight(1); dropped += 1
        s = (entries :+ s""""_omitted":$dropped""").mkString("{", ",", "}")
      }
      s
    }
    val total = timings.values.sum
    val canaryJson = canaries.map(num).mkString("[", ",", "]")
    val loadJson = s"[${num(loadStart)},${num(loadAvg())}]"
    // full-precision record to stderr (and a file beside the build) for local analysis.
    // Listener events are asynchronous and the bus drain API is private to Spark; the
    // stage-completed events of a finished job post within milliseconds, so one short
    // settle before reading the spill totals is enough.
    Thread.sleep(1000)
    val fullQs = timings.map { case (k, v) =>
      val (lo, hi) = spreads(k)
      val (spillMem, spillDisk) = Option(spillByQuery.get(k)).getOrElse((0L, 0L))
      s""""${esc(k)}":{"med":$v,"min":$lo,"max":$hi,"spill_mem_bytes":$spillMem,"spill_disk_bytes":$spillDisk}"""
    }.mkString("{", ",", "}")
    val spinJson =
      if (spins.isEmpty) """{"n":0}"""
      else s"""{"n":${spins.size},"min":${num(spins.min)},"med":${num(median(spins.toSeq))},"max":${num(spins.max)},"tripped":${spinTripped(spins.toSeq)}}"""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"degraded":$degraded,"canary_sec":$canaryJson,"spin_sec":$spinJson,"load_avg":$loadJson,"steal_pct":${num(stealPct)},"stale_jvms_killed":${killedJvms.size},"load_retry":$loadRetried,"queries":$fullQs,"errors":${errsJson(4000)},"sf":"${esc(sfDir)}"}"""
    System.err.println(fullLine)
    try java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_full.json"),
      fullLine.getBytes("UTF-8"))
    catch { case NonFatal(_) => () }
    // stdout line: the harness that collects this keeps only a ~2000-char tail of stdout,
    // and the full-precision line has outgrown it every round (BENCH_r1..r4 all record
    // parsed:null with the line's head clipped). Emit a COMPACT line — 2-decimal medians,
    // queries ordered fastest-first so a clip would eat the least-informative entries
    // first — and, if the surface outgrows the window, FOLD the fastest queries into an
    // "omitted_fastest" summary instead of letting the JSON get truncated mid-object.
    // each query is "name":[min,med] (r8 verdict #1b): under bursty co-tenancy the MEDIAN
    // of interleaved reps can be 10× the minimum on untouched code — the minimum is the
    // trustworthy cross-round comparison basis and must survive in the round artifact,
    // not just the local full-precision file
    def fmt(v: Double): String = num(v)
    def line(qSeq: Seq[(String, Double)], omitted: Seq[(String, Double)]): String = {
      val qs = qSeq.map { case (k, v) =>
        s""""${esc(k)}":[${fmt(spreads(k)._1)},${fmt(v)}]"""
      }.mkString("{", ",", "}")
      val om = if (omitted.isEmpty) ""
        else s""","omitted_fastest":{"n":${omitted.size},"sum_sec":${fmt(omitted.map(_._2).sum)}}"""
      s"""{"metric":"total","unit":"sec","sf":"${esc(sfDir)}","reps":$reps,"degraded":$degraded,"load_avg":$loadJson,"queries":$qs$om,"errors":${errsJson(400)},"value":${fmt(total)}}"""
    }
    val asc = timings.toSeq.sortBy(_._2)
    val budget = 1850 // tail window ~2000 chars minus the build tool's trailing lines
    var cut = 0
    while (cut < asc.length && line(asc.drop(cut), asc.take(cut)).length > budget) cut += 1
    println(line(asc.drop(cut), asc.take(cut)))
    spark.stop()
  }
}
