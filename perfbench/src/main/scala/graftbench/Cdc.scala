package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.cdc.{CdcPipeline, EnvelopeApply, ParseRedo, RedoEvent, RedoSqlParser, TxnAssembler}
import graft.cdc.EnvelopeApply.ReplicaEmit
import graft.sinks.RoutedSink
import graft.sources.RedoEventSource

/**
 * The two CDC workloads. Both run the streaming chain
 * `RedoEventSource.fromKafka` -> `CdcPipeline.stream(streaming = true)` ->
 * `EnvelopeApply.applyStreaming` over parquet wire files read by Spark's file source.
 *
 *  - cdc_drain: a closed backlog drain. The whole feed is on disk before the query
 *    starts; `Trigger.AvailableNow` reads one wave per micro-batch into a sink that
 *    fingerprints the emissions.
 *  - cdc_paced: an open loop. One generator thread publishes one wave file per interval
 *    into the watched directory by atomic rename; a `ProcessingTime` trigger picks them up
 *    and the sink appends each batch's emissions to a parquet emit log.
 */
object Cdc {
  private val DrainTxns = 20000L
  private val DrainWaves = 3
  private val CheckTxns = 6000L
  private val PacedIntervalMs = 2000
  private val PacedTriggerMs = 100L
  private val PacedTxnsPerWave = 40
  private val PacedHotKeys = 60
  private val PrimeWaves = 1

  /** One streaming drain/run of the chain; `sink` sees each micro-batch's emissions. */
  private def startChain(spark: SparkSession, dir: String, maxFiles: Option[Int],
                         checkpoint: String, trigger: Trigger)
                        (sink: (Dataset[ReplicaEmit], Long) => Unit) = {
    val reader = spark.readStream.schema(CdcGen.wireSchema)
    val src = maxFiles.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong)).parquet(dir)
    val emits = EnvelopeApply.applyStreaming(
      CdcPipeline.stream(RedoEventSource.fromKafka(src), CdcGen.config, streaming = true),
      CdcGen.schema)
    emits.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (df: Dataset[ReplicaEmit], id: Long) => sink(df, id) }
      .start()
  }

  private def appendTo(emitDir: String)(df: Dataset[ReplicaEmit], id: Long): Unit =
    df.withColumn("batch", lit(id)).write.mode("append").parquet(emitDir)

  /** Keys whose replica row, folded from the emit log, differs from the model either way. */
  private def mismatchedKeys(spark: SparkSession, emitDir: String, model: DataFrame): Seq[Long] = {
    val empty = model.filter(lit(false))
    val replica = EnvelopeApply.applyChanges(empty,
      EnvelopeApply.latestChanges(spark.read.parquet(emitDir), CdcGen.schema), CdcGen.schema)
    replica.exceptAll(model).union(model.exceptAll(replica))
      .select(col("o_orderkey")).distinct().collect().map(_.getLong(0)).toSeq
  }

  private def stateMb(ps: Seq[StreamingQueryProgress]): Double =
    StreamStats.summary(ps)("state.mem_mb")

  // ---- cdc_drain ----------------------------------------------------------------------

  /** Order-independent fingerprint of a set of replica rows (key, deleted, status): the
    * row count and a sum of 44-bit row hashes, which cannot overflow a long. */
  private def fingerprint(key: Column, deleted: Column, status: Column): Seq[Column] =
    Seq(count(lit(1)), coalesce(sum(shiftrightunsigned(xxhash64(key, deleted, status), 20)), lit(0L)))

  private def emitFingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(fingerprint(col("pk").getItem("O_ORDERKEY").cast("long"), col("deleted"),
      col("m").getItem("O_ORDERSTATUS")): _*).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Lay staged waves out in one feed directory, every file stamped in wave order, so the
    * file source's oldest-first pickup reads exactly one wave per micro-batch. */
  private def layOut(staging: String, feed: File, waves: Int, filesPerWave: Int): Unit = {
    feed.mkdirs()
    val stamp0 = System.currentTimeMillis() - 3600 * 1000L
    (0 until waves).foreach { w =>
      val ws = CdcGen.waveFiles(staging, w)
      require(ws.size == filesPerWave, s"wave $w has ${ws.size} files, expected $filesPerWave")
      ws.zipWithIndex.foreach { case (f, i) =>
        val dst = new File(feed, f"w$w%03d-$i%03d.parquet")
        Files.move(f.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        dst.setLastModified(stamp0 + w * 1000L + i)
      }
    }
  }

  def drain(spark: SparkSession, a: Main.Args, report: Report): Unit = {
    val files = a.cpus
    val seed = a.seed
    val setup = report.child("setup")
    // the warm-up feed first: a separately seeded, smaller feed of the same mix, whose
    // build pays the session's first-job costs before the timed feed builds
    val tc = System.nanoTime()
    val checkSeed = seed ^ 0x5DEECE66DL
    CdcGen.writeWaves(CdcGen.drainFrames(spark, checkSeed, CheckTxns),
      o => CdcGen.drainWave(checkSeed, DrainWaves, o), "check-staging", files)
    val checkFeed = new File("check-feed")
    layOut("check-staging", checkFeed, DrainWaves, files)
    setup("check_build_s") = Main.seconds(tc)

    // input build, three times, each overwriting the last: the median is the set-up
    // figure
    val builds = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      CdcGen.writeWaves(CdcGen.drainFrames(spark, seed, DrainTxns),
        o => CdcGen.drainWave(seed, DrainWaves, o), "drain-staging", files)
      Main.seconds(t0)
    }
    setup("feed_build_s") = Main.median(builds)
    report("feed_builds_s") = builds
    val feed = new File("drain-feed")
    layOut("drain-staging", feed, DrainWaves, files)
    val frames = spark.read.schema(CdcGen.wireSchema).parquet(feed.getPath).count()
    val model = CdcGen.drainModel(spark, seed, DrainTxns)
    val want = {
      val r = model.select(fingerprint(col("o_orderkey"), lit(false), col("o_orderstatus")): _*).head()
      (r.getLong(0), r.getLong(1))
    }

    // warm-up: one untimed drain of the warm-up feed into an emit log, which the
    // correctness check folds into a replica
    val tw = System.nanoTime()
    startChain(spark, checkFeed.getPath, Some(files), "ckpt-warmup", Trigger.AvailableNow())(
      appendTo("check-emits")).awaitTermination()
    setup("warmup_s") = Main.seconds(tw)

    // commits per wave: a transaction's backlog latency is the end of the batch that
    // read its COMMIT's wave
    val commitsPerWave = new Array[Long](DrainWaves)
    (0L until DrainTxns).foreach(k => commitsPerWave(CdcGen.drainCommitWave(seed, DrainWaves, k)) += 1)

    val res = report.child("drain")
    res("frames") = frames
    res("txns") = DrainTxns
    res("waves") = DrainWaves
    res("commits_per_wave") = commitsPerWave.toSeq

    var ckptN = 0
    /** Fresh-checkpoint drains of the whole feed, as many as fit in `a.seconds` (judged
      * by the last drain's time), at least one. The sink fingerprints each micro-batch's
      * emissions; each drain's fingerprint must equal the model's. */
    def timedDrains(trace: Option[Trace]): Report = {
      val out = new Report
      val walls = Seq.newBuilder[Double]
      val batchEnds = Seq.newBuilder[Seq[Double]]
      val correct = Seq.newBuilder[Boolean]
      val progress = Seq.newBuilder[StreamingQueryProgress]
      val windowStartMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var n = 0
      var last = 0.0
      while (n < 1 || Main.seconds(t0) + last <= a.seconds) {
        ckptN += 1
        val ends = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
        val rows = new java.util.concurrent.atomic.AtomicLong
        val hash = new java.util.concurrent.atomic.AtomicLong
        val d0 = System.nanoTime()
        def once(): Unit = {
          val q = startChain(spark, feed.getPath, Some(files), s"ckpt-$ckptN",
            Trigger.AvailableNow()) { (df, id) =>
            val (c, h) = emitFingerprint(df.toDF())
            rows.addAndGet(c)
            hash.addAndGet(h)
            ends.put(id, System.nanoTime())
          }
          q.awaitTermination()
          progress ++= q.recentProgress
        }
        trace.fold(once())(_.span("drain")(once()))
        last = Main.seconds(d0)
        walls += last
        batchEnds += (0L until ends.size.toLong).map(b => (ends.get(b) - d0) / 1e6)
        correct += (rows.get, hash.get) == want
        n += 1
      }
      out("drain_s") = walls.result()
      out("batch_end_ms") = batchEnds.result()
      out("drain_correct") = correct.result()
      out("window_s") = Main.seconds(t0)
      out("state_mem_mb") = stateMb(progress.result())
      trace.foreach { tr =>
        tr.settle()
        val endMs = System.currentTimeMillis()
        out("spark") = tr.jobs.summary(windowStartMs, endMs)
        out("stream") = StreamStats.summary(tr.streams.all)
      }
      out
    }

    report("measure") = timedDrains(None)
    if (a.trace) {
      // untraced, traced, untraced again: the overhead is judged against both untraced
      // windows, so the JIT still settling over the run does not read as overhead
      val tr = new Trace(spark)
      report("traced") = timedDrains(Some(tr))
      tr.close()
      report("untraced_after") = timedDrains(None)
      report("ladder") = ladder(spark, spark.read.schema(CdcGen.wireSchema).parquet(feed.getPath),
        "ladder-sink", Some(tr))
      tr.writeSpans("spans.json")
    }

    // correctness, untimed: the warm-up drain's emit log folded into a replica against
    // its model, both ways (each timed drain was checked by its fingerprint)
    val bad = mismatchedKeys(spark, "check-emits", CdcGen.drainModel(spark, checkSeed, CheckTxns))
    val check = report.child("check")
    check("attempted") = CheckTxns
    check("failed") = bad.size.toLong
    check("mismatched_keys") = bad.take(20)
  }

  // ---- cdc_paced ----------------------------------------------------------------------

  /** Moves staged wave w into `watch` by atomic rename. */
  private def publish(staging: String, watch: File, w: Int): Unit =
    CdcGen.waveFiles(staging, w).zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(System.currentTimeMillis())
      Files.move(f.toPath, new File(watch, f"w$w%05d-$i%02d.parquet").toPath,
        StandardCopyOption.ATOMIC_MOVE)
    }

  /** Publishes staged waves `first until waves`, wave w at t0 + (w - first) * interval. */
  private final class Publisher(staging: String, watch: File, first: Int, waves: Int,
                                t0Ns: Long, intervalMs: Int) extends Thread("graftbench-publisher") {
    val lateMs = new Array[Double](waves - first)
    val publishedNs = new Array[Long](waves - first)
    @volatile var failure: Throwable = null
    setDaemon(true)

    override def run(): Unit =
      try {
        (first until waves).foreach { w =>
          val due = t0Ns + (w - first).toLong * intervalMs * 1000000L
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          publish(staging, watch, w)
          publishedNs(w - first) = System.nanoTime()
          lateMs(w - first) = (publishedNs(w - first) - due) / 1e6
        }
      } catch { case e: Throwable => failure = e }
  }

  def paced(spark: SparkSession, a: Main.Args, report: Report): Unit = {
    import spark.implicits._
    val seed = a.seed
    // the first PrimeWaves waves prime the query, untimed; the rest run on the schedule
    val waves = PrimeWaves + math.max(4, math.round(a.seconds * 1000 / PacedIntervalMs).toInt)
    val setup = report.child("setup")

    def stage(name: String, s: Long, nWaves: Int) = {
      val (frames, txns, model) = CdcGen.pacedFeed(s, nWaves, PacedTxnsPerWave, PacedHotKeys)
      CdcGen.writeWaves(frames.toDS(), o => CdcGen.pacedWave(s, nWaves, PacedTxnsPerWave, o),
        name, 1)
      (frames.size, txns, model)
    }
    // input build, three times from scratch: the median is the set-up figure
    val builds = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val r = stage(s"paced-staging-$i", seed, waves)
      (Main.seconds(t0), r)
    }
    setup("feed_build_s") = Main.median(builds.map(_._1))
    val (nFrames, txns, modelMap) = builds.head._2
    val framesPerWave = spark.read.parquet("paced-staging-0").groupBy("wave").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    report("feed_builds_s") = builds.map(_._1)

    var runN = 0
    def run(trace: Option[Trace]): Report = {
      runN += 1
      val out = new Report
      // each run consumes a staged copy of the waves; a traced run's third run gets one
      // built outside the set-up timing
      val staging = s"paced-staging-$runN"
      if (!new File(staging).exists()) stage(staging, seed, waves)
      val watch = new File(s"paced-watch-$runN")
      watch.mkdirs()
      val emitDir = s"paced-emits-$runN"
      val ends = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      // priming, untimed: the query starts and reads the first waves one batch each, so
      // the timed waves meet a query that is already running, as a replica feed's would
      val p0 = System.nanoTime()
      val q = startChain(spark, watch.getPath, None, s"ckpt-paced-$runN",
        Trigger.ProcessingTime(PacedTriggerMs)) { (df, id) =>
        trace.fold(appendTo(emitDir)(df, id))(_.span("sink")(appendTo(emitDir)(df, id)))
        ends.put(id, System.nanoTime())
      }
      (0 until PrimeWaves).foreach { w =>
        publish(staging, watch, w)
        q.processAllAvailable()
      }
      val primedBatch = q.lastProgress.batchId
      out("prime_s") = Main.seconds(p0)
      val windowStartMs = System.currentTimeMillis()
      val t0 = System.nanoTime() + 100000000L
      val pub = new Publisher(staging, watch, PrimeWaves, waves, t0, PacedIntervalMs)
      pub.start()
      pub.join()
      if (pub.failure != null) throw pub.failure
      q.processAllAvailable()
      val progress = q.recentProgress.toSeq
      q.stop()
      val windowS = Main.seconds(t0)

      // the batch that applied each transaction: the first batch whose emission for the
      // key carries a version at or past the transaction's COMMIT
      val emits = spark.read.parquet(emitDir)
        .select(col("pk").getItem("O_ORDERKEY").cast("long").as("key"), col("batch"), col("vcs"))
      val applied = txns.toDF().join(emits, "key").filter(col("vcs") >= col("commitScn"))
        .groupBy("t").agg(min("batch").as("batch"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // latency of the transactions that commit in timed waves, wave numbers counted
      // from the first timed wave
      val endMs = (b: Long) => (ends.get(b) - t0) / 1e6
      val timed = txns.filter(_.commitWave >= PrimeWaves)
      out("interval_ms") = PacedIntervalMs
      out("commit_wave") = timed.map(_.commitWave - PrimeWaves)
      out("applied_ms") = timed.map(t => applied.get(t.t).map(endMs).getOrElse(Double.NaN))
      out("unapplied") = txns.count(t => !applied.contains(t.t)).toLong
      out("late_ms") = pub.lateMs.toSeq
      out("window_s") = windowS
      val data = progress.filter(p => p.numInputRows > 0 && p.batchId > primedBatch)
      out("input_rows") = data.map(_.numInputRows).sum
      out("batch_s") = data.map(_.batchDuration / 1e3)
      out("state_mem_mb") = stateMb(progress)
      trace.foreach { tr =>
        tr.settle()
        out("spark") = tr.jobs.summary(windowStartMs, System.currentTimeMillis())
        val ps = tr.streams.all.filter(p => p.id == q.id && p.batchId > primedBatch)
        out("stream") = StreamStats.summary(ps)
        // backlog at each progress: timed frames published before the batch ended, less
        // the timed frames read so far
        val pubAt = pub.publishedNs.toSeq.zipWithIndex.map { case (ns, i) => (ns, i + PrimeWaves) }
        var read = 0L
        out("backlog_frames") = ps.sortBy(_.batchId).map { p =>
          read += p.numInputRows
          val at = ends.getOrDefault(p.batchId, Long.MaxValue)
          pubAt.filter(_._1 <= at).map(w => framesPerWave.getOrElse(w._2, 0L)).sum - read
        }
      }
      // correctness, untimed: this run's emit log folded into a replica vs the model
      val model = modelMap.toSeq.toDF("o_orderkey", "o_orderstatus")
      val bad = mismatchedKeys(spark, emitDir, model).toSet
      val failedTxns = txns.count(t => bad.contains(t.key) || !applied.contains(t.t))
      out("check") = Map("attempted" -> txns.size.toLong, "failed" -> failedTxns.toLong,
        "mismatched_keys" -> bad.take(20).toSeq)
      out
    }

    report("paced") = Map("frames" -> nFrames.toLong, "txns" -> txns.size.toLong,
      "waves" -> waves, "hot_keys" -> PacedHotKeys)
    val m = run(None)
    report("measure") = m
    setup("warmup_s") = m("prime_s")
    if (a.trace) {
      val tr = new Trace(spark)
      report("traced") = run(Some(tr))
      tr.close()
      report("untraced_after") = run(None)
      val wire = spark.read.parquet("paced-staging-0").select("key", "value", "offset")
      report("ladder") = ladder(spark, wire, "ladder-sink", Some(tr))
      tr.writeSpans("spans.json")
    }
  }

  // ---- batch-mode layer ladder (traced run) -------------------------------------------

  /** Columns the timed parser loop produced; read back so the loop cannot be elided. */
  @volatile private var parsedCols = 0L

  /**
   * Cumulative prefixes of the chain over one wire feed, each materialised through the
   * noop sink twice in a row; the faster counts, so the first run of a rung is its
   * warm-up.
   * A rung's marginal cost is its time minus the previous rung's (run.py computes them);
   * the sink rung's base is the envelope rung, since the routed sink writes the envelope.
   */
  def ladder(spark: SparkSession, wire: DataFrame, sinkDir: String, trace: Option[Trace]): Report = {
    val cfg = CdcGen.config
    val out = new Report
    val isControl = col("operation").isin(RedoEvent.Start, RedoEvent.Commit, RedoEvent.Rollback)
    val keep = isControl || (CdcPipeline.internalDdlFilter(col("operation"), col("info")) &&
      CdcPipeline.validTableName(col("tableName")) &&
      CdcPipeline.whitelist(cfg.whitelist, col("segOwner"), col("tableName")))
    val headKeep: RedoEvent => Boolean = e => !e.sqlRedo.contains(CdcPipeline.TempTablePhrase)
    val dropped = spark.sparkContext.longAccumulator("graftbench.dropped_txns")

    def decoded = RedoEventSource.fromKafka(wire)
    def filtered = decoded.filter(keep)
    def assembled = TxnAssembler.assembleBatch(filtered, cfg.maxBufferedRows, headKeep, Some(dropped))
    def parsed = assembled.toDF().withColumnRenamed("sqlRedo", "sql_redo")
      .withColumn("parsed", ParseRedo.parse(col("sql_redo"), cfg.unescapeStrings))
    def enveloped = CdcPipeline.stream(decoded, cfg, streaming = false)
    def applied = EnvelopeApply(CdcGen.drainModel(spark, 0L, 0L), enveloped, CdcGen.schema)

    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val rungs: Seq[(String, () => Unit)] = Seq(
      "decode" -> (() => noop(decoded.toDF())),
      "filter" -> (() => noop(filtered.toDF())),
      "assemble" -> (() => noop(assembled.toDF())),
      "parse" -> (() => noop(parsed)),
      "envelope" -> (() => noop(enveloped)),
      "apply" -> (() => noop(applied)),
      "sink" -> (() => { CdcGen.rmrf(new File(sinkDir)); RoutedSink.writeBatch(enveloped, sinkDir) }))
    // each rung twice; the faster is its time
    val times = rungs.map { case (name, body) =>
      name -> (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        trace.fold(body())(_.span(s"ladder.$name")(body()))
        Main.seconds(t0)
      }.min
    }
    out("cumulative_s") = times.toMap
    out("order") = times.map(_._1)
    out("rows") = decoded.count()
    out("sink_mb") = CdcGen.dirBytes(new File(sinkDir)) / 1e6

    val f = filtered.toDF()
    val dmlIn = f.filter(!isControl).count()
    val csfHeads = f.filter(!isControl && col("csf")).count()
    dropped.reset()
    val committed = assembled.count()
    out("dropped_txns") = dropped.value.longValue
    out("committed_rows") = committed
    out("rolled_back_rows") = dmlIn - csfHeads - committed

    // the parser alone, one thread, over the feed's distinct committed statements
    val stmts = assembled.select(col("sqlRedo")).distinct().limit(20000).collect().map(_.getString(0))
    var ok = 0
    stmts.foreach(s => if (RedoSqlParser.parseOpt(s, cfg.unescapeStrings).isDefined) ok += 1)
    val passes = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      var cols = 0L
      stmts.foreach(s => cols += RedoSqlParser.parseOpt(s, cfg.unescapeStrings).fold(0)(_.data.size))
      val ns = (System.nanoTime() - t0).toDouble / math.max(1, stmts.length)
      parsedCols += cols
      ns
    }
    out("parse_ns_per_stmt") = passes.min
    out("parse_statements") = stmts.length
    out("parse_ok_ratio") = if (stmts.isEmpty) 0.0 else ok.toDouble / stmts.length
    out
  }
}
