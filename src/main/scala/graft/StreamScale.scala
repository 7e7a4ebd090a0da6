package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.cdc.{Catalog, EnvelopeApply, RedoEvent, TxnAssembler}
import graft.engine.{CdcQueries, Tables}

/**
 * STREAMING-STATE scale harness (r7 verdict #2, extended r9 to all five stateful
 * streaming operators): drives the envelope apply (`flatMapGroupsWithState` replica
 * maintenance, EnvelopeApply.applyStreaming), transaction assembly
 * (TxnAssembler.assembleStreaming), native session windows, bounded dedup
 * (`dropDuplicatesWithinWatermark`) and the stream-stream interval join — through
 * MemoryStream feeds at event volumes derived from
 * `sfDir`, recording the STATE-STORE metrics Spark reports per micro-batch
 * (`StateOperatorProgress.numRowsTotal` / `memoryUsedBytes`). The claim under test is the
 * boundedness argument the 100 TB posture rests on:
 *
 *   - apply state is bounded by LIVE KEYS × COLUMNS, not by history length — the
 *     `--hist H` knob appends H extra updates per key and must leave final state rows
 *     unchanged while events grow ~(1+H)×;
 *   - transaction-assembly state is bounded by OPEN transactions and drains to ZERO at
 *     COMMIT — the reference's `trnCollection` (LogMinerThread2.java:81) never drains,
 *     which is exactly the failure mode this records immunity to;
 *   - session-window state is bounded by open sessions and evicted by the watermark;
 *   - dedup-within-watermark state is bounded by LIVE KEYS in the delay window — replay
 *     volume (`--hist`) grows events, never state — and the expiry sweep drains it;
 *   - stream-stream join state is bounded by the rows inside both watermark horizons and
 *     is evicted once the time-range condition excludes them.
 *
 * Usage: runMain graft.StreamScale <sfDir> [histMult]
 * Prints one JSON line per workload:
 *   {"workload":…,"sf":…,"hist":H,"events":N,"sec":S,"out_rows":R,
 *    "state_rows_peak":P,"state_rows_final":F,"state_mem_peak_mb":M}
 */
object StreamScale {

  final case class Metrics(events: Long, sec: Double, outRows: Long,
                           peakRows: Long, finalRows: Long, peakMemMb: Double)

  /** Per-batch progress accumulator backed by a StreamingQueryListener (ADVICE r8:
    * `query.recentProgress` retains only `numRecentProgressUpdates` (default 100) entries,
    * so a workload feeding more micro-batches than the retention would (a) never satisfy
    * the settle condition — sum(numInputRows) < fed forever — and (b) silently drop
    * evicted early batches from the peak fold). The listener sees EVERY progress event
    * exactly once; entries are keyed by batchId so a re-posted progress overwrites rather
    * than double-counts. Scoped to one query id; remove() in a finally. */
  private[graft] final class ProgressCapture(spark: SparkSession) {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    private val byBatch =
      new java.util.concurrent.ConcurrentHashMap[
        java.lang.Long, org.apache.spark.sql.streaming.StreamingQueryProgress]()
    // set right after start(); a progress posted before attach can only be the initial
    // no-data batch (the feed hasn't been added yet), which carries no input rows
    @volatile private var queryId: java.util.UUID = null
    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val qid = queryId
        if (qid != null && e.progress.id == qid) byBatch.put(e.progress.batchId, e.progress)
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    def attach(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = queryId = q.id

    /** Progress events post ASYNCHRONOUSLY after processAllAvailable returns — reading
      * metrics immediately races the listener bus and records a stale batch's state
      * totals (measured: sf0.001 runs wobbled ±150 rows run-to-run). Settle
      * deterministically: wait until the recorded input rows account for everything fed. */
    def settle(fed: Long): Unit = {
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (byBatch.values.asScala.map(_.numInputRows).sum < fed &&
             System.nanoTime() < deadline) Thread.sleep(25)
    }

    /** (peakRows, peakMemBytes, finalRows) over ALL captured batches in batch order. */
    def fold(): (Long, Long, Long) = {
      import scala.jdk.CollectionConverters._
      var peakRows = 0L; var peakMem = 0L; var finalRows = 0L
      byBatch.values.asScala.toSeq.sortBy(_.batchId).foreach { p =>
        if (p.stateOperators.nonEmpty) {
          val rows = p.stateOperators.map(_.numRowsTotal).sum
          peakRows = math.max(peakRows, rows)
          peakMem = math.max(peakMem, p.stateOperators.map(_.memoryUsedBytes).sum)
          finalRows = rows
        }
      }
      (peakRows, peakMem, finalRows)
    }

    def close(): Unit = spark.streams.removeListener(listener)
  }

  /** StreamGate.runBatches with state-metrics capture: after each drain, settle on the
    * fed-row count, then fold every captured batch into (peak, final) state-row counts
    * and peak state memory. */
  private def runMeasured[T](spark: SparkSession, enc: Encoder[T], sink: String,
                             batches: Seq[Seq[T]])(plan: Dataset[T] => DataFrame): Metrics = {
    val input = MemoryStream[T](enc, spark)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val capture = new ProgressCapture(spark)
    val t0 = System.nanoTime()
    val query =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        plan(input.toDS()).writeStream
          .format("memory").queryName(sink).outputMode("append").start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    capture.attach(query)
    var fed = 0L
    try {
      batches.foreach { b =>
        input.addData(b)
        query.processAllAvailable()
        fed += b.size
        capture.settle(fed)
      }
    } finally { query.stop(); capture.close() }
    val sec = (System.nanoTime() - t0) / 1e9
    val (peakRows, peakMem, finalRows) = capture.fold()
    val outRows = spark.table(sink).count()
    Metrics(batches.map(_.size.toLong).sum, sec, outRows, peakRows, finalRows, peakMem / 1e6)
  }

  /** Two-input variant (stream-stream join): both sides get their own MemoryStream; batch
    * pairs are fed together so the two watermarks advance in lockstep, mirroring
    * StreamGate.runTwoInputs. */
  private def runMeasuredTwo[L, R](spark: SparkSession, encL: Encoder[L], encR: Encoder[R],
                                   sink: String, batches: Seq[(Seq[L], Seq[R])],
                                   statePartitions: Int = 8)
                                  (plan: (Dataset[L], Dataset[R]) => DataFrame): Metrics = {
    val leftIn = MemoryStream[L](encL, spark)
    val rightIn = MemoryStream[R](encR, spark)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val capture = new ProgressCapture(spark)
    val t0 = System.nanoTime()
    val query =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
        plan(leftIn.toDS(), rightIn.toDS()).writeStream
          .format("memory").queryName(sink).outputMode("append").start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    capture.attach(query)
    var fed = 0L
    try {
      batches.foreach { case (l, r) =>
        leftIn.addData(l)
        rightIn.addData(r)
        query.processAllAvailable()
        fed += l.size + r.size
        capture.settle(fed)
      }
    } finally { query.stop(); capture.close() }
    val sec = (System.nanoTime() - t0) / 1e9
    val (peakRows, peakMem, finalRows) = capture.fold()
    val outRows = spark.table(sink).count()
    Metrics(batches.map(b => b._1.size.toLong + b._2.size).sum, sec, outRows,
      peakRows, finalRows, peakMem / 1e6)
  }

  /** Cut a seq into `n` contiguous micro-batches. */
  private def cut[T](rows: Seq[T], n: Int): Seq[Seq[T]] = {
    val sz = math.max(1, (rows.size + n - 1) / n)
    rows.grouped(sz).toSeq
  }

  // ---- 1. streaming envelope apply (replica maintenance) -------------------
  // the cdc_apply_merge_stream feed at FULL key volume, plus `hist` extra updates per
  // key: events scale with history, live keys (and so state rows) do not
  /** The shared merge-script feed of the apply and SCD2 workloads: the full envelope
    * script plus `hist` extra updates per already-live (%3, not %10-deleted) key — the
    * knob grows HISTORY on live keys, never the live-key set itself. */
  private def mergeFeed(spark: SparkSession, sfDir: String,
                        hist: Int): Seq[CdcQueries.MergeEnvRow] = {
    import spark.implicits._
    val base = CdcQueries.mergeEnvelope(spark, sfDir, lit(true))
      .select($"commit_scn", $"scn", $"seq", $"operation", $"data", $"before")
    val extras =
      if (hist == 0) base.limit(0)
      else Tables(spark, sfDir, "orders")
        .select($"o_orderkey".cast("long").as("k"))
        // only keys the base script already touches (%3) and does NOT delete (%10): an
        // update after the tombstone would re-create evicted state — state rows must
        // stay identical to the hist=0 run
        .filter($"k" % 3 === 0 && $"k" % 10 =!= 0)
        .select($"k", explode(sequence(lit(1), lit(hist))).as("j"))
        .select(lit(1L).as("commit_scn"),
          ($"k" * 10 + 6).as("scn"), ($"k" * 1000 + $"j").cast("long").as("seq"),
          lit(RedoEvent.Update).as("operation"),
          map(lit("O_ORDERKEY"), $"k".cast("string"),
              lit("O_ORDERSTATUS"), concat(lit("H"), $"j")).as("data"),
          map().cast("map<string,string>").as("before"))
    base.unionByName(extras).as[CdcQueries.MergeEnvRow]
      .collect().sortBy(r => (r.scn, r.seq)).toSeq
  }

  def applyWorkload(spark: SparkSession, sfDir: String, hist: Int): Metrics = {
    import spark.implicits._
    val snapshot = Tables(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority")
    val schema = Catalog.withKeyMetadata(snapshot.schema, Set("o_orderkey"))
    val rows = mergeFeed(spark, sfDir, hist)
    runMeasured(spark, Encoders.product[CdcQueries.MergeEnvRow],
        s"ss_apply_$hist", cut(rows, 4)) { ds =>
      EnvelopeApply.applyStreaming(ds.toDF(), schema).toDF()
    }
  }

  // ---- 1b. streaming SCD2 maintenance --------------------------------------
  // the SAME feed as the apply workload through Scd2Stream.versions: state is ONE open
  // version per live key (closures emit and evict), so the --hist knob must grow events
  // and emissions but leave final state rows IDENTICAL — history becomes output, never
  // state
  def scd2Workload(spark: SparkSession, sfDir: String, hist: Int): Metrics = {
    val rows = mergeFeed(spark, sfDir, hist)
    runMeasured(spark, Encoders.product[CdcQueries.MergeEnvRow],
        s"ss_scd2_$hist", cut(rows, 4)) { ds =>
      graft.cdc.Scd2Stream.versions(ds).toDF()
    }
  }

  // ---- 2. streaming transaction assembly -----------------------------------
  // one transaction per sampled key (START + INSERT + UPDATE + COMMIT), batches cut so
  // EVERY transaction straddles the boundary: peak state = all open buffers, final
  // state = 0 (commit drains) — immunity to the reference's unbounded trnCollection
  def txnWorkload(spark: SparkSession, sfDir: String): Metrics = {
    import spark.implicits._
    val keys = Tables(spark, sfDir, "orders")
      .filter($"o_orderkey" % 5 === 0)
      .select($"o_orderkey".cast("long").as("k")).as[Long].collect().toSeq
    def ev(k: Long, off: Long, op: String, sql: String) =
      RedoEvent(k * 10 + off, 0L, s"T$k", s"R$k-$off", op,
        new java.sql.Timestamp(k * 10 + off), None, "GRAFT", "ORDERS", sql,
        csf = false, rollback = false, info = "", rbasqn = 1L, seq = k * 10 + off)
    def open(k: Long) = Seq(
      ev(k, 0, RedoEvent.Start, ""),
      ev(k, 1, RedoEvent.Insert,
        s"""insert into "GRAFT"."ORDERS"("O_ORDERKEY","O_ORDERSTATUS") values (${k + 50000000L},'N')"""))
    def close(k: Long) = Seq(
      ev(k, 2, RedoEvent.Update,
        s"""update "GRAFT"."ORDERS" set "O_ORDERSTATUS" = 'M' where "O_ORDERKEY" = ${k + 50000000L}"""),
      ev(k, 3, RedoEvent.Commit, ""))
    runMeasured(spark, Encoders.product[RedoEvent],
        "ss_txn", Seq(keys.flatMap(open), keys.flatMap(close))) { ds =>
      TxnAssembler.assembleStreaming(ds, abandonedTxnTimeout = None).toDF()
    }
  }

  // ---- 3. native streaming session windows ---------------------------------
  // the events_session_stream shape at full %4 volume; the far-future sentinel closes
  // every session, so final state shows watermark eviction, not accumulation
  def sessionWorkload(spark: SparkSession, sfDir: String): Metrics = {
    import spark.implicits._
    val rows = Tables(spark, sfDir, "events")
      .filter($"event_id" % 4 === 0)
      .select($"user_id", expr("ts div 1000").as("ts_us"), $"value")
      .as[(Long, Long, Double)].collect().sortBy(_._2).toSeq
    // lastOption (ADVICE r8): an empty feed must reach the sentinel-only fallback below,
    // not throw NoSuchElementException computing the sentinel timestamp
    val sentinel =
      (-1L, rows.lastOption.map(_._2).getOrElse(0L) + 30L * 24 * 3600 * 1000000L, 0.0)
    val batches = cut(rows, 3) match {
      case init :+ last => init :+ (last :+ sentinel)
      case _            => Seq(Seq(sentinel))
    }
    runMeasured(spark,
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble),
        "ss_session", batches) { ds =>
      ds.toDF("user_id", "ts_us", "value")
        .withColumn("ts", timestamp_micros($"ts_us"))
        .withWatermark("ts", "1 minute")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("event_cnt"), sum(Tables.cents($"value")).as("value_cents"))
    }
  }

  // ---- 4. bounded streaming dedup (dropDuplicatesWithinWatermark) ----------
  // the events_dedup_stream_wm shape (Temporal.scala) re-cut for the boundedness claim:
  // batch 1 feeds every original key, batch 2 feeds `hist` replay rounds of a third of
  // the keys (events grow with hist, the KEY SET does not — per-key state must stay
  // flat), batch 3 is a lone far-future watermark pusher whose expiry sweep evicts every
  // original key. peak ≈ live keys regardless of replay volume; final ≈ the pusher alone.
  def dedupWmWorkload(spark: SparkSession, sfDir: String, hist: Int): Metrics = {
    import spark.implicits._
    val rows = Tables(spark, sfDir, "events")
      .filter($"event_id" % 4 === 0)
      .select($"event_id", expr("ts div 1000").as("ts_us"))
      .as[(Long, Long)].collect().sortBy(_._2).toSeq
    val (minUs, maxUs) = (rows.head._2, rows.last._2)
    val delayUs = maxUs - minUs + 3600L * 1000000L
    // hist replay rounds, each shifted by a distinct sub-delay offset: all suppressed by
    // held state, none late against the watermark
    val replays = (1 to math.max(1, hist)).flatMap { j =>
      rows.filter(_._1 % 3 == 0).map { case (id, ts) => (id, ts + j * 30L * 1000000L) }
    }
    val pusher = Seq((-1L, maxUs + 2 * delayUs + 3600L * 1000000L))
    runMeasured(spark, Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        s"ss_dedup_wm_$hist", Seq(rows, replays, pusher)) { ds =>
      ds.toDF("event_id", "ts_us")
        .withColumn("ts", timestamp_micros($"ts_us"))
        .withWatermark("ts", s"$delayUs microseconds")
        .dropDuplicatesWithinWatermark("event_id")
    }
  }

  // ---- 5. stream-stream interval join ---------------------------------------
  // the events_join_stream shape (Temporal.scala): purchases×clicks within 24 h per user,
  // both sides watermarked, cut mid-timeline so each side's buffer carries across the
  // boundary; the far-future sentinels (distinct users, can never join) advance both
  // watermarks so the time-range condition evicts every real row — final state is the
  // sentinels, peak is the buffered sides.
  def joinWorkload(spark: SparkSession, sfDir: String): Metrics = {
    import spark.implicits._
    val base = Tables(spark, sfDir, "events")
      .filter($"event_id" % 8 === 0)
      .select($"event_id", $"user_id", $"event_type", expr("ts div 1000").as("ts_us"))
    def side(tpe: String): Seq[(Long, Long, Long)] = base
      .filter($"event_type" === tpe)
      .select($"event_id", $"user_id", $"ts_us")
      .as[(Long, Long, Long)].collect().sortBy(_._3).toSeq
    val clicks = side("click")
    val purchases = side("purchase")
    val sentinelUs =
      (clicks.lastOption.map(_._3).getOrElse(0L)
        max purchases.lastOption.map(_._3).getOrElse(0L)) + 30L * 24 * 3600 * 1000000L
    val (c1, c2) = clicks.splitAt(clicks.length / 2)
    val (p1, p2) = purchases.splitAt(purchases.length / 2)
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    runMeasuredTwo(spark, enc, enc, "ss_join",
        Seq((c1, p1),
            (c2 :+ ((-1L, -1L, sentinelUs)), p2 :+ ((-2L, -2L, sentinelUs))),
            // empty final pair: the post-sentinel no-data batch commits the eviction sweep
            (Nil, Nil)),
        statePartitions = 2) { (l, r) =>
      val lc = l.toDF("click_id", "c_user", "c_us")
        .withColumn("c_ts", timestamp_micros($"c_us"))
        .withWatermark("c_ts", "1 minute")
      val rp = r.toDF("purchase_id", "p_user", "p_us")
        .withColumn("p_ts", timestamp_micros($"p_us"))
        .withWatermark("p_ts", "1 minute")
      rp.join(lc,
        $"p_user" === $"c_user" &&
          $"c_ts" >= $"p_ts" - expr("INTERVAL 24 HOURS") && $"c_ts" <= $"p_ts")
        .select($"purchase_id", $"click_id")
    }
  }

  // ---- 6. streaming heavy hitters (Misra–Gries keyed state) ------------------
  // the events_heavy_hitters_stream shape at FULL event volume: per-shard bounded
  // counter maps in flatMapGroupsWithState. The `--hist` knob REPLAYS the whole stream
  // hist extra times — events grow (1+hist)×, but MG state is capped at
  // shards × capacity BY CONSTRUCTION, so peak and final state rows must stay flat
  // (≤ shards × (capacity + 1) once per-shard version rows are counted) at any volume —
  // the sketch's whole point is that state never tracks key cardinality or stream length.
  def heavyHittersWorkload(spark: SparkSession, sfDir: String, hist: Int): Metrics = {
    import spark.implicits._
    val rows0 = Tables(spark, sfDir, "events")
      .select($"user_id").as[Long].collect().toSeq
    val rows = (0 to math.max(0, hist)).flatMap(_ => rows0)
      .map(u => ((u % graft.engine.Temporal.HhStreamShards).toInt, u))
    runMeasured(spark, Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong),
        s"ss_hh_$hist", cut(rows, 4)) { ds =>
      graft.engine.MisraGries
        .streamCandidates(ds.as[(Int, Long)], graft.engine.Temporal.HeavyHitterK).toDF()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StreamScale <sfDir> [histMult] [workloads-csv]")
    val sfDir = args(0)
    val hist = if (args.length > 1) args(1).toInt else 0
    // optional workload filter (r20, VERDICT r19 #5): a posture-delta attribution run
    // (e.g. join_stream hdfs-vs-rocksdb, repeated for variance) shouldn't pay for the
    // other six workloads every rep. Unknown names fail loudly — a typo'd filter must
    // not masquerade as "ran and emitted nothing" (the GenScale tables-arg rule).
    val allWorkloads = Seq("apply_stream", "scd2_stream", "txn_stream", "session_stream",
      "dedup_wm_stream", "join_stream", "heavy_hitters_stream")
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    only.foreach { ws =>
      val unknown = ws -- allWorkloads.toSet
      require(unknown.isEmpty,
        s"unknown workload(s) ${unknown.mkString(",")}; known: ${allWorkloads.mkString(",")}")
    }
    def want(w: String): Boolean = only.forall(_.contains(w))
    // State-store posture knob (SPARK_GRAFT_STATESTORE, read by LocalSession): rocksdb
    // switches every workload's state to Spark's RocksDB provider (state ≫ heap); the
    // reported state_mem_peak_mb is then the JVM-side usage the provider reports, beside
    // the in-heap rows of the default store. Validated loudly: a typo must not
    // masquerade as a posture measurement.
    val stateStore = LocalSession.stateStore
    val spark = LocalSession()

    def emit(workload: String, m: Metrics): Unit =
      println(String.format(java.util.Locale.ROOT,
        """{"workload":"%s","sf":"%s","hist":%d,"state_store":"%s","events":%d,"sec":%.2f,"out_rows":%d,"state_rows_peak":%d,"state_rows_final":%d,"state_mem_peak_mb":%.1f}""",
        workload, sfDir, Int.box(hist), stateStore, Long.box(m.events), Double.box(m.sec),
        Long.box(m.outRows), Long.box(m.peakRows), Long.box(m.finalRows),
        Double.box(m.peakMemMb)))

    val runs: Seq[(String, () => Metrics)] = Seq(
      "apply_stream" -> (() => applyWorkload(spark, sfDir, hist)),
      "scd2_stream" -> (() => scd2Workload(spark, sfDir, hist)),
      "txn_stream" -> (() => txnWorkload(spark, sfDir)),
      "session_stream" -> (() => sessionWorkload(spark, sfDir)),
      "dedup_wm_stream" -> (() => dedupWmWorkload(spark, sfDir, hist)),
      "join_stream" -> (() => joinWorkload(spark, sfDir)),
      "heavy_hitters_stream" -> (() => heavyHittersWorkload(spark, sfDir, hist)))
    runs.filter(r => want(r._1)).foreach { case (name, run) =>
      emit(name, run())
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
