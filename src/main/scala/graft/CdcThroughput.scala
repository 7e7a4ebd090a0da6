package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.{Catalog, CdcConfig, CdcPipeline, EnvelopeApply, RedoEvent}
import graft.engine.Tables

/**
 * CDC THROUGHPUT HEADLINE (r17, VERDICT r16 #6): sustained events/sec of the FULL
 * wire → decode → CSF-fuse → assemble → parse → envelope → apply chain, measured from a
 * PRE-MATERIALIZED parquet wire feed read by Spark's file stream source — so the
 * MemoryStream driver-side feed cost that dominates the bench's streaming harnesses is
 * priced out entirely (the feed build is timed separately, the cdc_txn_reconstruct
 * discipline taken to the stream).
 *
 * Feed: one transaction per `orders` row — START, INSERT (CSF-split into two fragments
 * for k%3 keys), a rolled-back UPDATE pair for k%7 keys (must cancel), a surviving
 * UPDATE for k%5 keys, SYS noise for k%11 keys (must filter), COMMIT — every txn
 * commits (the assembler must DRAIN; timeout/DLQ postures are cdc_txn_timeout /
 * cdc_dead_letters' gates). Wire frames are the Kafka JSON shape (RedoEventSource
 * .toKafkaValue), written as `waves` modTime-ordered parquet file groups; k%13 txns
 * have their tail frames shifted one wave forward, so cross-micro-batch transaction
 * carry is exercised under measurement, not just in the parity gates.
 *
 * Stream: readStream.parquet(feed) with maxFilesPerTrigger = one wave per micro-batch,
 * Trigger.AvailableNow → CdcPipeline.stream (streaming assembler + parser + envelope) →
 * EnvelopeApply.applyStreaming keyed replica fold → noop-style foreachBatch count sink.
 * Reported: frames/sec sustained over the whole drain, per-batch input rows, and the
 * state-store peak/final rows (assembler buffers + replica fold) via the same
 * StreamingQueryListener capture StreamScale uses.
 *
 * Correctness ride-along (both untimed): (a) a SECOND drain persists the streamed
 * emissions and folds the replica from that emit log — stream-only defects (wrong
 * cross-batch assembly, partial commits, abandoned buffers) land in
 * `stream_replica_diff_rows`; (b) the batch assembler recomputes the replica over the
 * same feed into `replica_diff_rows`. Both compare except-both-ways against the
 * directly computed expected final state — the script's arithmetic (status 'U' for
 * k%5, else the original; rollback pairs cancel) — so the throughput number can never
 * silently measure a wrong chain, streamed or batch (ADVICE r17 #1).
 *
 * State-store posture: SPARK_GRAFT_STATESTORE=rocksdb switches the assembler + replica
 * fold state to Spark's RocksDB provider (state ≫ heap — the posture a 100 TB replica
 * needs; the default in-heap HDFS-backed store ceilings at live-keys × row-image in
 * executor memory, measured 11.7 GB at 15M keys in r17).
 *
 * Usage: tools/run.sh graft.CdcThroughput <sfDir> [waves=8] [filesPerWave=8]
 */
object CdcThroughput {

  private[graft] def script(k: Long, st: String): Seq[RedoEvent] = {
    val xid = s"tx$k"
    val rid = f"ROW$k%012d"
    def ev(off: Long, op: String, redo: String = "", rb: Boolean = false,
           csf: Boolean = false, owner: String = "GRAFT", table: String = "ORDERS") =
      RedoEvent(scn = k * 10 + off, commitScn = 0L, xid = xid, rowId = rid,
        operation = op, timestamp = new java.sql.Timestamp(0L), commitTimestamp = None,
        segOwner = owner, tableName = table, sqlRedo = redo, csf = csf,
        rollback = rb, info = "", rbasqn = 1L, seq = k * 10 + off)
    val redo =
      s"""insert into "GRAFT"."ORDERS"("O_ORDERKEY","O_ORDERSTATUS") values ($k,'$st')"""
    val insert =
      if (k % 3 == 0) { // CSF run: fragments share (xid, scn, rowId); head csf=true
        val cut = redo.length / 2
        Seq(ev(1, RedoEvent.Insert, redo.substring(0, cut), csf = true),
          ev(1, RedoEvent.Insert, redo.substring(cut)).copy(seq = k * 10 + 2))
      } else Seq(ev(1, RedoEvent.Insert, redo))
    val rolledBackPair = if (k % 7 == 0) Seq(
      ev(3, RedoEvent.Update,
        s"""update "GRAFT"."ORDERS" set "O_ORDERSTATUS" = 'X' where "O_ORDERKEY" = $k"""),
      ev(4, RedoEvent.Update,
        s"""update "GRAFT"."ORDERS" set "O_ORDERSTATUS" = '$st' where "O_ORDERKEY" = $k""",
        rb = true)) else Nil
    val survivingUpdate = if (k % 5 == 0) Seq(ev(5, RedoEvent.Update,
      s"""update "GRAFT"."ORDERS" set "O_ORDERSTATUS" = 'U' where "O_ORDERKEY" = $k"""))
      else Nil
    val noise = if (k % 11 == 0) Seq(
      ev(6, RedoEvent.Insert, "insert into t values (1)", owner = "SYS", table = "T"))
      else Nil
    (ev(0, RedoEvent.Start) +: insert) ++ rolledBackPair ++ survivingUpdate ++ noise :+
      ev(7, RedoEvent.Commit)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CdcThroughput <sfDir> [waves] [filesPerWave]")
    val sfDir = args(0)
    val waves = args.lift(1).map(_.toInt).getOrElse(8)
    val filesPerWave = args.lift(2).map(_.toInt).getOrElse(8)
    val stateStore = LocalSession.stateStore
    val spark = LocalSession()
    import spark.implicits._

    val feedDir = s"target/cdc_feed_${new java.io.File(sfDir).getName}"
    val fmt = (d: Double) => BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)

    // ---- 1. feed build (timed separately; distributed flatMap, never a driver collect)
    val tFeed0 = System.nanoTime()
    val events = Tables(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_orderstatus").as[(Long, String)]
      .flatMap { case (k, st) => script(k, st) }
    // wave of a frame: txn k lands in wave k%waves; k%13 txns shift every frame after
    // the head INSERT one wave forward — deliberate mid-transaction cuts. The shift is
    // CLAMPED at the last wave, never wrapped (ADVICE r17 #1): pmod(k+1, waves) sent
    // last-wave tails (incl. COMMIT) back to wave 0 BEFORE their START/INSERT, so the
    // COMMIT emitted a partial txn and the late START opened a buffer that never
    // cleared (abandonedTxnTimeout=None) — silently violating the harness's
    // every-txn-commits / assembler-must-DRAIN invariant for ~1% of txns.
    val wire = graft.sources.RedoEventSource.toKafkaValue(events)
      .withColumn("k", expr("offset div 10"))
      .withColumn("wave",
        least(pmod($"k", lit(waves)) +
            when($"k" % 13 === 0 && $"offset" % 10 >= 3, 1).otherwise(0),
          lit(waves - 1L)))
      .select($"key", $"value", $"offset", $"wave")
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // clean rebuild: stale waves would double-feed the stream, and a stale CHECKPOINT
    // (ADVICE r17 #2) would resume the prior run's file-source log + state store,
    // polluting emit_rows, batch count, and the state peak/final metrics
    def rm(f: java.io.File): Unit = if (f.exists()) {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    Seq(feedDir, s"$feedDir-ckpt", s"$feedDir-vckpt", s"$feedDir-emits")
      .foreach(p => rm(new java.io.File(p)))
    // one wave at a time so modTime order encodes wave order (the file source's
    // oldest-first pickup = arrival order); per-wave parts stamped monotonically
    var stamp = 1000000000000L
    val stamped = scala.collection.mutable.Set.empty[String]
    (0 until waves).foreach { w =>
      wire.filter($"wave" === w).select($"key", $"value", $"offset")
        .repartition(filesPerWave)
        .write.mode(if (w == 0) "overwrite" else "append").parquet(feedDir)
      new java.io.File(feedDir).listFiles()
        .filter(f => f.getName.startsWith("part-") && !stamped(f.getName))
        .sortBy(_.getName).foreach { f =>
          stamp += 1000L; f.setLastModified(stamp); stamped += f.getName
        }
    }
    val frames = spark.read.parquet(feedDir).count()
    wire.unpersist(blocking = false)
    val feedSec = (System.nanoTime() - tFeed0) / 1e9

    // ---- 2. the timed streaming drain
    val cfg = CdcConfig.fromMap(Map(
      "db.name.alias" -> "DB1", "table.whitelist" -> "GRAFT.*",
      "map.unescaped.strings" -> "true")).copy(abandonedTxnTimeout = None)
    val snapshotSchema = Tables(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_orderstatus").schema
    val schema = Catalog.withKeyMetadata(snapshotSchema, Set("o_orderkey"))
    val src = spark.readStream
      .schema("key binary, value binary, offset long")
      .option("maxFilesPerTrigger", filesPerWave)
      .parquet(feedDir)
    val enveloped = CdcPipeline.stream(
      graft.sources.RedoEventSource.fromKafka(src), cfg, streaming = true)
    val emits = EnvelopeApply.applyStreaming(enveloped, schema)
    val emitRows = new java.util.concurrent.atomic.AtomicLong
    val nBatches = new java.util.concurrent.atomic.AtomicLong
    val capture = new StreamScale.ProgressCapture(spark)
    val ckpt = s"$feedDir-ckpt"
    val t0 = System.nanoTime()
    val query = emits.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.cdc.EnvelopeApply.ReplicaEmit], _: Long) =>
        emitRows.addAndGet(df.count()); nBatches.incrementAndGet(); ()
      }
      .start()
    capture.attach(query)
    query.awaitTermination()
    val streamSec = (System.nanoTime() - t0) / 1e9
    capture.settle(frames)
    val (peakRows, peakMem, finalRows) = capture.fold()
    capture.close()

    // ---- 3a. STREAMED-path correctness ride-along (untimed — ADVICE r17 #1): a second
    // drain of the same feed with a fresh checkpoint, whose foreachBatch PERSISTS the
    // emissions; the replica is then folded from that streamed emit log
    // (latestChanges → applyChanges), so stream-only defects — a wrong cross-batch
    // assembly, a partial commit, an abandoned buffer — land in the diff. Kept out of
    // the timed drain so the headline prices the chain, not the verification sink.
    val tv0 = System.nanoTime()
    val emitDir = s"$feedDir-emits"
    val vQuery = EnvelopeApply.applyStreaming(CdcPipeline.stream(
        graft.sources.RedoEventSource.fromKafka(spark.readStream
          .schema("key binary, value binary, offset long")
          .option("maxFilesPerTrigger", filesPerWave)
          .parquet(feedDir)), cfg, streaming = true), schema)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$feedDir-vckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.cdc.EnvelopeApply.ReplicaEmit], _: Long) =>
        df.write.mode("append").parquet(emitDir); ()
      }
      .start()
    vQuery.awaitTermination()
    val emptySnapshot = Tables(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_orderstatus")
      .filter(lit(false)) // empty snapshot: every key arrives via its INSERT
    val streamReplica = EnvelopeApply.applyChanges(emptySnapshot,
      EnvelopeApply.latestChanges(spark.read.parquet(emitDir), schema), schema)
    val expected = Tables(spark, sfDir, "orders")
      .select($"o_orderkey",
        when($"o_orderkey" % 5 === 0, lit("U")).otherwise($"o_orderstatus")
          .as("o_orderstatus"))
    val streamDiff = streamReplica.exceptAll(expected).count() +
      expected.exceptAll(streamReplica).count()
    val verifySec = (System.nanoTime() - tv0) / 1e9

    // ---- 3b. batch-side ride-along (untimed): replica ≡ the script's arithmetic,
    // recomputed over the SAME feed through the BATCH assembler — the two diffs
    // together pin both engines against the independent expectation (batch/stream
    // apply parity is also pinned by the cdc_apply_merge gates and the 300-scenario
    // property spec).
    // SKIPPABLE past the batch assembler's own measured knee (r20, VERDICT r19 #6):
    // the batch shape IS the gated-fatal cdc_txn_reconstruct plan (feed-sized xid
    // shuffle, disk-watchdog-killed at 150M orders in the r17 probe, ScaleGuard knee
    // 50M) — an sf100 ladder run must not die in its own untimed verification. The
    // streamed-path except-both-ways check (3a) stays on unconditionally; the skip is
    // recorded in the JSON as diff = -1, never silently folded into a passing 0.
    val skipBatchCheck = sys.env.get("SPARK_GRAFT_SKIP_BATCH_CHECK").contains("1")
    val diff = if (skipBatchCheck) -1L else {
      val batchEnv = CdcPipeline.stream(
        graft.sources.RedoEventSource.fromKafka(spark.read.parquet(feedDir)),
        cfg, streaming = false)
      val replica = EnvelopeApply(emptySnapshot, batchEnv, schema)
      replica.exceptAll(expected).count() + expected.exceptAll(replica).count()
    }

    println(s"""{"harness":"cdc_throughput","state_store":"$stateStore",""" +
      s""""sf_dir":"$sfDir","frames":$frames,""" +
      s""""waves":${nBatches.get()},"feed_build_sec":${fmt(feedSec)},""" +
      s""""stream_sec":${fmt(streamSec)},""" +
      s""""events_per_sec":${fmt(frames / streamSec)},""" +
      s""""emit_rows":${emitRows.get()},"state_peak_rows":$peakRows,""" +
      s""""state_final_rows":$finalRows,"state_peak_mb":${fmt(peakMem / 1e6)},""" +
      s""""replica_diff_rows":$diff,"stream_replica_diff_rows":$streamDiff,""" +
      s""""verify_stream_sec":${fmt(verifySec)}}""")
    spark.stop()
  }
}
