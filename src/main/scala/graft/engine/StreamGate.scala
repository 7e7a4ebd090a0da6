package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/**
 * Harness for ORACLE-GATING a streaming plan: drive it through a MemoryStream in two
 * micro-batches (the cut is what proves state carries across batch boundaries), collect the
 * append-mode output in a memory sink, return it as a batch frame for the hash gate.
 *
 * The state-store instance count is pinned low for the harness: it is fixed at query start
 * from spark.sql.shuffle.partitions, and a wide setting pays per-partition checkpoint-file
 * churn on every micro-batch for a driver-fed stream (restored in the finally; a production
 * stream sizes this to the executor count instead).
 *
 * Plans with stateful operators must use timeouts compatible with processAllAvailable
 * (NoTimeout — a processing-time timeout makes every micro-batch "require another batch",
 * so the no-new-data signal never fires; see TxnAssembler).
 */
object StreamGate {

  /** Split the MemoryStream feed across `n` source partitions instead of the default ONE
    * partition per addData block (r21, VERDICT r20 #5): a single-partition feed serializes
    * the whole pre-shuffle map stage — wire decode, filter stack, redo parse — on one core
    * per micro-batch (measured: 0.9-1.7 s one-task stages inside the pipeline/txn gates at
    * sf0.1 on 32 cores). ONLY for plans whose per-key state logic sorts its group inputs
    * (TxnAssembler sorts by (scn, seq, rowId) per xid per batch): a multi-partition feed
    * interleaves batch rows, so a plan that depends on arrival order (dropDuplicates
    * keeping the first of non-identical rows, foreachBatch collectors labeling by scan
    * order) must keep the default. */
  private def memStream[T](spark: SparkSession, enc: Encoder[T],
                           feedPartitions: Option[Int]): MemoryStream[T] =
    feedPartitions match {
      case Some(n) => MemoryStream[T](spark, n)(enc)
      case None    => MemoryStream[T](enc, spark)
    }

  /** Each element of `batches` is one micro-batch, drained fully before the next is
    * fed, so the watermark observed at batch k+1's start is exactly batch k's high mark —
    * what a state-eviction gate needs to be deterministic. */
  def runBatches[T](spark: SparkSession, enc: Encoder[T], sink: String,
                    batches: Seq[Seq[T]],
                    feedPartitions: Option[Int] = None)
                   (plan: Dataset[T] => DataFrame): DataFrame = {
    val input = memStream(spark, enc, feedPartitions)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val query =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        plan(input.toDS()).writeStream
          .format("memory").queryName(sink).outputMode("append").start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    try {
      batches.foreach { b =>
        input.addData(b)
        query.processAllAvailable()
      }
    } finally query.stop()
    spark.table(sink)
  }

  /**
   * foreachBatch variant for plans that maintain EXTERNAL state between micro-batches
   * (the production index-maintenance shape — e.g. the winnow admission gate folding
   * admitted docs into its rare-fingerprint index): `onBatch` receives each drained
   * micro-batch plus its ordinal and returns (output frame, post-collect hook). The
   * harness collects the output IMMEDIATELY — while every artifact the output's plan
   * reads is still alive — and only then runs the hook, which is where the caller
   * folds/swaps/releases its external state (releasing before the collect would strand
   * a lineage-truncated checkpoint the output still reads; see Bench's sweep
   * invariant). Output rows buffer driver-side like [[runBatchesWithRestarts]] —
   * harness-inherent, exactly as bounded as the MemoryStream feed itself.
   */
  def runBatchesForeach[T](spark: SparkSession, enc: Encoder[T],
                           batches: Seq[Seq[T]],
                           // per-wave serving-latency probe (r16, VERDICT r15 #5):
                           // called after each wave fully drains with (waveIdx,
                           // seconds from addData to drained) — submit-to-answer
                           // latency, the number a serving tier is judged on
                           onWaveDone: (Long, Double) => Unit = (_, _) => ())
                          (onBatch: (Dataset[T], Long) => (DataFrame, () => Unit)): DataFrame = {
    import scala.jdk.CollectionConverters._
    val input = MemoryStream[T](enc, spark)
    val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    @volatile var schema: org.apache.spark.sql.types.StructType = null
    // the ordinal handed to onBatch is the DRIVER-side submitted-wave index, not Spark's
    // batch id: an empty wave fires no micro-batch, so Spark's ordinals COMPACT — a
    // caller labeling output by ordinal (dedup_winnow_admit_stream_incr's `wave` column)
    // would silently mislabel every later wave relative to its fixed-wave oracle
    // (ADVICE r14). processAllAvailable() drains each wave before the next is submitted,
    // so the volatile is stable for the duration of its wave's foreachBatch call.
    @volatile var waveIdx = 0L
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val query =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        input.toDS().writeStream
          .outputMode("append")
          .foreachBatch { (df: Dataset[T], _: Long) =>
            val (out, after) = onBatch(df, waveIdx)
            schema = out.schema
            val batchRows = out.collect()
            rows.synchronized { rows ++= batchRows }
            after()
          }
          .start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        waveIdx = i.toLong
        val t0 = System.nanoTime()
        input.addData(b)
        query.processAllAvailable()
        onWaveDone(i.toLong, (System.nanoTime() - t0) / 1e9)
      }
    } finally query.stop()
    require(schema != null,
      "runBatchesForeach: no micro-batch ever fired (every submitted wave was empty)")
    spark.createDataFrame(rows.synchronized(rows.toList).asJava, schema)
  }

  /**
   * STOP/DRAIN/RESTART variant (A26 lifecycle, reference OracleSourceTask2.java:372-393
   * cancel-cursor + END_LOGMNR with the 20 s drain at Task:228): batch k is processed by
   * its OWN streaming query — started from the shared file checkpoint, drained
   * (`processAllAvailable`, the harness analogue of the reference's drain window), then
   * gracefully `stop()`ped — so every batch boundary is also a full stop → restart
   * boundary. Stateful operators (`flatMapGroupsWithState` transaction/CSF state) must
   * come back from the checkpointed state store, not from memory: a transaction whose
   * START arrived before the stop and whose COMMIT arrives after it only assembles if
   * restart recovery is correct.
   *
   * The memory sink refuses checkpoint recovery in append mode, so output goes through
   * `foreachBatch` into a driver-side buffer (harness-inherent, like the MemoryStream
   * feed itself — exactly-once across restarts because foreachBatch replays only
   * uncommitted batches). Each restart re-feeds blocks 0..k to a FRESH MemoryStream so
   * the new source instance's ordinal offsets line up with the checkpoint's committed
   * offset — only block k is uncommitted and gets processed.
   */
  def runBatchesWithRestarts[T](spark: SparkSession, enc: Encoder[T], batches: Seq[Seq[T]],
                                feedPartitions: Option[Int] = None)
                               (plan: Dataset[T] => DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-restart-ckpt")
    val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var schema: org.apache.spark.sql.types.StructType = null
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      batches.indices.foreach { i =>
        val input = memStream(spark, enc, feedPartitions)
        (0 to i).foreach(j => input.addData(batches(j)))
        val out = plan(input.toDS())
        schema = out.schema
        val query =
          try {
            // state-store instance count is fixed at FIRST start and checkpointed; the
            // restarts inherit it, so the pin only matters for run 0 (see class doc)
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            out.writeStream
              .outputMode("append")
              .option("checkpointLocation", ckpt.toString)
              .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], _: Long) =>
                val batchRows = df.collect()
                rows.synchronized { rows ++= batchRows }
                ()
              }
              .start()
          } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        try query.processAllAvailable()
        finally query.stop() // graceful stop: drained, checkpoint consistent
      }
      spark.createDataFrame(rows.synchronized(rows.toList).asJava, schema)
    } finally {
      // best-effort temp-checkpoint cleanup; the JVM temp dir is the backstop
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.list(p).iterator().asScala.foreach(rm)
        java.nio.file.Files.deleteIfExists(p); ()
      }
      try rm(ckpt) catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Two-input variant for stream-stream operators: each side gets its own MemoryStream
    * and its two batches are interleaved (left1, right1, drain, left2, right2, drain) so
    * both sides' watermarks advance together. */
  def runTwoInputs[L, R](spark: SparkSession, encL: Encoder[L], encR: Encoder[R],
                         sink: String,
                         left1: Seq[L], right1: Seq[R], left2: Seq[L], right2: Seq[R],
                         statePartitions: Int = 8)
                        (plan: (Dataset[L], Dataset[R]) => DataFrame): DataFrame = {
    val leftIn = MemoryStream[L](encL, spark)
    val rightIn = MemoryStream[R](encR, spark)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val query =
      try {
        // stream-stream joins open FOUR state stores per side per partition; a driver-fed
        // harness wants the minimum instance count, a production job sizes to executors
        spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
        plan(leftIn.toDS(), rightIn.toDS()).writeStream
          .format("memory").queryName(sink).outputMode("append").start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    try {
      leftIn.addData(left1)
      rightIn.addData(right1)
      query.processAllAvailable()
      leftIn.addData(left2)
      rightIn.addData(right2)
      query.processAllAvailable()
    } finally query.stop()
    spark.table(sink)
  }
}
