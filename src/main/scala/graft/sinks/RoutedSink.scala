package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.cdc.Catalog

/**
 * A22 (sink side) — routed delivery of the enveloped change stream. The reference hands
 * each record to Kafka Connect with a per-table topic (OracleSourceTask2.java:300-304);
 * here the `topic` column drives either the Kafka sink directly (it honors a `topic`
 * column natively) or a parquet lake layout partitioned by topic.
 *
 * A14 wiring note: DDL handling happens per micro-batch on the driver BEFORE the typed
 * casts of that batch are planned — matching the reference's evict-then-reload-on-next-DML
 * order (OracleSourceConnectorUtils2.java:368-378).
 */
object RoutedSink {

  /** One batch to a topic-partitioned parquet lake (append). */
  def writeBatch(enveloped: DataFrame, baseDir: String): Unit =
    enveloped.write.mode("append").partitionBy("topic").parquet(baseDir)

  /**
   * Cross-batch IDEMPOTENT delivery: the batch lands under its own `batch_id=<id>`
   * partition with dynamic partition overwrite, so a replayed micro-batch (restart between
   * sink write and checkpoint commit) REWRITES its partition instead of appending a second
   * copy — the standard Spark exactly-once foreachBatch recipe (batchId is stable across
   * replays because it is derived from the checkpointed offset range). Readers treat
   * `batch_id` as a physical layout column and prune or drop it.
   */
  def writeBatchIdempotent(enveloped: DataFrame, baseDir: String, batchId: Long): Unit =
    enveloped
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "topic")
      .parquet(baseDir)

  /**
   * Exactly-once posture (SURVEY §7 hard-part 5): the change identity is
   * `(SCN, ROW_ID, OPERATION, seq)` — the reference's offset triple (Task:413-420) plus the
   * monotonic redo-order key. `seq` matters: Oracle legally emits two independent
   * same-operation changes to one row at one SCN (the case CSF run-splitting preserves), and
   * only `seq` tells them apart, while a REPLAYED record keeps its seq — so the dedup kills
   * redelivery without ever collapsing distinct changes. A replayed micro-batch (restart
   * between sink write and checkpoint commit) can re-deliver rows; dropping duplicates on
   * the identity inside the batch, and MERGEing on it at the lake boundary, makes
   * redelivery harmless. The parquet lake here is append-only, so this dedup covers the
   * within-batch replay; a transactional table format (or Kafka's idempotent producer keyed
   * the same way) carries the cross-batch guarantee.
   */
  def identityCols(df: DataFrame): Seq[String] =
    Seq("scn", "row_id", "operation") ++
      (if (df.columns.contains("seq")) Seq("seq") else Nil)

  def dedupByIdentity(enveloped: DataFrame): DataFrame =
    enveloped.dropDuplicates(identityCols(enveloped))

  /**
   * Lake compaction: [[writeBatchIdempotent]] accretes one
   * `batch_id=<id>` partition per micro-batch — correct for exactly-once, unbounded for a
   * long-lived stream (at 100× that is millions of small partitions and a metadata-bound
   * listing). `compactBatches` folds every `batch_id <= upTo` partition into a compacted
   * base layout partitioned by `topic` only, identity-deduping ACROSS batches on the way
   * (the cross-batch replay case the per-batch overwrite cannot see), then removes the
   * folded partitions. Returns the number of batch partitions folded.
   *
   * CONTRACT: run offline relative to the writer (the streaming query keeps writing new
   * `batch_id` partitions above `upTo`; readers union `baseDir/batch_id=*` with
   * `compactedDir`). The write-then-delete pair is NOT crash-atomic, but a re-run IS the
   * recovery: the fold ANTI-JOINS the compacted base's identity keys before appending, so
   * a failure between the append and the deletes (folded rows present twice) resolves on
   * the next run instead of duplicating again — and a row replayed across COMPACTION runs
   * (batch 3 in run 1, batch 12 in run 2) is deduped by the same anti-join. The identity
   * probe reads only the identity columns of the base (column-pruned scan); avoiding even
   * that per-compaction scan is what a transactional table format's OPTIMIZE buys — the
   * intended production target, with this helper as the lake-layout fallback.
   */
  def compactBatches(spark: org.apache.spark.sql.SparkSession, baseDir: String,
                     compactedDir: String, upTo: Long): Int = {
    val basePath = new org.apache.hadoop.fs.Path(baseDir)
    val fs = basePath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(basePath)) return 0
    val folded = fs.listStatus(basePath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      .filter(_.getPath.getName.stripPrefix("batch_id=").toLong <= upTo)
    if (folded.isEmpty) return 0
    val df = spark.read
      .option("basePath", baseDir) // keep batch_id/topic as partition columns
      .parquet(folded.map(_.getPath.toString): _*)
    val fresh = dedupByIdentity(df).drop("batch_id")
    // the SAME identity the sink dedups on — one definition, or the compaction anti-join
    // silently diverges from the exactly-once contract
    val idCols = identityCols(fresh)
    // only a genuinely absent/empty base skips the idempotency probe — a real read
    // failure (corrupt footer, schema drift, FS error) must PROPAGATE, because silently
    // skipping the anti-join would append duplicates the contract says cannot happen
    val compactedPath = new org.apache.hadoop.fs.Path(compactedDir)
    val hasBase = fs.exists(compactedPath) &&
      fs.listStatus(compactedPath).exists(f => !f.getPath.getName.startsWith("_"))
    val out =
      if (hasBase)
        fresh.join(spark.read.parquet(compactedDir).select(idCols.map(col): _*),
          idCols, "left_anti")
      else fresh
    out.write.mode("append").partitionBy("topic").parquet(compactedDir)
    folded.foreach(st => fs.delete(st.getPath, true))
    folded.size
  }

  /**
   * A14 — apply DDL invalidations of one micro-batch: every table named by a DDL event is
   * evicted from the schema catalog so the next DML against it reloads fresh metadata.
   * Returns the invalidated table names (driver-side; DDL cardinality per batch is tiny).
   */
  def applyDdlInvalidations(enveloped: DataFrame, sfDir: String): Seq[String] = {
    val tables = enveloped
      .filter(enveloped("operation") === graft.cdc.RedoEvent.Ddl)
      .select("table_name").distinct().collect()
      .map((r: Row) => r.getString(0)).toSeq
    tables.foreach(t => Catalog.invalidate(sfDir, t.toLowerCase(java.util.Locale.ROOT)))
    tables
  }

  /**
   * Streaming delivery: foreachBatch doing DDL invalidation then the routed write.
   *
   * DELIVERY GUARANTEE (a replayed micro-batch must not duplicate lake rows): with
   * `idempotent = true` (default) the wiring is EXACTLY-ONCE to the lake —
   * [[dedupByIdentity]] removes within-batch redelivery and [[writeBatchIdempotent]]'s
   * batchId-keyed dynamic-overwrite partition makes a replayed micro-batch rewrite, not
   * duplicate, its output. `idempotent = false` keeps the plain append layout (no batch_id
   * column) and is AT-LEAST-ONCE: a restart between the append and the checkpoint commit
   * appends the batch twice, and consumers must tolerate or identity-dedup at read time.
   */
  def start(enveloped: DataFrame, baseDir: String, checkpoint: String, sfDir: String,
            idempotent: Boolean = true): StreamingQuery = {
    val writer: DataStreamWriter[Row] = enveloped.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDdlInvalidations(batch, sfDir)
        val deduped = dedupByIdentity(batch)
        if (idempotent) writeBatchIdempotent(deduped, baseDir, batchId)
        else writeBatch(deduped, baseDir)
      }
    writer.start()
  }
}
