package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.RedoEvent

/**
 * A1/A2 — the source boundary. The reference opens a LogMiner JDBC cursor
 * (OracleSourceTask2.java:207-214, LogMinerThread2.java:107-141); in the Spark-native
 * design the miner publishes redo records to Kafka and this adapter turns the Kafka frame
 * (`key binary, value binary, topic, partition, offset`) into `Dataset[RedoEvent]`:
 *
 *   spark.readStream.format("kafka")... .transform(RedoEventSource.fromKafka(_))
 *
 * The Kafka partition offset becomes the monotonic `seq` ordering key (the RS_ID/SSN
 * analogue — per-partition order is exactly what Kafka guarantees when the producer keys
 * by XID). Parquet/MemoryStream sources share the same decoded shape for tests and
 * backfills. No custom MicroBatchStream is needed — the built-in sources already provide
 * offset tracking, restart, and admission control (maxOffsetsPerTrigger ~ db.fetch.size).
 */
object RedoEventSource {

  /** JSON wire schema of one redo record (timestamps as epoch millis). */
  val jsonSchema: StructType = StructType(Seq(
    StructField("scn", LongType), StructField("commitScn", LongType),
    StructField("xid", StringType), StructField("rowId", StringType),
    StructField("operation", StringType),
    StructField("timestampMs", LongType), StructField("commitTimestampMs", LongType),
    StructField("segOwner", StringType), StructField("tableName", StringType),
    StructField("sqlRedo", StringType), StructField("csf", BooleanType),
    StructField("rollback", BooleanType), StructField("info", StringType),
    StructField("rbasqn", LongType)))

  /**
   * Decode a Kafka-shaped frame (value = JSON) into the event Dataset.
   *
   * Corrupt-record posture (A25): `from_json` yields null structs/fields for malformed
   * payloads, and `RedoEvent`'s primitive fields would make the encoder throw — wedging
   * the stream on one bad record forever (checkpoint replays the same offset). So records
   * missing the identity fields (scn/xid/operation) are DROPPED here (route `fromKafka`'s
   * input through a raw-DLQ first if every byte must be accounted for), and every other
   * field falls back to a safe default.
   */
  def fromKafka(kafka: DataFrame): Dataset[RedoEvent] = {
    val spark = kafka.sparkSession
    import spark.implicits._
    kafka
      .select(from_json(col("value").cast("string"), jsonSchema).as("e"), col("offset"))
      .filter(col("e").isNotNull && col("e.scn").isNotNull &&
        col("e.xid").isNotNull && col("e.operation").isNotNull)
      .select(
        col("e.scn").as("scn"),
        coalesce(col("e.commitScn"), lit(0L)).as("commitScn"),
        col("e.xid").as("xid"),
        coalesce(col("e.rowId"), lit("")).as("rowId"),
        col("e.operation").as("operation"),
        coalesce(timestamp_millis(col("e.timestampMs")), timestamp_millis(lit(0L))).as("timestamp"),
        timestamp_millis(col("e.commitTimestampMs")).as("commitTimestamp"),
        coalesce(col("e.segOwner"), lit("")).as("segOwner"),
        coalesce(col("e.tableName"), lit("")).as("tableName"),
        coalesce(col("e.sqlRedo"), lit("")).as("sqlRedo"),
        coalesce(col("e.csf"), lit(false)).as("csf"),
        coalesce(col("e.rollback"), lit(false)).as("rollback"),
        coalesce(col("e.info"), lit("")).as("info"),
        coalesce(col("e.rbasqn"), lit(0L)).as("rbasqn"),
        col("offset").as("seq"))
      .as[RedoEvent]
  }

  /** Render events back to the Kafka wire shape (for tests and the producer side). */
  def toKafkaValue(events: Dataset[RedoEvent]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF().select(
      col("xid").cast("binary").as("key"),
      to_json(struct(
        col("scn"), col("commitScn"), col("xid"), col("rowId"), col("operation"),
        unix_millis(col("timestamp")).as("timestampMs"),
        unix_millis(col("commitTimestamp")).as("commitTimestampMs"),
        col("segOwner"), col("tableName"), col("sqlRedo"), col("csf"),
        col("rollback"), col("info"), col("rbasqn"))).cast("binary").as("value"),
      col("seq").as("offset"))
  }

  /**
   * A6 — boundary-record skip: after an offset-based resume the records up to and
   * including the stored position must be dropped (OracleSourceTask2.java:258-264).
   *
   * The reference implements this as skip-until-EXACT-match over the replayed LogMiner
   * cursor (`skipRecord` flips false when (scn, commitScn, rowId) all equal the stored
   * triple) — correct because LogMiner replays rows in a deterministic order. Over a
   * replay-deterministic stream with a monotonic order key, skip-until-match is exactly
   * the predicate `seq > boundarySeq`, so the production resume path uses `seq` (the
   * Kafka partition offset, our RS_ID/SSN analogue) and stays a pure pushed-down filter.
   */
  def afterSeq(seq: Long): Column = col("seq") > seq

  /**
   * Triple-based parity fallback for stores that kept only the reference's
   * `(scn, commitScn, rowId)` offset map (Task:98-104) and lost the order key.
   *
   * CAVEAT: this compares rowId LEXICOGRAPHICALLY, which is only equivalent to the
   * reference's skip-until-match when delivery order within one (scn, commitScn) is
   * rowId order. Oracle does not guarantee that (many changes can share an SCN; order
   * within it is redo order, not rowId order), so at the boundary SCN this can drop a
   * not-yet-delivered record with a smaller rowId. Prefer [[afterSeq]] whenever the
   * stored offset carries `seq` — [[resolveResume]] does exactly that.
   */
  def afterOffset(scn: Long, commitScn: Long, rowId: String): Column =
    (col("scn") > scn) ||
      (col("scn") === scn && col("commitScn") > commitScn) ||
      (col("scn") === scn && col("commitScn") === commitScn && col("rowId") > rowId)

  /**
   * A5 — the resolved starting posture: mine from `scn`, and when `skipBoundary` drop
   * records up to and including the exact stored `(scn, commitScn, rowId)` triple (the
   * inclusive-restart dedup); a fresh/overridden start reads `scn` itself.
   *
   * BOUNDARY CONVENTION (a restart may re-deliver but must never lose): for a configured
   * `start.scn` / fresh start the default here is INCLUSIVE (`scn >= position`) — "start at
   * SCN S" reading S itself is the least-surprising contract and can only re-deliver, never
   * lose. The reference's CM-desupport mining query reads strictly after the position
   * (`WHERE scn > ?`, OracleConnectorSQL2.java:6), so exact parity with that path is
   * available as `inclusive = false`.
   */
  final case class ResumePosition(scn: Long, commitScn: Long, rowId: String,
                                  skipBoundary: Boolean, inclusive: Boolean = true,
                                  seq: Option[Long] = None) {
    /** The stream filter this posture compiles to (pushed into the scan by Catalyst).
      * A stored `seq` wins over the triple: it is the only loss-free skip when several
      * records share the boundary SCN (see [[afterSeq]] vs [[afterOffset]]). */
    def predicate: Column =
      if (skipBoundary) seq.map(afterSeq).getOrElse(afterOffset(scn, commitScn, rowId))
      else if (inclusive) col("scn") >= scn
      else col("scn") > scn
  }

  /**
   * A5 — resume resolution, the reference's exact override ladder
   * (OracleSourceTask2.java:137-192):
   *   1. stored offset (Connect offset storage / our checkpoint) resumes with the
   *      boundary-record skip;
   *   2. a configured `start.scn` OVERRIDES the stored offset and reads from that SCN
   *      inclusive (Task:168-173, skipRecord=false);
   *   3. `reset.offset` beats both and zeroes the position (Task:175-180);
   *   4. a zero position falls back to the current database SCN (Task:182-192 via B5
   *      `MIN(current_scn)`) — `currentScn` is by-name so the tip is only computed when
   *      actually needed.
   */
  def resolveResume(stored: Option[(Long, Long, String)],
                    startScn: Option[Long],
                    resetOffset: Boolean,
                    currentScn: => Long,
                    storedSeq: Option[Long] = None): ResumePosition =
    if (resetOffset) ResumePosition(currentScn, 0L, "", skipBoundary = false)
    else startScn match {
      case Some(s) => ResumePosition(s, 0L, "", skipBoundary = false)
      case None => stored match {
        case Some((s, c, r)) => ResumePosition(s, c, r, skipBoundary = true, seq = storedSeq)
        case None            => ResumePosition(currentScn, 0L, "", skipBoundary = false)
      }
    }
}
