package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * The CDC dataflow as pure Column algebra: the reference's per-record filter/route/envelope
 * stages (Layer A) as composable predicates over a redo-event DataFrame with columns
 * `scn, commit_scn, row_id, xid, operation, timestamp, seg_owner, table_name, sql_redo,
 * info, ...`.
 *
 * Each stage cites its reference behavior; all are narrow codegen'd expressions that
 * Catalyst pushes into the scan (predicate pushdown replaces the reference's hand-built
 * WHERE fragment, OracleSourceConnectorUtils2.java:132-154).
 */
object CdcPipeline {

  /** A8 marker phrase (Task:275, the reference's single TEMPORARY_TABLE constant):
    * ONE definition feeding both the Column filter ([[tempTableFilter]]) and the
    * head-fragment RedoEvent predicate in [[stream]], because two string literals can
    * drift apart. */
  val TempTablePhrase = "temporary tables"

  /** A8 (Task:275): drop records whose redo mentions temporary tables. */
  def tempTableFilter(sqlRedo: Column = col("sql_redo")): Column =
    !sqlRedo.contains(TempTablePhrase)

  /** A9 (Task:276): drop internal DDL (INFO starts with 'INTERNAL DDL'). */
  def internalDdlFilter(operation: Column = col("operation"), info: Column = col("info")): Column =
    !(operation === RedoEvent.Ddl && info.startsWith("INTERNAL DDL"))

  /** A10 (Task:296-300): keep only configured operation types. */
  def operationFilter(types: Seq[String], operation: Column = col("operation")): Column =
    operation.isin(types: _*)

  /** A15 (Utils:374-376): topic-safe table names only. */
  def validTableName(tableName: Column = col("table_name")): Column =
    tableName.rlike("^[\\w.-]+$")

  /**
   * A11 (Utils:132-154): whitelist of (owner, table) pairs; table "*" is a per-owner
   * wildcard. Folds to a single boolean Column that Catalyst pushes to the source scan.
   */
  def whitelist(patterns: Seq[(String, String)],
                owner: Column = col("seg_owner"),
                table: Column = col("table_name")): Column =
    patterns.map {
      case (o, "*") => owner === o
      case (o, t)   => owner === o && table === t
    }.reduceOption(_ || _).getOrElse(lit(true))

  /** A11 blacklist variant: whitelist negated (Utils:147-151). */
  def blacklist(patterns: Seq[(String, String)],
                owner: Column = col("seg_owner"),
                table: Column = col("table_name")): Column = !whitelist(patterns, owner, table)

  /**
   * A22 (Task:286, Thread:273-276, Schema:66): per-event target topic
   * `{alias}.{owner}.{table}` uppercased; DDL routes to `{alias}.{owner}._GENERIC_DDL`.
   */
  def topic(dbAlias: String): Column =
    upper(concat_ws(".", lit(dbAlias), col("seg_owner"),
      when(col("operation") === RedoEvent.Ddl, lit("_GENERIC_DDL")).otherwise(col("table_name"))))

  /**
   * A18 (Utils:361-434): envelope projection over a frame that already has a `parsed`
   * struct column (from [[ParseRedo.parse]]). Null rules per operation (Utils:389-415):
   * INSERT -> data only; UPDATE -> both (data = before overlaid with SET, done by the
   * parser); DELETE -> before only; DDL and unparsable -> both null.
   */
  /**
   * @param extra          passthrough columns appended to the envelope (commit metadata etc.)
   * @param heartbeatTable "OWNER.TABLE" whose rows route to `{topic}.HEARTBEAT` instead of
   *                       the table topic (A21, Thread:334-338's `topic + connectorName`) —
   *                       consume them with [[heartbeats]].
   */
  def envelope(df: DataFrame, dbAlias: String, extra: Seq[Column] = Nil,
               heartbeatTable: Option[String] = None): DataFrame = {
    val op = col("operation")
    val baseTopic = topic(dbAlias)
    val routedTopic = heartbeatTable match {
      case Some(hb) =>
        val Array(o, t) = hb.split("\\.", 2)
        when(col("seg_owner") === o && col("table_name") === t,
          concat(baseTopic, lit(".HEARTBEAT"))).otherwise(baseTopic)
      case None => baseTopic
    }
    df.select(Seq(
      col("scn"), col("xid"), col("row_id"), col("seg_owner"), col("table_name"),
      col("operation"), col("sql_redo"),
      when(op.isin(RedoEvent.Insert, RedoEvent.Update) && col("parsed.ok"), col("parsed.data"))
        .as("data"),
      when(op.isin(RedoEvent.Update, RedoEvent.Delete) && col("parsed.ok"), col("parsed.before"))
        .as("before"),
      routedTopic.as("topic")) ++ extra: _*)
  }

  /**
   * The per-table typed output view (SURVEY §1.2 "Spark mapping decision"): the generic
   * envelope stream stays schema-dynamic (`data`/`before` as map<string,string>); at the
   * table boundary the catalog drives a late cast projection into the table's real types —
   * the reference's `setValueV2` per-table Struct (Task:395-407) as a Column plan.
   */
  def typedTableView(enveloped: DataFrame, sfDir: String, owner: String, table: String): DataFrame = {
    val schema = Catalog.schemaOf(enveloped.sparkSession, sfDir, table.toLowerCase(java.util.Locale.ROOT))
    enveloped
      .filter(col("seg_owner") === owner && col("table_name") === table)
      .select(Seq(col("scn"), col("operation")) ++ Catalog.castProjection(col("data"), schema): _*)
  }

  /**
   * A25 — dead-letter extraction: DML whose redo failed to parse. The reference logs and
   * skips (Thread:305-308); routing to a DLQ frame makes the loss observable.
   */
  def deadLetters(withParsed: DataFrame): DataFrame =
    withParsed
      .filter(col("operation").isin(RedoEvent.DmlOps.toSeq: _*) && !col("parsed.ok"))
      .select(col("scn"), col("xid"), col("seg_owner"), col("table_name"), col("sql_redo"))

  /**
   * A21 — heartbeat branch (Thread:198-211,334-338): events on the configured
   * "OWNER.TABLE" become a latency metric stream with HEARTBEAT_TIME pulled from the
   * after-image, instead of flowing to the table topic.
   */
  def heartbeats(enveloped: DataFrame, heartbeatTable: String): DataFrame = {
    val Array(owner, table) = heartbeatTable.split("\\.", 2)
    enveloped
      .filter(col("seg_owner") === owner && col("table_name") === table)
      .select(col("scn"), col("row_id"),
        col("data").getItem("HEARTBEAT_TIME").as("heartbeat_time"))
  }

  /**
   * A4 — sequence-gap detection over the redo-log sequence number: a jump of more than one
   * between consecutive distinct RBASQN values means log records were missed and the
   * upstream miner must re-discover files (Thread:144-147). The sequence-number domain is
   * tiny (one value per redo log file), so the single-partition window is deliberate: run
   * it on the distinct sequence set, not the event stream.
   */
  def sequenceGaps(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("rbasqn"))
    events.select(col("rbasqn")).distinct()
      .withColumn("prev", lag(col("rbasqn"), 1).over(w))
      .filter(col("prev").isNotNull && col("rbasqn") - col("prev") > 1)
      .select(col("prev").as("last_seen"), col("rbasqn").as("next_seen"),
        (col("rbasqn") - col("prev") - 1).as("missing_cnt"))
  }

  /**
   * The full dataflow, batch or streaming (SURVEY §7 `CdcPipeline.scala` wiring):
   * control ops pass straight to assembly; DML/DDL go through the A8/A9/A15/A11/A10
   * filter stack (per-fragment, matching the reference's filter-before-CSF order,
   * Task:275-281); transactions assemble (ONE shuffle on xid) with CSF fragment fusion
   * running inside the same keyed state — in streaming mode an open fragment run is
   * carried across micro-batches in the transaction buffer, so a statement split at a
   * batch boundary still fuses ([[TxnAssembler.assembleStreaming]]); committed rows parse
   * via the native `parse_redo` expression and project into the routed envelope.
   */
  def stream(events: Dataset[RedoEvent], config: CdcConfig, streaming: Boolean = true,
             droppedTxns: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val isControl = col("operation").isin(RedoEvent.Start, RedoEvent.Commit, RedoEvent.Rollback)
    // metadata-based filters only here, per fragment (owner/table/operation ride the event,
    // so they are safe pre-fusion); the CONTENT-based temp-table filter runs inside the
    // assembler's fuse as a HEAD-FRAGMENT check — the reference's exact placement (first
    // cursor row, before the CSF concat loop: OracleSourceTask2.java:275,
    // LogMinerThread2.java:263). Head-anchored, it cannot drop a committed DML whose DATA
    // values contain the phrase (a check on the fused text would), and run-scoped it
    // cannot corrupt a fuse (a per-fragment filter could drop a middle fragment and
    // splice the run's neighbours together).
    val keep = isControl || (
      internalDdlFilter(col("operation"), col("info")) &&
        validTableName(col("tableName")) &&
        whitelist(config.whitelist, col("segOwner"), col("tableName")) &&
        (if (config.blacklist.nonEmpty) blacklist(config.blacklist, col("segOwner"), col("tableName")) else lit(true)))
    val filtered = events.filter(keep)
    // A8: temp-table skip on the head fragment (control rows never carry the phrase)
    val headKeep: RedoEvent => Boolean = e => !e.sqlRedo.contains(TempTablePhrase)
    val committed =
      if (streaming)
        TxnAssembler.assembleStreaming(filtered, config.abandonedTxnTimeout,
          config.maxBufferedRows, droppedTxns, headKeep)
      else TxnAssembler.assembleBatch(filtered, config.maxBufferedRows, headKeep, droppedTxns)
    // A10 — dml.types runs POST-assembly on committed rows, the reference's placement
    // (Task:296-300 filters records that are already committed data; the assembly thread
    // buffers all of INSERT|UPDATE|DELETE|DDL, Thread:247-249). Pre-assembly it would
    // break partial-rollback pair elimination: excluding DELETE would drop an INSERT's
    // compensating rollback DELETE and emit the rolled-back INSERT as a phantom row.
    val opKept = committed.filter(operationFilter(config.dmlTypes, col("operation")))
    val renamed = opKept.toDF()
      .withColumnRenamed("segOwner", "seg_owner")
      .withColumnRenamed("tableName", "table_name")
      .withColumnRenamed("rowId", "row_id")
      .withColumnRenamed("sqlRedo", "sql_redo")
      .withColumnRenamed("commitScn", "commit_scn")
    val withParsed =
      if (config.parseDmlData)
        renamed.withColumn("parsed", ParseRedo.parse(col("sql_redo"), config.unescapeStrings))
      else
        renamed.withColumn("parsed",
          struct(lit("").as("operation"), lit("").as("owner"), lit("").as("table"),
            map().cast("map<string,string>").as("data"),
            map().cast("map<string,string>").as("before"), lit(false).as("ok")))
    envelope(withParsed, config.dbAlias,
      extra = Seq(col("commit_scn"), col("timestamp"),
        col("commitTimestamp").as("commit_timestamp"), col("seq")),
      heartbeatTable = config.heartbeatTable)
  }
}
