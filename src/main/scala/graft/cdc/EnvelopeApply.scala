package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Envelope-apply (MERGE/upsert): replay a CDC envelope stream onto a table snapshot,
 * producing the table's final state — the consumer-side last mile the reference's
 * dictionary PK flags exist for (OracleConnectorSQL2.java:13 CTEs dcc/duq;
 * models/Column.java:19-20): without the key there is no way to apply an UPDATE/DELETE
 * to a replica. Envelope null rules per operation are the reference's
 * (Utils:389-415): INSERT/UPDATE carry `data`, DELETE carries only `before`.
 *
 * Two appliers share one MERGE stage ([[applyChanges]]): the batch [[apply]] and the
 * micro-batch [[applyStreaming]] (replayed through [[latestChanges]]). The batch plan is
 * ONE scan and ONE exchange (the snapshot join reuses the aggregation's partitioning),
 * with per-key aggregation state bounded by the COLUMN COUNT via the custom
 * [[graft.functions.EnvelopeFold]] TypedImperativeAggregate and map-side partial
 * aggregation. No window over the whole stream, no driver-side state in either path.
 */
object EnvelopeApply {

  /** PK extraction from the envelope payload: the key lives in `data` for INSERT/UPDATE
    * and only in `before` for DELETE; payload keys are the redo statement's UPPERCASE
    * identifiers. ONE definition — the batch and streaming appliers must extract
    * identically or they silently diverge on the same envelope. */
  private def rawPkValue(p: String): Column = {
    val k = p.toUpperCase(java.util.Locale.ROOT)
    coalesce(col("data").getItem(k), col("before").getItem(k))
  }

  /**
   * Batch apply: groups the envelope on the PK and folds each key's events with
   * `envelope_fold` — a [[graft.functions.EnvelopeFold]]
   * [[org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate]]
   * maintaining (last op, INSERT/DELETE boundary, per-COLUMN winners) imperatively.
   * INSERT replaces the row image, DELETE tombstones, any other operation overlays its
   * payload by key presence, in `(commit_scn, scn, seq)` order. The shuffle carries at
   * most one winner per (key, column), not the change history, and the maxima are
   * order-insensitive, so no per-key sort exists anywhere in the plan.
   *
   * @param snapshot  current table state, columns = `schema` (keys unique)
   * @param enveloped [[CdcPipeline.envelope]] output for ONE table, with `commit_scn`
   *                  and `seq` passthrough columns (ordering is `(commit_scn, scn, seq)`,
   *                  the reference's commit-ordered emission, LogMinerThread2.java:158-298)
   * @param schema    table schema carrying pk flags ([[Catalog.withKeyMetadata]])
   */
  def apply(snapshot: DataFrame, enveloped: DataFrame, schema: StructType): DataFrame = {
    val pk = Catalog.effectiveKeys(schema)
    require(pk.nonEmpty, "schema carries no pk/uq key metadata — see Catalog.withKeyMetadata")
    // register on the session that will ANALYZE this plan: Dataset ops
    // analyze against their OWN session, and the agg below is built on `enveloped` —
    // snapshot's session only analyzes the final join, which needs no function lookup
    graft.functions.EnvelopeFold.ensureRegistered(enveloped.sparkSession)
    // the typed key columns (catalog cast rule), then explicit ordering casts: the
    // aggregate's type gate is exact (bigint ordering columns), while a JSON/JDBC-sourced
    // envelope may carry int/decimal ordering columns
    val keyCols = pk.map(p => Catalog.castValue(rawPkValue(p), schema(p).dataType).as(p))
    val keyed = enveloped.select(keyCols ++ Seq(
      col("commit_scn").cast("long").as("commit_scn"), col("scn").cast("long").as("scn"),
      col("seq").cast("long").as("seq"), col("operation"), col("data")): _*)
    val changes = keyed.groupBy(pk.map(col): _*).agg(
      call_function("envelope_fold",
        col("commit_scn"), col("scn"), col("seq"), col("operation"), col("data")).as("f"))
    applyChanges(snapshot, changes, schema)
  }

  /**
   * Final MERGE stage shared by the batch fold above and the streaming fold below:
   * snapshot ⟗ changes on the pk — tombstoned keys drop, changed columns overlay the
   * snapshot value, untouched keys pass through, new keys materialize from the fold.
   * `changes` carries the typed pk columns plus `f: struct<deleted: boolean,
   * m: map<string,string>, replaced: boolean>`, one row per key.
   *
   * Per non-pk column, key-presence decides (NOT coalesce — an explicit null-valued map
   * entry means the column was SET to NULL and must null the replica column): present →
   * the folded value; absent with `replaced` (the key's history contains an INSERT, whose
   * data is the full row image) → NULL; absent otherwise → the snapshot value.
   */
  def applyChanges(snapshot: DataFrame, changes: DataFrame, schema: StructType): DataFrame = {
    val pk = Catalog.effectiveKeys(schema)
    snapshot.as("s").join(changes.as("c"), pk, "full_outer")
      .filter(!coalesce(col("c.f.deleted"), lit(false)))
      .select(schema.fields.toSeq.map { f =>
        if (pk.contains(f.name)) col(f.name)
        else {
          val key = lit(f.name.toUpperCase(java.util.Locale.ROOT))
          when(map_contains_key(col("c.f.m"), key),
              Catalog.castValue(col("c.f.m").getItem(f.name.toUpperCase(java.util.Locale.ROOT)), f.dataType))
            .when(coalesce(col("c.f.replaced"), lit(false)), lit(null).cast(f.dataType))
            .otherwise(col(s"s.${f.name}")).as(f.name)
        }
      }: _*)
  }

  // ---- streaming variant -----------------------------------------------------

  /** Keyed replica state carried across micro-batches: pk values (kept so a tombstone
    * emission still knows its key), the column overlay, the wholesale-replace flag, and
    * the MAX APPLIED version tuple `(vcs, vscn, vseq)` (ADVICE r5: emissions must stay
    * monotonic per key even when a batch delivers an event older than a prior batch's —
    * emitting only THIS batch's last tuple would lose max_by in [[latestChanges]] and the
    * late event's effect would silently vanish from the replica).
    * One row-image per LIVE key — tombstoned keys are evicted (`state.remove`), so state
    * is bounded by the live key count, not by every key ever deleted (ADVICE r4). */
  final case class ReplicaState(pk: Map[String, String], deleted: Boolean,
                                m: Map[String, String], replaced: Boolean,
                                vcs: Long = Long.MinValue, vscn: Long = Long.MinValue,
                                vseq: Long = Long.MinValue, vepoch: Long = 0L)

  /** One per-key emission per micro-batch that touched the key: the key's state AFTER
    * folding that batch's events. The version is the MAX ordering tuple
    * `(commit_scn, scn, seq)` ever applied to the key — max(prior batches, this batch) —
    * so emissions are monotonic per key even under cross-batch out-of-order arrival
    * (ADVICE r5), and survive a delete → state-eviction → re-insert cycle (a per-key
    * counter would restart at 1 and lose to the tombstone in [[latestChanges]]' max_by). */
  final case class ReplicaEmit(key: String, pk: Map[String, String], deleted: Boolean,
                               m: Map[String, String], replaced: Boolean,
                               vcs: Long, vscn: Long, vseq: Long, vepoch: Long)

  /** Internal event shape of [[applyStreaming]] (public: encoder codegen constructs it). */
  final case class ApplyEvent(key: String, pk: Map[String, String], commit_scn: Long,
                              scn: Long, seq: Long, operation: String,
                              data: Map[String, String])

  /**
   * STREAMING envelope-apply — the replica-maintenance consumer as a first-class
   * Structured Streaming operator: `flatMapGroupsWithState` keyed by the pk, folding each
   * micro-batch's (commit_scn, scn, seq)-sorted events into per-key state with the same
   * insert-replaces / update-overlays / delete-tombstones / reinsert-resurrects semantics
   * as the batch fold. State is one row-image per LIVE key (the replica itself, the
   * minimum any keyed applier holds); emissions are append-mode deltas and the latest
   * version per key IS the replica row — see [[latestChanges]].
   *
   * CONTRACT (ADVICE r5): an UPDATE on a key whose tombstone was evicted in an EARLIER
   * micro-batch rebuilds state with `replaced = false`, so columns the update doesn't set
   * read through to the snapshot (the batch fold, which sees the DELETE in the same fold,
   * would null them). This sequence is out of contract by construction: redo DML cannot
   * UPDATE a deleted row — a key is only ever touched again via INSERT (which sets
   * `replaced = true` and restores parity). Distinguishing "evicted tombstone" from
   * "never-seen key" would require retaining every tombstone forever, the exact unbounded
   * state growth eviction exists to prevent; the in-contract path is batch/stream
   * identical (proven by `cdc_apply_merge` vs `cdc_apply_merge_stream`).
   */
  def applyStreaming(enveloped: DataFrame, schema: StructType): Dataset[ReplicaEmit] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = enveloped.sparkSession
    import spark.implicits._
    val pk = Catalog.effectiveKeys(schema)
    require(pk.nonEmpty, "schema carries no pk/uq key metadata — see Catalog.withKeyMetadata")
    val pkVals = pk.map(rawPkValue)
    // NULL-SAFE key encoding: concat_ws SKIPS null components, so a bare concat_ws would
    // collide distinct composite keys ({A:"x", B:null} and {A:null, B:"x"} both -> "x",
    // and every all-null/unparsed key -> "") into ONE keyed state -- diverging from the
    // batch apply, which groups on the typed pk columns and keeps null components
    // distinct. A presence prefix per component keeps arity and nullness in the key
    // (\u0001 = null, \u0002+value = present; \u0000 separates components).
    val keyParts = pkVals.map(v =>
      when(v.isNull, lit("\u0001")).otherwise(concat(lit("\u0002"), v)))
    val events = enveloped.select(
      concat_ws("\u0000", keyParts: _*).as("key"),
      map_from_arrays(
        array(pk.map(p => lit(p.toUpperCase(java.util.Locale.ROOT))): _*), array(pkVals: _*)).as("pk"),
      col("commit_scn"), col("scn"), col("seq"), col("operation"), col("data"))
      .as[ApplyEvent]
    events.groupByKey(_.key)
      .flatMapGroupsWithState[ReplicaState, ReplicaEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, it, state) =>
        val sorted = it.toVector.sortBy(e => (e.commit_scn, e.scn, e.seq))
        var st = state.getOption.getOrElse(
          ReplicaState(sorted.head.pk, deleted = false, Map.empty, replaced = false))
        sorted.foreach { e =>
          val data = Option(e.data).getOrElse(Map.empty[String, String])
          st = e.operation match {
            case RedoEvent.Insert => st.copy(deleted = false, m = data, replaced = true)
            case RedoEvent.Delete => st.copy(deleted = true, m = Map.empty, replaced = true)
            // `++` is key-presence overlay: an explicit null-valued entry (SET col = NULL)
            // replaces the accumulated value — same semantics as the batch fold's
            // map_filter + map_concat (ADVICE r4)
            case _                => st.copy(deleted = false, m = st.m ++ data)
          }
        }
        // emission version = max(version already applied in prior batches, this batch's
        // last event): monotonic per key even if this batch delivered only an event older
        // than a prior batch's (ADVICE r5 — emitting the batch-local tuple would lose
        // max_by in latestChanges and silently drop the late event's effect)
        val last = sorted.last
        val ver = Seq((st.vcs, st.vscn, st.vseq),
          (last.commit_scn, last.scn, last.seq)).max
        // vepoch breaks version TIES deterministically: a batch that delivers only an
        // event OLDER than the max already applied re-emits the max version — without the
        // epoch, latestChanges' max_by would pick between the two equal-version emissions
        // arbitrarily and could drop the late event's absorbed effect. The epoch strictly
        // increases per emission of a state lineage, so the emission that folded MORE
        // events always outranks an equal-version predecessor. (Not needed across an
        // eviction: a re-insert's event version strictly exceeds the tombstone's.)
        st = st.copy(vcs = ver._1, vscn = ver._2, vseq = ver._3, vepoch = st.vepoch + 1)
        // tombstone: emit it (latestChanges must see the delete), then EVICT the key —
        // retaining it would grow state with every key ever deleted. A re-insert starts
        // fresh state and its higher (commit_scn, scn, seq) version outranks the tombstone.
        if (st.deleted) state.remove() else state.update(st)
        Iterator.single(ReplicaEmit(key, st.pk, st.deleted, st.m, st.replaced,
          ver._1, ver._2, ver._3, st.vepoch))
      }
  }

  /** Reduce an emission log to the `changes` shape of [[applyChanges]]: latest version
    * (the event-ordering tuple, struct-ordered) per key, pk values re-typed via the
    * catalog rule. */
  def latestChanges(emitted: DataFrame, schema: StructType): DataFrame = {
    val pk = Catalog.effectiveKeys(schema)
    emitted.groupBy(col("key"))
      .agg(max_by(struct(col("pk"), col("deleted"), col("m"), col("replaced")),
        struct(col("vcs"), col("vscn"), col("vseq"), col("vepoch"))).as("s"))
      .select(pk.map(p =>
        Catalog.castValue(col("s.pk").getItem(p.toUpperCase(java.util.Locale.ROOT)), schema(p).dataType).as(p)) :+
        struct(col("s.deleted").as("deleted"), col("s.m").as("m"),
          col("s.replaced").as("replaced")).as("f"): _*)
  }
}
