package graft.cdc

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Transaction assembly: buffer DML per transaction id, emit the buffer stamped with commit
 * metadata on COMMIT, discard it on ROLLBACK, eliminate partial-rollback pairs.
 *
 * Mirrors the reference's per-XID state machine (LogMinerThread2.java:158-298,
 * models/Transaction.java:6-87):
 *   - START           -> open a buffer (Thread:241-245)
 *   - INSERT/UPDATE/DELETE -> append; orphan DML (no START seen) opens a buffer implicitly
 *                        (Thread:292-297); track `containsRollback` (Thread:250,286)
 *   - COMMIT          -> rollback-pair elimination (Thread:163-185), stamp commitScn +
 *                        commitTimestamp on every row (Thread:186-192), emit, drop state
 *   - ROLLBACK        -> drop state, emit nothing (Thread:234-239)
 *
 * Deliberate deviation from the reference: open transactions never expire there
 * (`trnCollection` grows unboundedly). At 100 TB scale that is a state leak, so the streaming
 * wrappers install a [[GroupStateTimeout]] (documented in SURVEY.md §7 hard-part 2):
 * [[assembleStreaming]] uses a wall-clock (processing-time) timeout and DROPS the buffer;
 * [[assembleStreamingEvicting]] uses the deterministic watermark clock (event time) and
 * EMITS the loss as an [[TxnAssembler.AbandonedTxn]] DLQ record (oracle gate
 * `cdc_txn_timeout`).
 */
object TxnAssembler {

  /** Keyed state: ordered buffer of uncommitted DML for one xid.
    * `n` tracks the buffered count (List.size is O(n)); `overflowed` is set once the
    * [[CdcConfig.maxBufferedRows]] cap is hit — further rows are NOT retained (bounded
    * executor memory at 100 TB; the reference buffers unboundedly, Thread:81) and the
    * whole transaction is dropped at COMMIT instead of emitting a silently-truncated one.
    * `frags` carries an open CSF fragment run (A7) across micro-batches: a statement split
    * at a batch boundary fuses when its terminator arrives, instead of flowing downstream
    * as two truncated statements. */
  final case class TxnBuffer(rows: List[RedoEvent], containsRollback: Boolean, started: Boolean,
                             overflowed: Boolean = false, n: Int = 0,
                             frags: List[RedoEvent] = Nil)
  object TxnBuffer { val empty: TxnBuffer = TxnBuffer(Nil, containsRollback = false, started = false) }

  /**
   * Partial-rollback pair elimination (LogMinerThread2.java:163-185): on commit of a
   * transaction that contains rollback=1 rows, each rollback=1 row is removed *together with
   * its immediately preceding row* (the change it undid).
   */
  def eliminateRollbackPairs(rows: List[RedoEvent]): List[RedoEvent] = {
    val arr  = rows.toVector
    val dead = Array.ofDim[Boolean](arr.length)
    var i = 0
    while (i < arr.length) {
      if (arr(i).rollback) {
        dead(i) = true
        // Oracle identifies the undone change by ROW_ID: prefer the most recent alive row
        // with the same rowId; fall back to the nearest alive predecessor (the reference's
        // positional pairing, LogMinerThread2.java:163-185, which can mispair when
        // unrelated DML interleaves and throws on a leading rollback row — we don't).
        var target = -1
        var k = i - 1
        while (k >= 0 && target < 0) {
          if (!dead(k) && arr(k).rowId == arr(i).rowId) target = k
          k -= 1
        }
        if (target < 0) {
          var j = i - 1
          while (j >= 0 && dead(j)) j -= 1
          target = j
        }
        if (target >= 0) dead(target) = true
      }
      i += 1
    }
    arr.indices.collect { case k if !dead(k) => arr(k) }.toList
  }

  /**
   * Process events of ONE transaction (single xid), in SCN order, against a starting buffer.
   * Returns (emitted committed rows, remaining open buffer or None if closed).
   */
  def step(buffer: TxnBuffer, events: Iterator[RedoEvent],
           maxBufferedRows: Int = Int.MaxValue,
           onDroppedTxn: () => Unit = () => ()): (List[CommittedDml], Option[TxnBuffer]) = {
    var buf: TxnBuffer = buffer
    var open = true
    val out  = List.newBuilder[CommittedDml]
    events.foreach { e =>
      e.operation match {
        case RedoEvent.Start =>
          buf = TxnBuffer(Nil, containsRollback = false, started = true); open = true
        case RedoEvent.Rollback =>
          buf = TxnBuffer.empty; open = false
        case RedoEvent.Commit =>
          // an overflowed transaction is dropped whole rather than emitted truncated
          if (buf.overflowed) onDroppedTxn()
          if (!buf.overflowed) {
            val survivors =
              if (buf.containsRollback) eliminateRollbackPairs(buf.rows.reverse)
              else buf.rows.reverse
            val cts = e.commitTimestamp.getOrElse(e.timestamp)
            survivors.foreach { r =>
              out += CommittedDml(r.xid, r.scn, e.scn, r.timestamp, cts,
                r.operation, r.segOwner, r.tableName, r.rowId, r.sqlRedo, r.seq)
            }
          }
          buf = TxnBuffer.empty; open = false
        case op if RedoEvent.DmlOps.contains(op) || op == RedoEvent.Ddl =>
          // DML and (non-internal) DDL buffer alike and emit at COMMIT, matching the
          // reference (LogMinerThread2.java:247-249: INSERT|UPDATE|DELETE|DDL all flow into
          // trnCollection); orphan rows implicitly open a buffer (Thread:292-297).
          buf =
            if (buf.overflowed || buf.n >= maxBufferedRows)
              // the txn is now guaranteed to be dropped whole at COMMIT, so the buffered
              // rows are dead weight — clear them (in streaming they would otherwise be
              // re-serialized into the state store every micro-batch until COMMIT/timeout,
              // exactly the runaway-transaction cost the cap exists to bound)
              buf.copy(rows = Nil, started = true, overflowed = true)
            else
              TxnBuffer(e :: buf.rows, buf.containsRollback || e.rollback, started = true,
                overflowed = false, n = buf.n + 1)
          open = true
        case _ => () // START/COMMIT/ROLLBACK handled above; anything else ignored
      }
    }
    (out.result(), if (open && (buf.started || buf.rows.nonEmpty)) Some(buf) else None)
  }

  /** One micro-batch of one xid for the streaming assemblers: sort the batch's events,
    * resume the CSF fragment run carried in state (A7 across micro-batches), run [[step]],
    * and store the next state — the open buffer and/or the new trailing fragment run —
    * or remove it. `onStored` arms the caller's timeout on a stored state, given the
    * batch's sorted events. Returns the transactions committed in this batch. */
  private def stepBatch(it: Iterator[RedoEvent], state: GroupState[TxnBuffer],
                        maxBufferedRows: Int,
                        droppedTxns: Option[org.apache.spark.util.LongAccumulator],
                        headFilter: RedoEvent => Boolean)
                       (onStored: Vector[RedoEvent] => Unit): List[CommittedDml] = {
    val sorted = it.toVector.sortBy(e => (e.scn, e.seq, e.rowId))
    val prev = state.getOption.getOrElse(TxnBuffer.empty)
    val (fusedEvs, carry) = Csf.fuseAdjacent(sorted.iterator, prev.frags, headFilter)
    val (emitted, remaining) = step(prev.copy(frags = Nil),
      fusedEvs.iterator, maxBufferedRows, () => droppedTxns.foreach(_.add(1)))
    val next = remaining match {
      case Some(buf)              => Some(buf.copy(frags = carry.toList))
      case None if carry.nonEmpty => Some(TxnBuffer.empty.copy(frags = carry.toList))
      case None                   => None
    }
    next match {
      case Some(buf) =>
        state.update(buf)
        onStored(sorted)
      case None => if (state.exists) state.remove()
    }
    emitted
  }

  /** Batch-mode assembly: group by xid, sort by SCN within the group, fuse CSF fragment
    * runs (A7 — fragments share the xid, so fusion rides the same shuffle as assembly:
    * no extra exchange), then run the state machine. A truncated trailing run is flushed
    * csf=true so the loss is observable (failed parse → DLQ), not silent.
    * @param droppedTxns optional accumulator counting transactions dropped whole at COMMIT
    *                    because their buffer overflowed `maxBufferedRows` (same monitoring
    *                    surface as [[assembleStreaming]]'s). */
  def assembleBatch(events: Dataset[RedoEvent],
                    maxBufferedRows: Int = Int.MaxValue,
                    headFilter: RedoEvent => Boolean = _ => true,
                    droppedTxns: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[CommittedDml] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.xid)
      .flatMapGroups { (_, it) =>
        val sorted = it.toVector.sortBy(e => (e.scn, e.seq, e.rowId))
        val (fusedEvs, open) = Csf.fuseAdjacent(sorted.iterator, Nil, headFilter)
        val all =
          if (open.nonEmpty && headFilter(open.head)) fusedEvs :+ Csf.fused(open, complete = false)
          else fusedEvs
        step(TxnBuffer.empty, all.iterator, maxBufferedRows,
          () => droppedTxns.foreach(_.add(1)))._1.iterator
      }
  }

  /**
   * Streaming assembly via flatMapGroupsWithState keyed by xid. Events of a batch are sorted
   * by SCN before the state update (SURVEY.md §7 hard-part 1: Spark guarantees no intra-group
   * order; the reference relied on a single total-order cursor).
   *
   * ORDERING REQUIREMENT (ADVICE r1): per-XID event order must be preserved by the
   * transport — in the Kafka deployment that means the producer keys messages by XID so
   * one transaction lives in one partition. If a COMMIT arrives in an earlier micro-batch
   * than some of its DML, the late DML reopens a buffer that only the timeout can clear;
   * `droppedTxns` makes that loss observable instead of silent.
   *
   * @param abandonedTxnTimeout processing-time timeout after which an open transaction's
   *                            buffer is dropped (bounded state at scale); None disables
   *                            eviction (reference behavior — unbounded state; also required
   *                            for `processAllAvailable`-style test harnesses, because a
   *                            processing-time timeout makes every micro-batch "require
   *                            another batch" so the no-new-data signal never fires).
   * @param droppedTxns         optional accumulator counting transactions lost to timeout
   *                            eviction or buffer-cap overflow (surface in monitoring).
   */
  /** DLQ record for an abandoned transaction: emitted (not silently dropped) when the
    * watermark passes the transaction's last event time plus the abandon timeout. */
  final case class AbandonedTxn(xid: String, bufferedRows: Int, reason: String)

  /** Union output of [[assembleStreamingEvicting]]: exactly one side is set. A caller
    * splits with `filter($"committed".isNotNull)` / `filter($"abandoned".isNotNull)` —
    * the committed feed routes to topics, the abandoned feed to the DLQ. */
  final case class TxnOut(committed: Option[CommittedDml], abandoned: Option[AbandonedTxn])

  /**
   * Streaming assembly with DETERMINISTIC abandoned-transaction eviction (r8 verdict #3):
   * like [[assembleStreaming]], but the timeout clock is the stream's WATERMARK
   * ([[GroupStateTimeout.EventTimeTimeout]]) instead of wall time, and a timed-out buffer
   * is EMITTED as an [[AbandonedTxn]] DLQ record instead of silently dropped.
   *
   * Why event time: a wall-clock (processing-time) timeout is non-deterministic — the
   * same feed evicts different transactions depending on scheduler pauses — and it spins
   * `processAllAvailable`-style harnesses forever (every micro-batch "requires another
   * batch"). The watermark is a pure function of the DATA, so "open longer than
   * `abandonTimeout` of event time with no COMMIT" is a replayable, oracle-gateable
   * property. This is the deliberate fix for the reference's unbounded `trnCollection`
   * leak (LogMinerThread2.java:81; SURVEY §7 hard-part 2) with the loss made observable.
   *
   * LATE-DATA CONTRACT: an event-time-timeout `flatMapGroupsWithState` DROPS input rows
   * older than the current watermark before they reach the state function. A COMMIT that
   * arrives more than `watermarkDelay` of event time behind the newest record therefore
   * never reaches its buffer, and the transaction ages out to the DLQ — the loss is
   * observable (the AbandonedTxn record + `droppedTxns`), not silent, but
   * `watermarkDelay` must be sized to the transport's true out-of-orderness bound
   * (for the Kafka deployment: the max commit-vs-tip lag across partitions).
   *
   * @param watermarkDelay  out-of-orderness bound for `withWatermark` on the event
   *                        timestamp (the redo record's change time)
   * @param abandonTimeout  how much EVENT TIME may pass beyond a transaction's last seen
   *                        event before its buffer is evicted to the DLQ side
   */
  def assembleStreamingEvicting(events: Dataset[RedoEvent],
                                watermarkDelay: String,
                                abandonTimeout: String,
                                maxBufferedRows: Int = Int.MaxValue,
                                droppedTxns: Option[org.apache.spark.util.LongAccumulator] = None,
                                headFilter: RedoEvent => Boolean = _ => true)
      : Dataset[TxnOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    implicit val bufEnc: Encoder[TxnBuffer] = Encoders.product[TxnBuffer]
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(abandonTimeout))
    require(iv.months == 0, s"month-based abandon timeouts are ambiguous: $abandonTimeout")
    val timeoutMsTotal = iv.days * 86400000L + iv.microseconds / 1000L
    events
      .withWatermark("timestamp", watermarkDelay)
      .groupByKey(_.xid)
      .flatMapGroupsWithState[TxnBuffer, TxnOut](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (xid: String, it: Iterator[RedoEvent], state: GroupState[TxnBuffer]) =>
          if (state.hasTimedOut) {
            val buf = state.getOption.getOrElse(TxnBuffer.empty)
            droppedTxns.foreach(_.add(1))
            state.remove()
            Iterator.single(TxnOut(None,
              Some(AbandonedTxn(xid, buf.n + buf.frags.size, "abandon_timeout"))))
          } else {
            stepBatch(it, state, maxBufferedRows, droppedTxns, headFilter) { sorted =>
              // expire when the WATERMARK passes this txn's newest event + timeout; the
              // max() keeps the arm legal (it must exceed the current watermark) for a
              // buffer whose events are already close behind it
              val lastEventMs = sorted.lastOption.map(_.timestamp.getTime).getOrElse(0L)
              state.setTimeoutTimestamp(
                math.max(lastEventMs + timeoutMsTotal, state.getCurrentWatermarkMs() + 1))
            }.iterator.map(d => TxnOut(Some(d), None))
          }
      }
  }

  def assembleStreaming(events: Dataset[RedoEvent],
                        abandonedTxnTimeout: Option[String] = Some("1 hour"),
                        maxBufferedRows: Int = Int.MaxValue,
                        droppedTxns: Option[org.apache.spark.util.LongAccumulator] = None,
                        headFilter: RedoEvent => Boolean = _ => true)
      : Dataset[CommittedDml] = {
    val spark = events.sparkSession
    import spark.implicits._
    implicit val bufEnc: Encoder[TxnBuffer] = Encoders.product[TxnBuffer]
    val timeoutConf =
      if (abandonedTxnTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.xid)
      .flatMapGroupsWithState[TxnBuffer, CommittedDml](OutputMode.Append, timeoutConf) {
        (xid: String, it: Iterator[RedoEvent], state: GroupState[TxnBuffer]) =>
          if (state.hasTimedOut) {
            droppedTxns.foreach(_.add(1))
            state.remove()
            Iterator.empty
          } else {
            stepBatch(it, state, maxBufferedRows, droppedTxns, headFilter) { _ =>
              abandonedTxnTimeout.foreach(state.setTimeoutDuration)
            }.iterator
          }
      }
  }
}
