package graft.cdc

import org.apache.spark.sql.Dataset

/**
 * A7 — continuation-row (CSF) reassembly. LogMiner splits a long redo statement across
 * consecutive cursor rows: every fragment but the last carries CSF=1, and the CSF=0 row
 * terminates the statement; the reference concatenates SQL_REDO while the cursor reports
 * CSF=1 (OracleSourceTask2.java:277-281, LogMinerThread2.java:265-269).
 *
 * Fragments of one statement share (xid, scn, rowId) and are contiguous in cursor order
 * (`seq`) — the reference's `rs.next()`-while-CSF loop relies on exactly that contiguity.
 * Oracle assigns one SCN to many changes, so two INDEPENDENT statements on the same row at
 * the same SCN in one transaction are possible (RedoEvent.scala:28-31): the fuse must split
 * a (xid, scn, rowId) group into RUNS terminated by csf=false rows, never blind-concatenate
 * the whole group.
 */
object Csf {

  /**
   * Fuse one run of fragments into a single statement. `complete` means the run ended with
   * its csf=false terminator; an incomplete (truncated) run keeps csf=true so the loss stays
   * observable downstream (the parse fails and the statement lands in the DLQ frame rather
   * than vanishing).
   */
  private[cdc] def fused(run: IndexedSeq[RedoEvent], complete: Boolean): RedoEvent =
    if (run.length == 1 && complete && !run.head.csf) run.head
    else run.head.copy(sqlRedo = run.map(_.sqlRedo).mkString, csf = !complete)

  /**
   * Streaming-shaped fusion over an ALREADY seq-ordered event iterator: csf=true rows open /
   * extend the current run, the next row sharing (xid, scn, rowId) with csf=false terminates
   * it; rows outside any run pass through untouched (the common, zero-cost case). A row that
   * interrupts an open run without belonging to it (producer anomaly — fragments are
   * contiguous in redo order) flushes the run incomplete.
   *
   * `headFilter` is evaluated on each statement's HEAD fragment — the reference's
   * placement for its content-based temp-table skip, checked on the first cursor row
   * BEFORE the CSF concat loop (LogMinerThread2.java:263, OracleSourceTask2.java:275) —
   * and a false verdict drops the whole run (head-fragment parity, NOT a check on the
   * fused text: a committed DML whose data values happen to contain the phrase passes).
   * Evaluating per-head here is also fuse-safe: a middle fragment can never
   * be dropped out from under a run.
   *
   * Returns (fused events in order, still-open trailing run). The caller decides the fate of
   * the open run: batch mode flushes it incomplete, streaming mode carries it in state so a
   * statement split across micro-batches fuses correctly.
   */
  def fuseAdjacent(events: Iterator[RedoEvent],
                   carryIn: Seq[RedoEvent] = Nil,
                   headFilter: RedoEvent => Boolean = _ => true)
      : (Vector[RedoEvent], Vector[RedoEvent]) = {
    val out = Vector.newBuilder[RedoEvent]
    var run = carryIn.toVector
    def sameStmt(e: RedoEvent): Boolean =
      run.head.xid == e.xid && run.head.scn == e.scn && run.head.rowId == e.rowId
    def emit(r: RedoEvent): Unit = if (headFilter(r)) out += r
    def emitRun(r: Vector[RedoEvent], complete: Boolean): Unit =
      if (headFilter(r.head)) out += fused(r, complete)
    events.foreach { e =>
      if (run.nonEmpty && !sameStmt(e)) {
        emitRun(run, complete = false)
        run = Vector.empty
      }
      if (e.csf) run :+= e
      else if (run.nonEmpty) {
        emitRun(run :+ e, complete = true)
        run = Vector.empty
      } else emit(e)
    }
    (out.result(), run)
  }

  /**
   * Batch fuse as a standalone operator: one shuffle on the fragment key, run-splitting
   * within each seq-sorted group. A trailing run with no terminator (truncated input) is
   * emitted fused with csf=true — observable, not silently dropped. When the upstream
   * producer already fuses fragments (the common Kafka deployment), this stage is a no-op
   * pass-through and can be skipped.
   */
  def fuse(events: Dataset[RedoEvent]): Dataset[RedoEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(e => (e.xid, e.scn, e.rowId))
      .flatMapGroups { (_, it) =>
        val sorted = it.toVector.sortBy(_.seq)
        val (complete, open) = fuseAdjacent(sorted.iterator)
        val flushed = if (open.nonEmpty) complete :+ fused(open, complete = false) else complete
        flushed.iterator
      }
  }
}
