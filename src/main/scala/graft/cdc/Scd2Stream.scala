package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/**
 * STREAMING SCD2 maintenance — the dimension-history consumer run continuously over the
 * CDC envelope stream instead of as a batch rebuild (`cdc_scd2_history`). Changelog-only
 * semantics: the stream never saw the base snapshot, so a column is NULL until some op
 * sets it (the honest contract of a from-the-topic consumer; bootstrapping from a
 * snapshot is exactly what the BATCH SCD2 adds).
 *
 * State per key is ONE open version (valid_from + current column values) — bounded by
 * the column count like the streaming apply, NOT by history: every superseded version is
 * emitted downstream at close time and leaves the store. Closures are append-only and
 * idempotent; the open version re-emits whenever its key's group is invoked, and the
 * terminal reduce ([[latestVersions]]) keeps the closed record for a (key, valid_from)
 * when both an open and a closed emission exist — the same changelog-compaction shape
 * the streaming apply uses for replica rows.
 *
 * LATE-EVENT DIVERGENCE: a commit arriving with scn INSIDE an
 * already-closed interval cannot restate here — closed versions left the state store at
 * close time, and append-mode emissions are immutable, so the late op is folded at its
 * ARRIVAL position (it opens a new version after the current one) rather than at its scn
 * position. The batch builder ([[Scd2]].versionFrame) re-sorts the full history per key
 * and IS the restatement path — gated by `cdc_scd2_restate`, which splits a closed
 * interval with an out-of-order commit and hash-checks the corrected history. Run the
 * batch rebuild to correct history whenever the feed can deliver past-scn commits.
 */
object Scd2Stream {

  /** One emitted SCD2 record: closed interval (`is_current = 0`) or the open version. */
  final case class Scd2Emit(o_orderkey: Long, valid_from_scn: Long,
                            valid_to_scn: Option[Long], o_orderstatus: Option[String],
                            o_orderpriority: Option[String], is_current: Int)

  /** Keyed state: the one open version. */
  final case class OpenVersion(from: Long, status: Option[String], prio: Option[String])

  private val StatusK = "O_ORDERSTATUS"
  private val PrioK = "O_ORDERPRIORITY"

  /** Column overlay with the envelope's three-way semantics: key present with value →
    * set; key present with NULL → explicit null (clears); key absent → carry `prev`. */
  private def overlay(data: Map[String, String], k: String,
                      prev: Option[String]): Option[String] =
    if (data != null && data.contains(k)) Option(data(k)) else prev

  /** The keyed-state pass over the order-keyed envelope stream (same `MergeEnvRow` wire
    * shape as the streaming apply harness). */
  def versions(env: Dataset[graft.engine.CdcQueries.MergeEnvRow]): Dataset[Scd2Emit] = {
    val spark = env.sparkSession
    import spark.implicits._
    env.groupByKey { r =>
      val d = Option(r.data).getOrElse(Map.empty)
      val b = Option(r.before).getOrElse(Map.empty)
      // fail LOUDLY on a malformed envelope (key in neither map): a bare .toLong on
      // null NPEs deep in the streaming task with zero context — name the row instead
      // so a feed bug is diagnosable from the driver exception alone
      d.get("O_ORDERKEY").flatMap(Option(_))
        .orElse(b.get("O_ORDERKEY").flatMap(Option(_))).getOrElse(
        throw new IllegalArgumentException(
          s"SCD2 stream: envelope row carries O_ORDERKEY in neither data nor before " +
            s"(operation=${r.operation}, scn=${r.scn}, commit_scn=${r.commit_scn})")
      ).toLong
    }.flatMapGroupsWithState[OpenVersion, Scd2Emit](
      OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, it, state) =>
      // deterministic intra-batch order — the same (commit_scn, scn, seq) contract as
      // every apply path
      val sorted = it.toArray.sortBy(r => (r.commit_scn, r.scn, r.seq))
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Emit]
      def close(c: OpenVersion, at: Long): Unit =
        out += Scd2Emit(key, c.from, Some(at), c.status, c.prio, is_current = 0)
      sorted.foreach { r =>
        r.operation match {
          case RedoEvent.Insert =>
            cur.foreach(close(_, r.scn))
            cur = Some(OpenVersion(r.scn,
              overlay(r.data, StatusK, None), overlay(r.data, PrioK, None)))
          case RedoEvent.Update =>
            val st = overlay(r.data, StatusK, cur.flatMap(_.status))
            val pr = overlay(r.data, PrioK, cur.flatMap(_.prio))
            cur.foreach(close(_, r.scn))
            cur = Some(OpenVersion(r.scn, st, pr))
          case RedoEvent.Delete =>
            cur.foreach(close(_, r.scn))
            cur = None
          case _ => () // non-DML never reaches the keyed state
        }
      }
      cur match {
        case Some(c) =>
          state.update(c)
          out += Scd2Emit(key, c.from, None, c.status, c.prio, is_current = 1)
        case None => state.remove()
      }
      out.iterator
    }
  }

  /** Terminal reduce over the collected emissions: per (key, valid_from) the CLOSED
    * record supersedes the open one (a version closed in a later micro-batch was emitted
    * open first). */
  def latestVersions(emitted: DataFrame): DataFrame = {
    val spark = emitted.sparkSession
    import spark.implicits._
    emitted
      .groupBy($"o_orderkey", $"valid_from_scn")
      .agg(max_by(
        struct($"valid_to_scn", $"o_orderstatus", $"o_orderpriority", $"is_current"),
        when($"is_current" === 0, 1).otherwise(0)).as("v"))
      .select($"o_orderkey", $"valid_from_scn", $"v.valid_to_scn",
        $"v.o_orderstatus", $"v.o_orderpriority", $"v.is_current")
  }
}
