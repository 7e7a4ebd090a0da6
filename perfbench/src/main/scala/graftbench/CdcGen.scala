package graftbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.{Catalog, CdcConfig, RedoEvent}
import graft.sources.RedoEventSource

/**
 * Seeded redo-frame generators for the two CDC workloads, and the generator's own model
 * of the replica each feed must produce. All frames target one table,
 * `GRAFT.ORDERS(O_ORDERKEY pk, O_ORDERSTATUS)`.
 *
 * A frame's Kafka offset is its `seq`, and the generators lay `seq` out so that a frame's
 * wave (the file it is published in) is a pure function of its offset.
 */
object CdcGen {

  val config: CdcConfig = CdcConfig.fromMap(Map(
    "db.name.alias" -> "DB1", "table.whitelist" -> "GRAFT.*",
    "map.unescaped.strings" -> "true")).copy(abandonedTxnTimeout = None)

  val schema: StructType = Catalog.withKeyMetadata(StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType))),
    Set("o_orderkey"))

  val wireSchema = "key binary, value binary, offset long"

  /** splitmix64 over (seed, index, salt): the only source of randomness here. */
  def mix(seed: Long, k: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L + (salt + 1) * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def below(seed: Long, k: Long, salt: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(mix(seed, k, salt), n.toLong).toInt

  def oneIn(seed: Long, k: Long, salt: Long, n: Int): Boolean = below(seed, k, salt, n) == 0

  private def ev(scn: Long, xid: String, rowId: String, op: String, redo: String = "",
                 rollback: Boolean = false, csf: Boolean = false, owner: String = "GRAFT",
                 table: String = "ORDERS", seq: Long = -1L): RedoEvent =
    RedoEvent(scn = scn, commitScn = 0L, xid = xid, rowId = rowId, operation = op,
      timestamp = new Timestamp(0L), commitTimestamp = None, segOwner = owner,
      tableName = table, sqlRedo = redo, csf = csf, rollback = rollback, info = "",
      rbasqn = 1L, seq = if (seq < 0) scn else seq)

  def insertSql(k: Long, st: String): String =
    s"""insert into "GRAFT"."ORDERS"("O_ORDERKEY","O_ORDERSTATUS") values ($k,'$st')"""
  def updateSql(k: Long, st: String): String =
    s"""update "GRAFT"."ORDERS" set "O_ORDERSTATUS" = '$st' where "O_ORDERKEY" = $k"""
  def deleteSql(k: Long): String = s"""delete from "GRAFT"."ORDERS" where "O_ORDERKEY" = $k"""

  /** One DML at `scn`; split into two continuation (CSF) fragments when `split`, the second
    * fragment taking seq `scn + 1`. */
  private def dml(scn: Long, xid: String, rowId: String, op: String, sql: String,
                  split: Boolean): Seq[RedoEvent] =
    if (split) {
      val cut = sql.length / 2
      Seq(ev(scn, xid, rowId, op, sql.substring(0, cut), csf = true),
        ev(scn, xid, rowId, op, sql.substring(cut), seq = scn + 1))
    } else Seq(ev(scn, xid, rowId, op, sql))

  private val noise = (scn: Long, xid: String) =>
    ev(scn, xid, "SYSROW", RedoEvent.Insert, "insert into t values (1)", owner = "SYS",
      table = "T")

  // ---- cdc_drain: one transaction per key, the CdcThroughput mix ---------------------

  /** Transaction `k` of the drain feed: START, an INSERT (CSF-split for a third of keys),
    * a rolled-back UPDATE pair (1 in 7), a surviving UPDATE to 'U' (1 in 5), SYS noise
    * that must be filtered (1 in 11), COMMIT. Offsets are `k*10 + slot`. */
  def drainTxn(seed: Long, k: Long): Seq[RedoEvent] = {
    val xid = s"tx$k"
    val rid = f"ROW$k%012d"
    val st = drainStatus(seed, k)
    val base = k * 10
    val rolledBack =
      if (oneIn(seed, k, 3, 7)) Seq(
        ev(base + 3, xid, rid, RedoEvent.Update, updateSql(k, "X")),
        ev(base + 4, xid, rid, RedoEvent.Update, updateSql(k, st), rollback = true))
      else Nil
    val surviving =
      if (drainUpdated(seed, k)) Seq(ev(base + 5, xid, rid, RedoEvent.Update, updateSql(k, "U")))
      else Nil
    val sys = if (oneIn(seed, k, 5, 11)) Seq(noise(base + 6, xid)) else Nil
    (ev(base, xid, rid, RedoEvent.Start) +:
      dml(base + 1, xid, rid, RedoEvent.Insert, insertSql(k, st), oneIn(seed, k, 2, 3))) ++
      rolledBack ++ surviving ++ sys :+ ev(base + 7, xid, rid, RedoEvent.Commit)
  }

  def drainStatus(seed: Long, k: Long): String = Seq("F", "O", "P")(below(seed, k, 1, 3))
  def drainUpdated(seed: Long, k: Long): Boolean = oneIn(seed, k, 4, 5)

  /** Wave of a drain frame: a transaction's home wave is seeded; one in 13 transactions
    * has every frame from slot 3 on (so always its COMMIT) cut into the next wave. */
  def drainWave(seed: Long, waves: Int, offset: Long): Int = {
    val k = offset / 10
    val home = below(seed, k, 7, waves)
    if (offset % 10 >= 3 && oneIn(seed, k, 6, 13)) math.min(home + 1, waves - 1) else home
  }

  def drainCommitWave(seed: Long, waves: Int, k: Long): Int = drainWave(seed, waves, k * 10 + 7)

  /** The replica the drain feed must produce. */
  def drainModel(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val status = udf((k: Long) => if (drainUpdated(seed, k)) "U" else drainStatus(seed, k))
    spark.range(n).select(col("id").as("o_orderkey"), status(col("id")).as("o_orderstatus"))
  }

  def drainFrames(spark: SparkSession, seed: Long, n: Long): Dataset[RedoEvent] = {
    import spark.implicits._
    spark.range(n).as[Long].flatMap(k => drainTxn(seed, k))
  }

  // ---- cdc_paced: update- and delete-heavy traffic over a bounded set of hot keys -----

  /** One paced transaction: its key, commit SCN and the wave holding its COMMIT. */
  final case class PacedTxn(t: Int, key: Long, commitScn: Long, commitWave: Int)

  /** Transactions `0 until waves * perWave`, transaction t in wave `t / perWave`, on one
    * of `hotKeys` keys. A key that is absent (never inserted, or deleted) comes back only
    * through an INSERT, as the streaming apply's contract requires. Offsets are
    * `t*16 + slot`; COMMIT is slot 15, and commit order is transaction order. Returns the
    * frames, the transactions and the final replica (key -> status) the generator
    * expects. */
  def pacedFeed(seed: Long, waves: Int, perWave: Int, hotKeys: Int)
      : (Seq[RedoEvent], Seq[PacedTxn], Map[Long, String]) = {
    val state = scala.collection.mutable.Map.empty[Long, String]
    val frames = Seq.newBuilder[RedoEvent]
    val txns = Seq.newBuilder[PacedTxn]
    for (t <- 0 until waves * perWave) {
      val k = below(seed, t, 11, hotKeys).toLong
      val st = ('A' + below(seed, t, 12, 26)).toChar.toString
      val base = t.toLong * 16
      val xid = s"p$t"
      val rid = f"ROW$k%012d"
      val r = below(seed, t, 13, 10)
      val body: Seq[RedoEvent] = state.get(k) match {
        case None =>
          state(k) = st
          dml(base + 1, xid, rid, RedoEvent.Insert, insertSql(k, st), r < 3)
        case Some(_) if r < 5 =>
          state(k) = st
          dml(base + 1, xid, rid, RedoEvent.Update, updateSql(k, st), r == 0)
        case Some(_) if r < 7 =>
          state.remove(k)
          Seq(ev(base + 1, xid, rid, RedoEvent.Delete, deleteSql(k)))
        case Some(prev) if r < 9 =>
          state(k) = st
          Seq(ev(base + 3, xid, rid, RedoEvent.Update, updateSql(k, "X")),
            ev(base + 4, xid, rid, RedoEvent.Update, updateSql(k, prev), rollback = true),
            ev(base + 5, xid, rid, RedoEvent.Update, updateSql(k, st)))
        case Some(_) =>
          state(k) = st
          Seq(ev(base + 1, xid, rid, RedoEvent.Update, updateSql(k, st)), noise(base + 6, xid))
      }
      frames += ev(base, xid, rid, RedoEvent.Start)
      frames ++= body
      frames += ev(base + 15, xid, rid, RedoEvent.Commit)
      txns += PacedTxn(t, k, base + 15, pacedWave(seed, waves, perWave, base + 15))
    }
    (frames.result(), txns.result(), state.toMap)
  }

  /** Wave of a paced frame: its transaction's wave, except that the first transaction of
    * a wave is, one time in two, a long-running one whose START and DML frames arrive a
    * wave early. Its COMMIT stays in its own wave, so the delivered stream stays in
    * commit-SCN order, as a single redo stream is. */
  def pacedWave(seed: Long, waves: Int, perWave: Int, offset: Long): Int = {
    val t = offset / 16
    val home = (t / perWave).toInt
    if (t % perWave == 0 && home > 0 && offset % 16 != 15 && oneIn(seed, t, 14, 2)) home - 1
    else home
  }

  // ---- wave files -------------------------------------------------------------------

  /** Render frames to the Kafka wire shape and write them under `staging/wave=<w>/`,
    * `filesPerWave` parquet files per wave (1 gives exactly one file per wave). */
  def writeWaves(frames: Dataset[RedoEvent], wave: Long => Int, staging: String,
                 filesPerWave: Int): Unit = {
    val waveOf = udf(wave)
    val wire = RedoEventSource.toKafkaValue(frames).withColumn("wave", waveOf(col("offset")))
    val spread = if (filesPerWave == 1) wire.repartition(col("wave")) else wire.repartition(filesPerWave)
    spread.write.mode("overwrite").partitionBy("wave").parquet(staging)
  }

  /** The data files of one staged wave, in name order. */
  def waveFiles(staging: String, w: Int): Seq[File] =
    Option(new File(staging, s"wave=$w").listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()
}
