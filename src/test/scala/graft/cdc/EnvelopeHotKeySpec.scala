package graft.cdc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hot-key posture claim of the batch apply: a key with a multi-million update
  * history must flow through the envelope apply with per-key aggregation state bounded
  * by the COLUMN COUNT — a collect_list of the history would buffer all of it for that
  * key (the structural OOM at 100 TB), while the native [[graft.functions.EnvelopeFold]]
  * keeps (last-op, boundary, one winner per column) no matter the history length. 2M
  * single-key events is far past any plausible collect_list comfort zone, and completes
  * quickly. */
class EnvelopeHotKeySpec extends AnyFunSuite {

  test("apply folds a 2M-update hot key with column-bounded state") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val n = 2000000L
    // one key, n updates round-robining 3 columns; the LAST writer per column wins:
    // with n = 2M (n % 3 == 2): C0 <- n-2, C1 <- n-1, C2 <- n-3 (scn = i)
    val envelope = spark.range(n).select(
      lit(1L).as("commit_scn"), $"id".as("scn"), lit(0L).as("seq"),
      lit(RedoEvent.Update).as("operation"),
      map(concat(lit("C"), ($"id" % 3).cast("string")), $"id".cast("string")).as("data"))
      .withColumn("data", map_concat($"data", map(lit("ID"), lit("7"))))
      .withColumn("before", lit(null).cast("map<string,string>")) // DELETE-side key slot
    val snapshot = Seq((7L, "a", "b", "c")).toDF("id", "c0", "c1", "c2")
    val schema = Catalog.withKeyMetadata(snapshot.schema, Set("id"))
    val out = EnvelopeApply(snapshot, envelope, schema).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 7L)
    assert(r.getString(1) == (n - 2).toString) // C0: last id with id%3==0 is n-2
    assert(r.getString(2) == (n - 1).toString)
    assert(r.getString(3) == (n - 3).toString)
  }
}
