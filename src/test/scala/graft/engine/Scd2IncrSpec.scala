package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{array_sort, col, map_entries}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins `CdcQueries.scd2IncrementalFold`'s two defining properties on a synthetic
 * version frame (the corpus-scale equality is oracle-gated — `cdc_scd2_incremental`
 * shares `cdc_scd2_history`'s SQL verbatim; this spec pins the mechanism in isolation):
 *
 *  1. UNTOUCHED KEYS PASS THROUGH BYTE-IDENTICALLY — a key with no delta op keeps its
 *     exact prior rows (values, interval ends, data maps): the anti-join branch must
 *     not re-window, re-order or re-derive anything.
 *  2. AFFECTED KEYS RESTATE COMPLETELY — the delta re-opens the key's history: the
 *     previously-current version gains a valid_to, the new version appends with the
 *     overlaid state (carry semantics included), and the whole per-key result equals
 *     a from-scratch versionFrame build over that key's full input.
 */
class Scd2IncrSpec extends AnyFunSuite {

  private val spark = graft.SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("scn", LongType),
    StructField("operation", StringType),
    StructField("data", MapType(StringType, StringType, valueContainsNull = true))))

  private def inputDf(rows: (Long, Long, String, Map[String, String])*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3, r._4)), 2),
      schema)

  private val cols = Seq("o_orderstatus" -> "ST", "o_orderpriority" -> "PR")

  test("untouched keys pass through byte-identically; affected keys restate") {
    import spark.implicits._
    // key 1: base + one update (will receive a delta); key 2: base + update (untouched)
    val priorIn = inputDf(
      (1L, -1L, "BASE", Map("ST" -> "O", "PR" -> "1-URGENT")),
      (1L, 10L, "UPDATE", Map("ST" -> "F")),
      (2L, -1L, "BASE", Map("ST" -> "O", "PR" -> "3-MED")),
      (2L, 20L, "UPDATE", Map("PR" -> "5-LOW")))
    val delta = inputDf((1L, 15L, "UPDATE", Map("PR" -> "2-HIGH")))
    val prior = graft.cdc.Scd2.versionFrame(priorIn, "o_orderkey", cols)
    val folded = CdcQueries.scd2IncrementalFold(prior, delta, cols)

    def rowsOf(df: org.apache.spark.sql.DataFrame, key: Long) = df
      .filter($"o_orderkey" === key)
      .select($"scn", $"operation", $"o_orderstatus", $"o_orderpriority", $"valid_to_scn")
      .collect().sortBy(_.getLong(0)).toSeq

    // 1. untouched key 2: identical to its prior rows
    assert(rowsOf(folded, 2L) === rowsOf(prior, 2L))

    // 2. affected key 1: equals the from-scratch build over its full input, and the
    //    delta version landed with carry semantics (ST carries 'F' from scn 10)
    val fullK1 = graft.cdc.Scd2.versionFrame(
      priorIn.filter($"o_orderkey" === 1L).unionByName(delta), "o_orderkey", cols)
    assert(rowsOf(folded, 1L) === rowsOf(fullK1, 1L))
    val v15 = rowsOf(folded, 1L).find(_.getLong(0) == 15L).get
    assert(v15.getString(2) === "F" && v15.getString(3) === "2-HIGH")
    val v10 = rowsOf(folded, 1L).find(_.getLong(0) == 10L).get
    assert(v10.get(4) === 15L, "the previously-current version must close at the delta scn")
  }

  test("an empty delta is the identity fold") {
    import spark.implicits._
    val priorIn = inputDf(
      (1L, -1L, "BASE", Map("ST" -> "O", "PR" -> "1")),
      (1L, 10L, "UPDATE", Map("ST" -> "F")))
    val prior = graft.cdc.Scd2.versionFrame(priorIn, "o_orderkey", cols)
    val folded = CdcQueries.scd2IncrementalFold(prior, inputDf(), cols)
    assert(folded.count() === prior.count())
    // set-ops reject MAP columns outright, so compare on a canonical projection: the
    // map rendered as sorted entries (map iteration order is not part of the contract)
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(
      df.columns.filterNot(_ == "data").map(col) :+
        array_sort(map_entries(col("data"))).as("data_entries"): _*)
    assert(canon(folded).exceptAll(canon(prior)).count() === 0 &&
      canon(prior).exceptAll(canon(folded)).count() === 0)
  }
}
