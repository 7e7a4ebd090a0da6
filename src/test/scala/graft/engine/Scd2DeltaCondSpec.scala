package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the equivalence `scd2DeltaScnCond` (the pre-parse, scn-derived delta filter
 * `cdc_scd2_incremental` runs) ≡ `scd2DeltaCond` (the post-parse key-cohort
 * definition the operator is specified by). The scn form exists so the filter can push
 * below the ParseRedo projection — it encodes mergeScript's scn/key arithmetic
 * (scn = k*10+off; off 2/4 rows carry the +10000000 inserted key; BASE rows carry
 * scn = -1), so any change to that encoding must fail HERE, loudly, before it silently
 * drifts the delta slice.
 */
class Scd2DeltaCondSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  test("scn-derived delta filter selects exactly the post-parse key-cohort rows") {
    val spark = graft.SparkTestSession.spark
    val in = CdcQueries.scd2InputForSpec(spark, dir)
    val key = Seq("o_orderkey", "scn").map(org.apache.spark.sql.functions.col)
    val a = in.filter(CdcQueries.scd2DeltaCond).select(key: _*)
    val b = in.filter(CdcQueries.scd2DeltaScnCond).select(key: _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "scd2DeltaScnCond drifted from scd2DeltaCond — mergeScript's scn/key encoding changed?")
    // the slice is non-trivial on the fixed testdata (guards against a vacuous pass)
    assert(b.count() > 0, "delta slice is empty — the cohort filter no longer selects anything")
  }
}
