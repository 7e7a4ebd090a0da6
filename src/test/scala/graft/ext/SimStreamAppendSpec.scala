package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Pins the claims `simsearch_stream_append` (streaming IVF index maintenance) rests on:
 *
 *  1. SERVE-BEFORE-FOLD — wave 1 serves the store BEFORE any append lands, so its rows
 *     must be exactly the batch IVFADC-R chain over the base corpus
 *     ([[Similarity.ivfPqRanked]] at the same nprobe).
 *  2. THE FOLD ≡ A BATCH RECOMPUTE — wave 2's rows must equal [[Similarity.ivfPqRankedOver]]
 *     re-run from scratch over base ∪ wave-1 appends: folding arrivals into the store
 *     changes WHEN the index is built, never WHAT a serve computes.
 *  3. THE APPEND IS LOAD-BEARING — wave 1 plants id-shifted COPIES of queries 0 and 2;
 *     wave 2 must rank each planted copy at rnk 1 with exact distance 0. A server whose
 *     fold silently no-ops (the r14 winnow-gate gap) fails this by construction.
 */
class SimStreamAppendSpec extends AnyFunSuite {

  private def spark = graft.SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** The spec's own milli-quantized corpus (mirrors the oracle's trunc(x*1000) scan). */
  private def milli(s: SparkSession): DataFrame = {
    import s.implicits._
    graft.functions.Registrations.ensure(s)
    graft.engine.Tables(s, dir, "embeddings")
      .select($"vec_id",
        transform($"embedding", x => (x.cast("double") * 1000).cast("long")).as("qv"))
      .withColumn("vv", Similarity.dot($"qv", $"qv"))
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("wave 1 serves the pre-append store: rows ≡ the batch chain over the base corpus") {
    val s = spark
    import s.implicits._
    val out = graft.SparkEntry.queries("simsearch_stream_append")(s, dir)
      .collect().map(_.toSeq).groupBy(_(1)) // column 1 = wave
    val wave1 = out(1L).map(r => r.patch(1, Nil, 1)).toSet // drop the wave column
    val batch = rows(Similarity.ivfPqRanked(s, dir, Similarity.IvfNProbe))
    assert(wave1 === batch,
      "wave 1 must reproduce the batch IVFADC-R chain — no append is visible yet")

    // 2. wave 2 ≡ a batch recompute over base ∪ wave-1 appends
    val q = milli(s)
    val appended = q.filter(
        ($"vec_id" % 11 === Similarity.IvfAppendResidue ||
          $"vec_id" < Similarity.NumQueries) && $"vec_id" % 2 === 0)
      .select(($"vec_id" + Similarity.DupIdOffset).as("vec_id"), $"qv", $"vv")
    val recomputed = rows(
      Similarity.ivfPqRankedOver(s, q.unionByName(appended), Similarity.IvfNProbe))
    val wave2 = out(2L).map(r => r.patch(1, Nil, 1)).toSet
    assert(wave2 === recomputed,
      "wave 2 must equal the chain recomputed from scratch over base ∪ wave-1 appends")

    // 3. the planted query copies (0 and 2 are even ⇒ wave 1) surface at rnk 1 / d 0
    Seq(0L, 2L).foreach { qid =>
      val top = out(2L).find(r => r(0) == qid && r(2) == 1L)
        .getOrElse(fail(s"wave 2 has no rnk-1 row for q_id=$qid"))
      assert(top(3) === qid + Similarity.DupIdOffset && top(4) === 0L,
        s"q_id=$qid: the copy appended in wave 1 must serve at rnk 1 with d = 0")
    }
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
