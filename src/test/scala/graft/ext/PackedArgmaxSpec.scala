package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the packed-argmax key's two load-bearing properties (ext/Similarity.scala).
 * The r17→r18 lesson: the 21-bit cid field was an UNTESTED capacity assumption, and
 * GenScale-strided seed vec_ids silently outgrew it at sf100 (the guard fired —
 * BASELINE.md r18) — so the field width, the guard, and the order-isomorphism that
 * justifies packing at all are now spec-pinned rather than asserted in comments.
 *
 *  1. ORDER-ISOMORPHISM: `dot·2^30 + (mask − cid)` compares exactly like the tuple
 *     `(dot, −cid)` for every |dot| ≤ 2^32 (the milli-quantized 64-dim bound:
 *     64·(2^13)² — Similarity.scala's width derivation) and cid ∈ [0, 2^30) — max
 *     of the packed key IS argmax-by-dot with ties to the LOWEST cid, including
 *     negative dots (two's-complement low field).
 *  2. CAPACITY GUARD: cids at exactly 2^30 refuse with a NAMED error; 2^30 − 1
 *     passes untouched.
 */
class PackedArgmaxSpec extends AnyFunSuite {

  private val Mask = (1L << 30) - 1L
  private def pack(dot: Long, cid: Long): Long = dot * (Mask + 1L) + (Mask - cid)

  test("the packed key is order-isomorphic to (dot, -cid) across the full dot bound") {
    val dotBound = 1L << 32 // 64·(2^13)²: the documented milli-dot magnitude ceiling
    val rnd = new scala.util.Random(18181818L)
    def rndDot(): Long = { val m = rnd.nextLong() % (dotBound + 1); m } // ±2^32 incl.
    def rndCid(): Long = (rnd.nextLong() & Long.MaxValue) % (Mask + 1)
    (1 to 200000).foreach { _ =>
      val (d1, c1) = (rndDot(), rndCid())
      val (d2, c2) = (rndDot(), rndCid())
      val tupleCmp = implicitly[Ordering[(Long, Long)]].compare((d1, -c1), (d2, -c2))
      val packCmp = java.lang.Long.compare(pack(d1, c1), pack(d2, c2))
      assert(math.signum(tupleCmp) === math.signum(packCmp),
        s"pack order diverged from (dot, -cid) at ($d1,$c1) vs ($d2,$c2)")
    }
    // the boundary cells exactly: equal dots tie to the LOWER cid
    assert(pack(0L, 0L) > pack(0L, Mask))
    assert(pack(-dotBound, 0L) < pack(-dotBound + 1, Mask)) // dot dominates cid always
    assert(pack(dotBound, Mask) > pack(dotBound - 1, 0L))
  }

  test("guardCellIds refuses cid = 2^30 with a named error and passes 2^30 - 1") {
    val s = graft.SparkTestSession.spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val fits = Seq(0L, 7L, Mask).toDF("cid").withColumn("cvec", array(lit(1L)))
    assert(Similarity.guardCellIds(fits).select($"cid").as[Long].collect().sorted
      === Array(0L, 7L, Mask))
    val over = Seq(Mask + 1L).toDF("cid").withColumn("cvec", array(lit(1L)))
    val e = intercept[Exception] { Similarity.guardCellIds(over).collect() }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("packed-argmax") && msg.contains((Mask + 1L).toString),
      s"guard must name the scheme and the offending cid, got: $msg")
  }

  test("guardDotMagnitude refuses |v|^2 > 2^32 with a named error and passes the bound") {
    // r18 ADVICE: the milli-component magnitude assumption (|x|·1000 ≤ 2^13 → 64-dim
    // |v|² ≤ 2^32) was comment-only; larger components would silently corrupt the
    // pack's 33-bit dot field. The guard checks v·v ≤ 2^32 per row, loudly.
    val s = graft.SparkTestSession.spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.Registrations.ensure(s)
    val bound = 1L << 32
    // 64 components of 2^13 exactly: |v|² = 64·2^26 = 2^32 — ON the bound, passes
    val atBound = Seq(1L).toDF("vec_id")
      .withColumn("qv", array_repeat(lit(1L << 13), 64))
    assert(Similarity.guardDotMagnitude(atBound, "qv").count() === 1L)
    // one component nudged over: |v|² > 2^32 — refuses with the scheme named
    val over = Seq(2L).toDF("vec_id")
      .withColumn("qv", concat(array(lit((1L << 13) + 1L)), array_repeat(lit(1L << 13), 63)))
    val e2 = intercept[Exception] { Similarity.guardDotMagnitude(over, "qv").collect() }
    val m2 = Option(e2.getMessage).getOrElse("") +
      Option(e2.getCause).map(_.getMessage).getOrElse("")
    assert(m2.contains("packed-argmax") && m2.contains("2^32"),
      s"guard must name the scheme and the bound, got: $m2")
  }

  test("guardDotMagnitude gives a null vector a TRUTHFUL named error, not the overflow one") {
    // ADVICE r19 #2: a null vector makes v·v null; under the old Or-based predicate the
    // null left side fell through to the overflow raise_error with a misleading
    // "squared norm null ... > 2^32" message. The CaseWhen branch must name the actual
    // condition — and valid rows must still pass without the error arm evaluating.
    val s = graft.SparkTestSession.spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.Registrations.ensure(s)
    val nul = Seq(1L).toDF("vec_id")
      .withColumn("qv", lit(null).cast("array<bigint>"))
    val e = intercept[Exception] { Similarity.guardDotMagnitude(nul, "qv").collect() }
    val m = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(m.contains("null") && !m.contains("2^32"),
      s"null input must get the null-branch error, not the overflow one, got: $m")
    // a null COMPONENT also nulls the dot — same truthful branch
    val nulComp = Seq(2L).toDF("vec_id")
      .withColumn("qv", array(lit(1L), lit(null).cast("bigint")))
    val e2 = intercept[Exception] { Similarity.guardDotMagnitude(nulComp, "qv").collect() }
    val m2 = Option(e2.getMessage).getOrElse("") +
      Option(e2.getCause).map(_.getMessage).getOrElse("")
    assert(m2.contains("null"), s"null component must hit the null branch, got: $m2")
    // mixed frame: the valid row passes — the error arms stay unevaluated for it
    val mixed = Seq(3L).toDF("vec_id").withColumn("qv", array_repeat(lit(2L), 64))
    assert(Similarity.guardDotMagnitude(mixed, "qv").count() === 1L)
  }
}
