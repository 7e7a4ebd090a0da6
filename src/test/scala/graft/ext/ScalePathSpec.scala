package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins the r16 scale-path operators to their base operators — each `_rel` /
 * `_tiered` / `_cells` variant exists because its base op kneed at the sf100 probe
 * (BASELINE.md round 16), and each claim below is what makes the variant a VALID
 * substitute rather than a different answer:
 *
 *  1. `dedup_embedding_cosine_rel` ≡ `dedup_embedding_cosine` at bench scale — the
 *     relative plane count floors at the base op's 10 planes for n ≤ 2,048, so the
 *     scale path is a strict extension, not a fork.
 *  2. `dedup_semantic_tiered` drops EXACTLY the rows `dedup_semantic` drops —
 *     the planted exact copies. The two operators partition the space differently
 *     (tiered: raw seeds, two levels; flat: one Lloyd round), but identical vectors
 *     take identical assignment paths in both, so the epsilon-pair drop set (the
 *     operator's ANSWER — which rows to discard) must agree wherever duplicates are
 *     exact. Cells are allowed to differ; decisions are not.
 *  3. `simsearch_stream_ivfpq_cells` is batch-invariant — stateless per batch over
 *     a frozen √N-cell index, the same property IvfPqStreamSpec pins for the
 *     8-cell server, re-proven here because the index construction changed.
 */
class ScalePathSpec extends AnyFunSuite {

  private def spark = graft.SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("relative-plane cosine dedup equals the fixed-plane base op at bench scale") {
    val s = spark
    val base = graft.ext.Similarity.queries("dedup_embedding_cosine")(s, dir)
      .collect().map(_.toSeq).toSeq
    val rel = graft.ext.Similarity.queries("dedup_embedding_cosine_rel")(s, dir)
      .collect().map(_.toSeq).toSeq
    assert(rel === base,
      "p floors at 10 below 2,048 vectors: the scale path must be a strict extension")
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  test("tiered SemDeDup's drop decisions equal flat SemDeDup's on planted exact copies") {
    val s = spark
    import s.implicits._
    def drops(q: String): Set[Long] =
      graft.ext.Similarity.queries(q)(s, dir)
        .filter($"dropped").select($"vec_id").as[Long].collect().toSet
    val flat = drops("dedup_semantic")
    val tiered = drops("dedup_semantic_tiered")
    assert(tiered === flat,
      "identical vectors take identical paths at both levels: the drop set is the " +
        "operator's answer and must not depend on how the space was partitioned")
    // and the answer is the planted structure itself: exactly one of each copy pair
    val n = graft.engine.Tables(s, dir, "embeddings").count()
    assert(flat.size === n,
      "every planted pair must drop exactly its higher-id member")
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  test("scalePath registry: every key and value resolves; measured-fatal ops are gated") {
    val qs = graft.SparkEntry.queries.keySet
    graft.SparkEntry.scalePath.foreach { case (base, subst) =>
      assert(qs.contains(base), s"scalePath key '$base' must be a registered query")
      assert(qs.contains(subst), s"scalePath value '$subst' must be a registered query")
      assert(base !== subst, s"scalePath must map '$base' to a DIFFERENT operator")
    }
    // the sf100-fatal ops each carry a count gate, and every gate's op has a
    // named substitute to point its error at
    assert(graft.engine.ScaleGuard.gates.keySet ===
      Set("dedup_embedding_cosine", "simsearch_stream_ivfpq", "dedup_image_phash33",
        "dedup_image_phash", "dedup_image_phash3",
        "cdc_txn_reconstruct",
        "dedup_semantic", "simsearch_stream"))
    graft.engine.ScaleGuard.gates.keySet.foreach { op =>
      assert(graft.SparkEntry.scalePath.contains(op),
        s"gated op '$op' must name its scale path")
    }
    // the three all-pairs image variants share phash33's measured knee exactly — the
    // death is the output shape, not the banding scheme (VERDICT r17 #1)
    assert(Seq("dedup_image_phash", "dedup_image_phash3").map(
        graft.engine.ScaleGuard.gates).map(g => (g._1, g._2)).distinct ===
      Seq(("documents", graft.engine.ScaleGuard.ImageAllPairsKneeRows)))
    // every gate names the BASELINE.md probe round its threshold came from (ADVICE r17)
    graft.engine.ScaleGuard.gates.values.foreach { case (_, _, probe) =>
      assert(probe.matches("r\\d+ probe.*"), s"probe evidence must name a round: $probe")
    }
    // thresholds sit strictly between each gate's measured-passing and measured-fatal
    // corpus sizes, so green gates cannot trip and the fatal scale must. Bounds are
    // PER GATE since r19: the flat anchors pass at sf100 (2M embeddings,
    // documented-expensive) and die at sf1000 (20M), one decade above the r16-gated
    // fixed-parameter embedding ops (pass sf10 = 200k, die sf100 = 2M).
    graft.engine.ScaleGuard.gates.foreach { case (op, (table, maxRows, _)) =>
      val (passing, fatal) = (op, table) match {
        case ("dedup_semantic" | "simsearch_stream", "embeddings") =>
          (2000000L, 20000000L) // r19 probe decade
        case (_, "embeddings") => (200000L, 2000000L)
        case (_, "orders") => (15000000L, 150000000L)
        case _ => (500000L, 5000000L)
      }
      assert(maxRows >= passing && maxRows < fatal,
        s"$op knee $maxRows must sit in [$passing, $fatal)")
    }
  }

  test("the corpus-count gates raise a NAMED error past the knee and pass below it") {
    val s = spark
    import s.implicits._
    val base = graft.engine.Tables(s, dir, "embeddings").select($"vec_id")
    // in-plan form: threshold 0 → any corpus trips; the error names op + scale path
    val tripped = intercept[Exception] {
      graft.engine.ScaleGuard.gateAt(base, s, dir, "embeddings", 0L,
        "dedup_embedding_cosine").collect()
    }
    val msg = Option(tripped.getMessage).getOrElse("") +
      Option(tripped.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("dedup_embedding_cosine") &&
      msg.contains("dedup_embedding_cosine_rel"),
      s"gate error must name the op and its scale path, got: $msg")
    // below the knee the gate is a pass-through: identical rows, identical schema
    val gated = graft.engine.ScaleGuard.gate(base, s, dir, "dedup_embedding_cosine")
    assert(gated.schema === base.schema)
    assert(gated.collect().map(_.getLong(0)).sorted ===
      base.collect().map(_.getLong(0)).sorted)
    // driver-side form: same contract
    val dTripped = intercept[IllegalArgumentException] {
      graft.engine.ScaleGuard.requireAt(s, dir, "embeddings", 0L,
        "simsearch_stream_ivfpq")
    }
    assert(dTripped.getMessage.contains("simsearch_stream_ivfpq_cells"))
    graft.engine.ScaleGuard.require(s, dir, "simsearch_stream_ivfpq") // must not throw
  }

  test("scaled-cell serving is batch-invariant (two waves ≡ one wave)") {
    val s = spark
    import s.implicits._
    val feed = graft.engine.Tables(s, dir, "embeddings")
      .filter($"vec_id" % 50 === 7).select($"vec_id")
      .as[Long].collect().toSeq.sorted
    assert(feed.size >= 2, "the spec needs a splittable arrival feed")
    val (w1, w2) = feed.partition(_ % 100 < 50)
    val split = Similarity.ivfPqStream(s, dir, Similarity.IvfNProbe, Seq(w1, w2),
        scaledCells = true).collect().map(_.toSeq).toSeq
    val once = Similarity.ivfPqStream(s, dir, Similarity.IvfNProbe, Seq(feed),
        scaledCells = true).collect().map(_.toSeq).toSeq
    assert(split === once,
      "a stateless frozen-index server must be batch-invariant at any cell count")
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
