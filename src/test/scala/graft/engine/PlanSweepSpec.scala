package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/**
 * EVERY-query product-join sweep (r8 verdict #6): PlanAuditSpec pins individual plans,
 * but an operator added without an audit could ship an unnoticed CartesianProduct or an
 * unbounded BroadcastNestedLoopJoin — the two shapes that melt at 100 TB. This walks the
 * full `SparkEntry.queries` registry (minus the streaming-harness entries, whose
 * CONSTRUCTION executes a MemoryStream feed and whose batch output is a driver-side
 * frame with no scan anyway) and asserts:
 *
 *   - NO query's physical plan contains CartesianProduct, ever;
 *   - BroadcastNestedLoopJoin appears only in ALLOWLISTED queries, where the broadcast
 *     side is a constant-size model artifact (centroids / hyperplanes / LUTs / quantile
 *     literals) — bounded by construction, audited in BroadcastGuardSpec/PlanAuditSpec.
 *
 * A new query that ships a product join fails here with its plan, forcing either a
 * rewrite or an explicit, justified allowlist entry.
 */
class PlanSweepSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Queries whose plans legitimately contain a BroadcastNestedLoopJoin. Every entry
    * must name the bounded broadcast side (file:line) that justifies it. These are the
    * 13 embedding-family plans whose only product join is `crossJoin(broadcast(...))`
    * against a CONSTANT-SIZE model artifact — k centroids, h hyperplanes, a PQ LUT, a
    * literal nprobe ladder — never against data-shaped cardinality; the broadcast sides
    * carry explicit cardinality guards (TextOps.guardBroadcast; BroadcastGuardSpec). */
  private val bnljAllowed: Map[String, String] = Map(
    "simsearch_topk"         -> "query-vector constant (Similarity.scala:88)",
    "simsearch_ivf"          -> "k centroids + query consts (Similarity.scala:204)",
    "simsearch_ivf_trained"  -> "trained centroids via lloydOnce (Similarity.scala:268)",
    "simsearch_kmeans_iter"  -> "k centroids per Lloyd round (Similarity.scala:456)",
    "simsearch_lsh_buckets"  -> "h hyperplanes (Similarity.scala:179)",
    "simsearch_pq"           -> "PQ codebook LUT (Similarity.scala:139)",
    "simsearch_pq_rerank"    -> "PQ LUT + shortlist rerank (Similarity.scala:139)",
    "simsearch_recall"       -> "centroids + brute-force reference on the bounded query set (Similarity.scala:503)",
    "simsearch_recall_curve" -> "centroids + literal nprobe ladder (Similarity.scala:536)",
    "simsearch_rrf_fusion"   -> "two bounded rankers fused (Similarity.scala:88,179)",
    "simsearch_filtered"     -> "query-vector constant on the filtered scan (Similarity.scala:88)",
    "dedup_semantic"         -> "one-round Lloyd centroids (Similarity.scala:401)",
    "dedup_semantic_tiered"  -> "broadcast coarse-group reps, g = ceil(sqrt(k)) rows",
    "dedup_embedding_cosine" -> "sign-projection hyperplanes (Similarity.scala:427)",
    "dedup_embedding_cosine_rel" -> "sign-projection hyperplanes, p = O(log n) rows",
    "events_heavy_hitters"   -> "1-row global-count scalar crossJoin (Temporal.scala, heavy hitters)",
    "simsearch_quantize_int8" -> "1-row trained-codec broadcast: [mins,maxs,rng] arrays (Similarity.scala)",
    "rag_context_pack"       -> "query-vector constant shortlist scoring (Similarity.scala, same as simsearch_topk)",
    "simsearch_ivf_append"   -> "k frozen centroids broadcast into the append batch (Similarity.scala, lloydOnce)",
    "dedup_winnow_pairs_rel" -> "1-row corpus-size rarity-cap broadcast (Dedup.scala, capRow crossJoin)",
    "simsearch_ivfpq"        -> "k seed centroids broadcast for the coarse quantizer (Similarity.scala, ivfPqRanked scoredC)",
    "dedup_video_partial_rel" -> "1-row clip-count rarity-cap broadcast (Multimodal.scala, videoPartialPairs capRow)",
    "dedup_audio_partial"     -> "1-row clip-count rarity-cap broadcast (Multimodal.scala, capRowOf)",
    "dedup_image_phash33"     -> "1-row corpus-count scale gate broadcast (engine/ScaleGuard.gateAt)",
    "dedup_image_phash"       -> "1-row corpus-count scale gate broadcast (engine/ScaleGuard.gateAt)",
    "dedup_image_phash3"      -> "1-row corpus-count scale gate broadcast (engine/ScaleGuard.gateAt)",
    "cdc_txn_reconstruct"     -> "1-row corpus-count scale gate broadcast (engine/ScaleGuard.gateAt)",
  )

  test("no query plan contains CartesianProduct; BNLJ only where allowlisted") {
    val spark = graft.SparkTestSession.spark
    val names = graft.SparkEntry.queries.keys.toSeq
      .filterNot(graft.SparkEntry.constructSkip).sorted
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { n =>
      val p = graft.SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct"))
        offenders += s"$n: CartesianProduct"
      if (p.contains("BroadcastNestedLoopJoin") && !bnljAllowed.contains(n))
        offenders += s"$n: unallowlisted BroadcastNestedLoopJoin"
      spark.catalog.clearCache()
    }
    assert(offenders.isEmpty,
      "product joins outside the allowlist:\n" + offenders.mkString("\n") +
        "\nEither rewrite as an equi/bucketed join or add a justified allowlist entry.")
  }
}
