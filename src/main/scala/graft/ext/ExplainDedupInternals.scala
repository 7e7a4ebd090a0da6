package graft.ext

import org.apache.spark.sql.functions._

/** Plan-evidence printer for the component-family INTERNALS (r20): the registered
  * queries checkpoint their label loop at construction, so `graft.Explain` shows only
  * the final aggregate over an ExistingRDD scan — the exact-Jaccard verify join and the
  * propagation round, where the r20 optimization claims live, never appear in it. This
  * main prints those two subplans directly (same loaders, same builders) so the round's
  * plans/ artifacts carry checkable shapes for the construct-time stages too. */
object ExplainDedupInternals {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val s = graft.LocalSession(threads = 4, shufflePartitions = Some(4))
    s.sparkContext.setLogLevel("ERROR")
    import s.implicits._

    val (rawPairs, sig) = Dedup.lshPairsWithSig(s, sfDir)
    println("\n======== verify_pairs_subplan ========")
    val hashed = Dedup.debugShingleHashes(s, sfDir)
    Dedup.verifyPairs(hashed, rawPairs, Dedup.VerifyJaccBp).explain("formatted")

    println("\n======== propagate_round_subplan ========")
    // one propagation round over a checkpointed label frame — the loop's steady state
    val pairs = rawPairs.limit(100000).cache()
    val edges = pairs.union(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .repartition(4, $"doc_a").cache()
    val labels = edges.select($"doc_a".as("id")).distinct()
      .withColumn("label", $"id").localCheckpoint()
    val prop = edges.join(labels, edges("doc_a") === labels("id"))
      .select(edges("doc_b").as("id"), labels("label"))
    val minNb = labels.select($"id", $"label").union(prop)
      .groupBy($"id").agg(min($"label").as("label"))
    minNb.as("x")
      .join(minNb.select($"id".as("jid"), $"label".as("jlabel")).as("m"),
        col("x.label") === col("m.jid"), "left")
      .select(col("x.id").as("id"),
        least(col("x.label"), coalesce(col("m.jlabel"), col("x.label"))).as("label"))
      .explain("formatted")
    sig.unpersist(blocking = false)
    s.stop()
  }
}
