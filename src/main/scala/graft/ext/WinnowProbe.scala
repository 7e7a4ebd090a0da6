package graft.ext

import org.apache.spark.sql.functions._

/** Diagnostic main behind the r14 scale-aware winnow-rarity rule: prints the
  * document-frequency distribution of winnowing fingerprints over the DOUBLED corpus
  * (the `dedup_winnow_pairs` input) and, for a ladder of candidate df caps, the
  * rare-instance count, the fp-bucket self-join fan-out (Σ C(df,2) — the exact
  * candidate-pair cost of the rare self-join), and the surviving pair count. Run at
  * sf0.01 / sf0.1 / sf10 to pick a cap rule that stays non-degenerate at 100× while
  * keeping the candidate bound explicit (VERDICT r13 #1).
  *
  *   tools/run.sh graft.ext.WinnowProbe /root/testdata/sf0.01 [cap...]
  */
object WinnowProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val caps = if (args.length > 1) args.tail.map(_.toLong).toSeq
               else Seq(4L, 8L, 16L, 32L, 64L, 128L)
    val s = graft.LocalSession()
    import s.implicits._
    val fps = TextOps.winnowFingerprints(s, Dedup.doubledDocs(s, dir))
      .select($"doc_id", $"fp").distinct()
    val dfreq = fps.groupBy($"fp").agg(count(lit(1)).as("df")).localCheckpoint()
    val nDocs = Dedup.doubledDocs(s, dir).count()
    val nVals = dfreq.count()
    println(s"docs=$nDocs distinct_fps=$nVals")
    println("df histogram (log2 buckets):")
    dfreq.groupBy(floor(log2($"df")).as("log2_df"))
      .agg(count(lit(1)).as("n_vals"), sum($"df").as("n_instances"))
      .orderBy($"log2_df").collect()
      .foreach(r => println(s"  2^${r.getLong(0)}..: vals=${r.getLong(1)} inst=${r.getLong(2)}"))
    caps.foreach { cap =>
      val rareVals = dfreq.filter($"df" <= cap)
      val stats = rareVals.agg(count(lit(1)).as("nv"), coalesce(sum($"df"), lit(0L)).as("ni"),
        coalesce(sum(expr("df * (df - 1) div 2")), lit(0L)).as("fanout")).collect()(0)
      val rare = fps.join(rareVals.select($"fp"), "fp")
      val nper = rare.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val shared = rare.as("a").join(rare.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
      val pairs = shared
        .join(nper.select($"doc_id".as("doc_a"), $"n".as("n_a")), "doc_a")
        .join(nper.select($"doc_id".as("doc_b"), $"n".as("n_b")), "doc_b")
        .filter($"n_shared" * 5 >= least($"n_a", $"n_b") * 4 &&
          $"n_shared" >= Dedup.WinnowMinShared)
        .count()
      println(s"cap=$cap rare_vals=${stats.getLong(0)} rare_inst=${stats.getLong(1)} " +
        s"candidate_fanout=${stats.getLong(2)} pairs=$pairs")
    }
    Dedup.releaseLocalCheckpoint(dfreq)
    s.stop()
  }
}
