package graft.ext

import org.apache.spark.sql.functions._

/** Isolates the cost of the incremental winnow-admission index fold (r14, VERDICT r13
  * #4 — the IncrBench/Scd2IncrBench discipline): the registered
  * `dedup_winnow_admit_incremental` query necessarily BUILDS the existing-corpus index
  * in-line, so its bench number overstates the production fold. This tool measures the
  * phases separately against a PERSISTED index:
  *
  *   1. the existing-corpus index (fp → df) materializes to parquet once — yesterday's
  *      cost, not today's;
  *   2. the FULL recompute (re-winnow existing ∪ admitted, re-count) is timed — the
  *      cost the fold displaces; it re-fingerprints the whole corpus;
  *   3. the FOLD (winnow the delta only + keyed sum over persisted index ∪ delta) is
  *      timed over `reps` reps;
  *   4. fold ≡ full-recompute equality is REQUIRED before any number prints.
  *
  * The incr modulus shrinks the admitted delta while corpus and full-recompute stay
  * fixed — cost-∝-delta shows as fold time falling with 1/M against a flat full_sec
  * (the fold's floor is the index scan + keyed sum, reported as scan_sec).
  *
  * Run: `tools/run.sh graft.ext.WinnowIncrBench <sfDir> [reps] [incrMod]`.
  */
object WinnowIncrBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val incrMod = args.drop(2).headOption.map(_.toLong).getOrElse(1L)
    val spark = graft.LocalSession()
    import spark.implicits._

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def num(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val docs = graft.engine.Tables(spark, sfDir, "documents").select($"doc_id", $"text")
    val existing = docs.filter($"doc_id" % 5 =!= 0)
    // the admitted delta: the registered query's wave-1 admitted docs, thinned by the
    // modulus (M=1 = the registered split; raising M shrinks the delta only)
    val feed = docs.filter($"doc_id" % 5 === 0)
      .union(existing.filter($"doc_id" % 7 === 1)
        .select(($"doc_id" + 2000000L).as("doc_id"),
          concat($"text", lit(" graftdup")).as("text")))
    val wave1 = feed.filter($"doc_id" % 2 === 0 && $"doc_id" % incrMod === 0L)

    // phase 1: the persisted index — production state, severed from the timed phases
    val idxPath = new java.io.File("target/graft_winnow_index/" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_")).getAbsolutePath
    val (_, idxSec) = timed(
      Dedup.winnowDfCounts(spark, existing).write.mode("overwrite").parquet(idxPath))
    val index0 = spark.read.parquet(idxPath)
    val (dec1, _) = Dedup.winnowAdmitWave(spark, wave1, index0)
    val admittedDocs = wave1
      .join(dec1.filter($"status" === "admitted").select($"doc_id"), "doc_id")
      .localCheckpoint() // decisions are an input to BOTH timed arms, not a timed cost
    val nDelta = admittedDocs.count()
    val nCorpus = existing.count()

    // phase 2: the full recompute — re-fingerprints the WHOLE corpus
    val (full, fullSec) = timed {
      val f = Dedup.winnowDfCounts(spark, existing.unionByName(admittedDocs))
      force(f); f
    }

    // floor: scanning the persisted index (any whole-index-emitting fold pays this)
    val (_, scanSec) = timed(force(spark.read.parquet(idxPath)))

    // phase 3: the fold — winnows ONLY the delta, keyed sum over index ∪ delta
    val foldSecs = (1 to reps).map { i =>
      val idx = spark.read.parquet(idxPath)
      val delta = TextOps.winnowFingerprints(spark, admittedDocs)
        .select($"doc_id", $"fp").distinct()
        .groupBy($"fp").agg(count(lit(1)).as("df"))
      val (folded, sec) = timed {
        val f = idx.unionByName(delta).groupBy($"fp").agg(sum($"df").as("df"))
        force(f); f
      }
      if (i == reps) { // phase 4: equality IS the contract
        val diff = folded.unionByName(full).groupBy($"fp", $"df")
          .agg(count(lit(1)).as("c")).filter($"c" =!= 2).count()
        require(diff == 0, s"winnow index fold diverged from full recompute on $diff rows")
      }
      sec
    }
    // restart write-back (r15, VERDICT r14 #6): a run that ends must RE-PERSIST the
    // folded index for the next run to reload — the full restart cycle is
    // reload (scan_sec floor) + fold (fold_min) + write-back (persist_sec). Timed on
    // the reloaded-and-folded frame, written beside the input index.
    val (_, persistSec) = timed {
      val idx = spark.read.parquet(idxPath)
      val delta = TextOps.winnowFingerprints(spark, admittedDocs)
        .select($"doc_id", $"fp").distinct()
        .groupBy($"fp").agg(count(lit(1)).as("df"))
      idx.unionByName(delta).groupBy($"fp").agg(sum($"df").as("df"))
        .write.mode("overwrite").parquet(idxPath + "_next")
    }
    Dedup.releaseLocalCheckpoint(admittedDocs)

    println(s"""{"metric":"incr_winnow_index","sf_dir":"$sfDir","incr_mod":$incrMod,""" +
      s""""index_sec":${num(idxSec)},"full_sec":${num(fullSec)},"scan_sec":${num(scanSec)},""" +
      s""""fold_secs":[${foldSecs.map(num).mkString(",")}],"fold_min":${num(foldSecs.min)},""" +
      s""""persist_sec":${num(persistSec)},""" +
      s""""corpus_docs":$nCorpus,"delta_docs":$nDelta}""")
    spark.stop()
  }
}
