package graft.engine

import org.apache.spark.sql.functions._

/** Isolates the cost of the incremental SCD2 maintenance fold (r11 verdict #2): the
  * registered `cdc_scd2_incremental` query pays the prior version-frame build in-line
  * (the fixed testdata has no second snapshot), so its bench number overstates the
  * production incremental cost. Phases:
  *
  *   1. the PRIOR frame (all non-delta ops → version frame → parquet) — yesterday's
  *      cost, reported but not the claim;
  *   2. the FULL rebuild (every op through the whole-table window sort) — the cost
  *      incremental maintenance displaces, timed;
  *   3. the FOLD ([[CdcQueries.scd2IncrementalFold]] from the persisted prior) — timed
  *      over `reps` reps; its window sorts only the delta cohort's rows;
  *   4. fold output checked EQUAL to the full rebuild (the operator's definition).
  *
  * Run: `tools/run.sh graft.engine.Scd2IncrBench <sfDir> [reps]` — one JSON line with
  * timings plus the row cardinalities that explain them (delta rows, affected keys,
  * total keys).
  */
object Scd2IncrBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = graft.LocalSession()
    import spark.implicits._

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def num(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val (prior, delta0) = CdcQueries.scd2IncrBenchInputs(spark, sfDir)
    // the delta is staged to parquet ONCE: a production delta ARRIVES as data (the
    // day's committed envelopes), it is not re-derived by re-parsing the whole wire
    // history — leaving it lazy would bill the full parse pipeline to every timed rep
    val deltaPath = new java.io.File("target/graft_scd2_delta/" +
      sfDir.replaceAll("[^A-Za-z0-9._-]", "_")).getAbsolutePath
    delta0.write.mode("overwrite").parquet(deltaPath)
    val delta = spark.read.parquet(deltaPath)
    val nDelta = delta.count()
    val nAffected = delta.select($"o_orderkey").distinct().count()

    // phase 1: the prior pass (yesterday's cost), persisted like production would
    val priorPath = CdcQueries.scd2PriorPath(sfDir)
    val (_, priorSec) = timed(prior.write.mode("overwrite").parquet(priorPath))
    val priorFrame = spark.read.parquet(priorPath)
    val nKeys = priorFrame.select($"o_orderkey").distinct().count()

    // phase 2: the full rebuild — what the fold displaces
    val (_, fullSec) = timed(force(CdcQueries.scd2FullVersions(spark, sfDir)))

    // phase 3: the fold alone, from the persisted prior — plus its two attribution
    // terms: the bare scan of the persisted frame (the floor any whole-table-emitting
    // fold pays twice) and the cohort REWRITE branch alone (what a merge-on-read table
    // physically writes for the delta — the production incremental cost)
    val (_, scanSec) = timed(force(spark.read.parquet(priorPath)))
    val foldSecs = (1 to reps).map { _ =>
      val (_, sec) = timed(force(
        CdcQueries.scd2IncrementalFold(spark.read.parquet(priorPath), delta)))
      sec
    }
    val rewriteSecs = (1 to reps).map { _ =>
      val (_, sec) = timed(force(
        CdcQueries.scd2CohortRebuild(spark.read.parquet(priorPath), delta)))
      sec
    }

    // phase 4: equality with the full rebuild IS the contract (row-level multiset)
    val folded = CdcQueries.scd2IncrementalFold(spark.read.parquet(priorPath), delta)
      .select($"o_orderkey", $"scn", $"operation", $"o_orderstatus",
        $"o_orderpriority", $"valid_to_scn")
    val full = CdcQueries.scd2FullVersions(spark, sfDir)
      .select($"o_orderkey", $"scn", $"operation", $"o_orderstatus",
        $"o_orderpriority", $"valid_to_scn")
    val diff = folded.withColumn("side", lit(1)).unionByName(full.withColumn("side", lit(2)))
      .groupBy(full.columns.map(col).toSeq: _*)
      .agg(count(lit(1)).as("c"), sum($"side").as("s"))
      .filter($"c" =!= 2 || $"s" =!= 3).count()
    require(diff == 0, s"incremental SCD2 fold diverged from the full rebuild on $diff rows")

    println(s"""{"metric":"incr_scd2","sf_dir":"$sfDir","prior_sec":${num(priorSec)},""" +
      s""""full_sec":${num(fullSec)},"scan_sec":${num(scanSec)},""" +
      s""""fold_secs":[${foldSecs.map(num).mkString(",")}],"fold_min":${num(foldSecs.min)},""" +
      s""""rewrite_secs":[${rewriteSecs.map(num).mkString(",")}],""" +
      s""""rewrite_min":${num(rewriteSecs.min)},"delta_rows":$nDelta,""" +
      s""""affected_keys":$nAffected,"total_keys":$nKeys}""")
    spark.stop()
  }
}
