package graft

/** Spot-measure named queries. Same warmup as [[Bench]] (a first measurement would
  * otherwise absorb ~4-7 s of session init + codegen — VERDICT r5); set
  * SPARK_GRAFT_BENCH_REPS>1 to print per-rep timings plus the median. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the same session as Bench: a spot measurement exists to sanity-check a bench
    // number, so it must run under the same parallelism/shuffle fan-out
    val spark = LocalSession()
    // spill accounting (r8 verdict #7): the constrained-heap posture runs need evidence
    // that queries COMPLETE-BY-SPILLING under memory pressure, not just wall time — sum
    // executor spill bytes per query from stage completions
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        memSpilled.addAndGet(sc.stageInfo.taskMetrics.memoryBytesSpilled)
        diskSpilled.addAndGet(sc.stageInfo.taskMetrics.diskBytesSpilled)
        ()
      }
    })
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).write.mode("overwrite")
      .format("noop").save()
    catch { case scala.util.control.NonFatal(_) => () }
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt)
    args.foreach { n =>
      memSpilled.set(0L); diskSpilled.set(0L)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
        val t = (System.nanoTime() - t0) / 1e9
        // OUTSIDE the timed window, same as Bench's finally — eviction cost must not
        // inflate the spot measurement it exists to sanity-check (localCheckpoint
        // blocks bypass the cache manager, so drop persistent RDDs explicitly too)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        t
      }
      val med = Bench.median(ts)
      def num(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      // listener events are async (the bus drain API is private[spark]); stage-completed
      // events for a finished job post within milliseconds — a short settle is enough for
      // a spot tool
      Thread.sleep(1000)
      val spill =
        if (memSpilled.get == 0 && diskSpilled.get == 0) ""
        else s" spill_mem_mb=${memSpilled.get / 1048576} spill_disk_mb=${diskSpilled.get / 1048576}"
      println(s"TIMING $n ${num(med)}" +
        (if (reps > 1) ts.map(num).mkString(" [", " ", "]") else "") + spill)
    }
    spark.stop()
  }
}
