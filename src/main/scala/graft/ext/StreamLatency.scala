package graft.ext

/**
 * Per-micro-batch serving latency of the streaming ANN servers (r16, VERDICT r15 #5):
 * `simsearch_stream` / `simsearch_stream_ivfpq` / `simsearch_stream_append` report
 * whole-run wall time in Bench, but a serving tier is judged on PER-BATCH latency —
 * submit-to-answer per micro-batch. This main re-splits each server's own arrival
 * population into N waves (default 8) and times every wave through the
 * runBatchesForeach drain (addData → processAllAvailable → collected), printing one
 * JSON line per server with the per-wave series and p50/p95.
 *
 * Wave 0 carries the plans' first-execution costs (codegen, broadcast warm-up) on top
 * of probe work, so it is reported separately (`first_sec`) and EXCLUDED from the
 * percentiles — steady-state latency is what a serving tier quotes; the one-time cost
 * is priced, not hidden. The offline index build of the ivfpq/append servers happens
 * before any wave is fed and is reported as `setup_sec`.
 *
 * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.ext.StreamLatency [nWaves] [server ...]
 */
object StreamLatency {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nWaves = args.headOption.map(_.toInt).getOrElse(8)
    val servers = if (args.length > 1) args.drop(1).toSeq
      else Seq("simsearch_stream", "simsearch_stream_ivfpq",
        "simsearch_stream_ivfpq_cells", "simsearch_stream_append")
    val spark = graft.LocalSession()
    import spark.implicits._

    // round-robin re-split of a server's own arrival population into nWaves batches —
    // every wave carries ~|feed|/nWaves arrivals, the steady-arrival-rate posture
    def reSplit(feed: Seq[Long]): Seq[Seq[Long]] = {
      val waves = feed.zipWithIndex.groupBy(_._2 % nWaves).toSeq.sortBy(_._1)
        .map(_._2.map(_._1))
      waves.filter(_.nonEmpty)
    }

    servers.foreach { name =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val onWave = (_: Long, sec: Double) => { times += sec; () }
      val t0 = System.nanoTime()
      val rows = name match {
        case "simsearch_stream" =>
          val waves = reSplit(Similarity.streamFeedWaves(spark, sfDir).flatten)
          Similarity.exactStream(spark, sfDir, waves, onWave).count()
        case "simsearch_stream_ivfpq" =>
          val waves = reSplit(Similarity.streamFeedWaves(spark, sfDir).flatten)
          Similarity.ivfPqStream(spark, sfDir,
            Similarity.IvfNProbe, waves, onWave).count()
        case "simsearch_stream_ivfpq_cells" =>
          val waves = reSplit(Similarity.streamFeedWaves(spark, sfDir).flatten)
          Similarity.ivfPqStream(spark, sfDir,
            Similarity.IvfNProbe, waves, onWave, scaledCells = true).count()
        case "simsearch_stream_append" =>
          val feed = graft.engine.Tables(spark, sfDir, "embeddings")
            .filter($"vec_id" % 11 === Similarity.IvfAppendResidue ||
              $"vec_id" < Similarity.NumQueries)
            .select(($"vec_id" + Similarity.DupIdOffset).as("app_id"))
            .as[Long].collect().toSeq.sorted
          Similarity.ivfPqStreamAppend(spark, sfDir,
            Similarity.IvfNProbe, reSplit(feed), onWave).count()
        case "dedup_image_admit_stream_incr" =>
          // SEQUENTIAL chunks, not round-robin: the feed is sorted (parity, id) so the
          // +4000001 twins of wave-1 fresh arrivals land in LATER waves than their
          // originals — the fold-probe structure of the registered two-wave gate,
          // stretched over nWaves for the steady-arrival posture
          val feed = Multimodal.imageAdmitIncrFeed(spark, sfDir)
          val per = math.max(1, (feed.size + nWaves - 1) / nWaves)
          Multimodal.imageAdmitIncrStream(spark, sfDir,
            feed.grouped(per).toSeq, onWave).count()
        case other => sys.error(s"unknown server $other")
      }
      val total = (System.nanoTime() - t0) / 1e9
      val steady = times.drop(1).sorted
      def pct(p: Double): Double =
        if (steady.isEmpty) 0.0
        else steady(math.min(steady.size - 1, math.ceil(p * steady.size).toInt - 1).max(0))
      // setup = total wall minus feed-collect minus the timed waves: the offline index
      // build + stream start, which runs once before any arrival is served
      val setupSec = total - times.sum
      val fmt = (d: Double) => BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      println(s"""{"server":"$name","sf_dir":"$sfDir","waves":${times.size},""" +
        s""""rows":$rows,"setup_sec":${fmt(setupSec)},"first_sec":${fmt(times.head)},""" +
        s""""p50_sec":${fmt(pct(0.50))},"p95_sec":${fmt(pct(0.95))},""" +
        s""""max_sec":${fmt(if (steady.isEmpty) 0.0 else steady.last)},""" +
        s""""per_wave_sec":[${times.map(fmt).mkString(",")}]}""")
    }
    spark.stop()
  }
}
