package graftbench

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/**
 * lake_mix: the consumer-side and LLM-data query surface. A fixed list of registered
 * queries, at least one from each `SparkEntry.queries` module, each run the way the
 * program's own bench runs it: build the DataFrame (construction, which for the streaming
 * gates runs the whole harness), then execute it through the noop sink. The seed sets the
 * query order of every pass.
 */
object Lake {
  /** (module, query): one query per module, each a surviving (scale-path) form, chosen so
    * that a cold and a warm pass of the whole mix fit one run. */
  val Mix: Seq[(String, String)] = Seq(
    "CdcQueries" -> "cdc_apply_merge",
    "Relational" -> "q3_topk_revenue",
    "Temporal" -> "asof_last_click",
    "TextOps" -> "text_line_dedup_rel",
    "Dedup" -> "dedup_simhash",
    "Similarity" -> "simsearch_topk",
    "Multimodal" -> "multimodal_image_features")

  private val QueryTimeoutS = 120L

  private def order(seed: Long, pass: Int): Seq[(String, String)] =
    new scala.util.Random(seed * 7919 + pass).shuffle(Mix)

  private def cleanUp(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Construct and execute one query on its own thread under a timeout; returns
    * (construct s, execute s, start ms, end ms). */
  private def runQuery(spark: SparkSession, module: String, name: String, dir: String,
                       trace: Option[Trace])(execute: DataFrame => Unit)
      : (Double, Double, Long, Long) = {
    import scala.concurrent.ExecutionContext.Implicits.global
    val startMs = System.currentTimeMillis()
    val work = Future {
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
      def body(): (Double, Double) = {
        val t0 = System.nanoTime()
        val df = trace.fold(SparkEntry.queries(name)(spark, dir))(
          _.span(s"$module.construct")(SparkEntry.queries(name)(spark, dir)))
        val c = Main.seconds(t0)
        val t1 = System.nanoTime()
        trace.fold(execute(df))(_.span(s"$module.execute")(execute(df)))
        (c, Main.seconds(t1))
      }
      trace.fold(body())(_.span(s"q.$name")(body()))
    }
    try {
      val (c, e) = Await.result(work, QueryTimeoutS.seconds)
      (c, e, startMs, System.currentTimeMillis())
    } catch {
      case t: java.util.concurrent.TimeoutException =>
        spark.sparkContext.cancelJobGroup(name)
        spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
        throw t
    }
  }

  def run(spark: SparkSession, a: Main.Args, report: Report): Unit = {
    val dir = a.lakeDir
    require(dir.nonEmpty && new java.io.File(dir).isDirectory, "lake_mix needs its data dir")
    val setup = report.child("setup")
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // warm-up: one untimed execution per query, which writes the result the correctness
    // check compares against the oracle, and builds any artifact a query persists
    val tw = System.nanoTime()
    order(a.seed, -1).foreach { case (module, name) =>
      try runQuery(spark, module, name, dir, None)(
        _.write.mode("overwrite").parquet(s"lake-out/$name"))
      catch { case NonFatal(e) => errors(name) = String.valueOf(e.getMessage).take(300) }
      finally cleanUp(spark)
    }
    setup("warmup_s") = Main.seconds(tw)
    report("oracle_sql") = Mix.map(_._2).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    report("queries") = Mix.map(_._2)

    def passes(trace: Option[Trace]): Report = {
      val out = new Report
      val rows = Seq.newBuilder[Map[String, Any]]
      val windowStartMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var pass = 0
      var last = 0.0
      // as many whole passes as fit in the window (judged by the last pass), at least one
      while (pass < 1 || Main.seconds(t0) + last <= a.seconds) {
        val p0 = System.nanoTime()
        order(a.seed, pass).foreach { case (module, name) =>
          if (!errors.contains(name)) {
            try {
              val (c, e, s, t) = runQuery(spark, module, name, dir, trace)(
                _.write.mode("overwrite").format("noop").save())
              rows += Map("pass" -> pass, "module" -> module, "query" -> name,
                "construct_s" -> c, "execute_s" -> e, "start_ms" -> s, "end_ms" -> t)
            } catch {
              case NonFatal(e) => errors(name) = String.valueOf(e.getMessage).take(300)
            } finally cleanUp(spark)
          }
        }
        last = Main.seconds(p0)
        pass += 1
      }
      out("passes") = pass
      out("window_s") = Main.seconds(t0)
      val rs = rows.result()
      trace.foreach { tr =>
        tr.settle()
        out("spark") = tr.jobs.summary(windowStartMs, System.currentTimeMillis())
        out("stream") = StreamStats.summary(tr.streams.all)
        out("executions") = rs.map { r =>
          val (s, t) = (r("start_ms").asInstanceOf[Long], r("end_ms").asInstanceOf[Long])
          r ++ Map("jobs" -> tr.jobs.jobsIn(s, t),
            "idle_s" -> (t - s - tr.jobs.busyMs(s, t)) / 1e3)
        }
      }
      if (trace.isEmpty) out("executions") = rs
      out
    }

    report("measure") = passes(None)
    if (a.trace) {
      val tr = new Trace(spark)
      report("traced") = passes(Some(tr))
      tr.close()
      report("untraced_after") = passes(None)
      tr.writeSpans("spans.json")
    }
    report("errors") = errors.toMap
  }
}
