package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — names (builder-local use) restrict the dump to
    // those queries for fast single-query gating; the driver always runs the full set
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [queryName...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // per-query time limit: one wedged query (e.g. a parked streaming harness) must cost
    // itself, not zero the whole round's correctness dump; on timeout any stray streaming
    // queries are stopped and the runner thread is abandoned
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val perQueryTimeout = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "300").toLong
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try Await.result(Future {
        // job groups are thread-local: tag the runner thread so a timeout can cancel
        // the wedged jobs instead of leaving them to consume cores alongside the rest
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }, perQueryTimeout.seconds)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          spark.streams.active.foreach(q =>
            try q.stop() catch { case scala.util.control.NonFatal(_) => () })
          System.err.println(s"[verify] $name timed out after ${perQueryTimeout}s")
        // NonFatal only (Bench does the same): swallowing an OutOfMemoryError here would
        // keep iterating in a corrupted JVM and degrade EVERY later query's dump —
        // the round must die loudly at the real fault instead
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    // full JSON escaping ([[JsonText]]) — a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the round's correctness
    def q(s: String): String = JsonText.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
