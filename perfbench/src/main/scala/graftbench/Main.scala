package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/**
 * Benchmark harness entry point. One JVM runs one workload once and writes every raw
 * measurement to a JSON file; `perfbench/run.py` turns those into the reported metrics.
 *
 * Usage: Main <workload> <seed> <seconds> <trace 0|1> <cpus> <outJson> [lakeDir]
 *
 * The working directory is the run's own fresh directory: stream checkpoints, feeds,
 * emit logs and the program's persisted `target/graft_*` artifacts all land there, so a
 * run never resumes or reuses anything from an earlier run.
 */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, out: String, lakeDir: String)

  def main(argv: Array[String]): Unit = {
    val mainEntryMs = System.currentTimeMillis()
    require(argv.length >= 6,
      "usage: Main <workload> <seed> <seconds> <trace> <cpus> <outJson> [lakeDir]")
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4).toInt, argv(5), argv.lift(6).getOrElse(""))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = session(a.cpus)
    val report = new Report
    report("session_s") = (mainEntryMs - jvmStartMs) / 1e3 + (System.nanoTime() - t0) / 1e9
    report("workload") = a.workload
    report("cpus") = a.cpus
    report("lake_queries") = Lake.Mix.map(_._2)
    try {
      a.workload match {
        case "cdc_drain" => Cdc.drain(spark, a, report)
        case "cdc_paced" => Cdc.paced(spark, a, report)
        case "lake_mix"  => Lake.run(spark, a, report)
        case other       => throw new IllegalArgumentException(s"unknown workload $other")
      }
      report.write(a.out)
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
      spark.stop()
    }
  }

  /** One session fitted to the machine: `local[cpus]`, shuffle partitions = cpus, all
    * scratch space inside the working directory. */
  def session(cpus: Int): SparkSession = {
    val local = new java.io.File("spark-local").getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new java.io.File("spark-warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Median of a non-empty sample (mean of the two middles for an even count). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}

/** Ordered raw results of one run, written as a single JSON object. Values are numbers,
  * booleans, strings, sequences or nested reports. */
final class Report {
  private val fields = mutable.LinkedHashMap.empty[String, Any]

  def update(key: String, value: Any): Unit = synchronized { fields(key) = value }

  def apply(key: String): Any = synchronized { fields(key) }

  def child(key: String): Report = synchronized {
    fields.getOrElseUpdate(key, new Report).asInstanceOf[Report]
  }

  def json: String = synchronized {
    fields.map { case (k, v) => Report.quote(k) + ":" + Report.render(v) }.mkString("{", ",", "}")
  }

  def write(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
}

object Report {
  def quote(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def render(v: Any): String = v match {
    case null => "null"
    case r: Report => r.json
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => quote(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
