package graft

/** Plan-audit main: prints the formatted physical plan of each named query (all if no
  * args) against SPARK_GRAFT_SF_DIR — the `.explain` loop the 100 TB posture demands:
  * check PushedFilters reach the scan, small sides broadcast, codegen spans are wide. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession(threads = 4, shufflePartitions = Some(4))
    spark.sparkContext.setLogLevel("ERROR")
    // default run skips queries whose construction runs a full streaming harness — name
    // them explicitly to include them
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.filterNot(SparkEntry.constructSkip).sorted
    names.foreach { n =>
      println(s"\n======== $n ========")
      // NonFatal only: a LinkageError/OOM means the environment is broken for every
      // remaining query — fail fast on the real cause, don't print ~90 FAILED lines
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case scala.util.control.NonFatal(e) => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
