package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session every main and the test suite run on, with one contract:
  * UTC session time zone, no UI, plain streaming checkpoint files (Spark 4.1's async
  * checksum writer can park streaming tasks forever under local-mode load, in
  * `ChecksumCheckpointFileManager.awaitResult`), `events.ts` TIMESTAMP(NANOS) read as a
  * nanos long (see [[graft.engine.Tables]]), and the native graft functions injected
  * ([[graft.functions.GraftExtensions]]).
  *
  * The environment is read here and nowhere else:
  *  - `SPARK_GRAFT_CPUS`: local thread count; unset = every available processor
  *  - `SPARK_GRAFT_SHUFFLE`: shuffle partitions; unset = the thread count
  *  - `SPARK_GRAFT_STATESTORE`: `hdfs` (default) or `rocksdb` state-store provider
  */
object LocalSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Validated before any session starts: a typo must not silently measure the
    * default provider while reporting the requested one. */
  def stateStore: String = {
    val v = sys.env.getOrElse("SPARK_GRAFT_STATESTORE", "hdfs")
    require(Set("hdfs", "rocksdb").contains(v),
      s"SPARK_GRAFT_STATESTORE must be 'hdfs' or 'rocksdb', got '$v'")
    v
  }

  /** @param threads           `local[threads]`
    * @param shufflePartitions a pinned partition count; None = `SPARK_GRAFT_SHUFFLE`,
    *                          else `threads` */
  def apply(threads: Int = cpus, shufflePartitions: Option[Int] = None): SparkSession = {
    val shuffle = shufflePartitions.map(_.toString)
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", threads.toString))
    val builder = SparkSession.builder()
      .master(s"local[$threads]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = (if (stateStore == "rocksdb")
      builder.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
