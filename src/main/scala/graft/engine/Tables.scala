package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver testdata dirs (TESTDATA.md).
  *
  * `events.ts` is TIMESTAMP(NANOS), which Spark 4 refuses at schema inference unless
  * `spark.sql.legacy.parquet.nanosAsLong=true` (the column then reads as LongType, nanos
  * since epoch). That conf is set ONCE at session construction by [[graft.LocalSession]],
  * which every entry point uses — a table loader mutating shared
  * session state as a read side effect is action-at-a-distance, so it does not happen here.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // Canonical `ts` representation is nanos-since-epoch LongType (historical driver dirs
    // wrote TIMESTAMP(NANOS), read as LongType under nanosAsLong). Micros dirs appear two
    // ways — GenScale-derived dirs as TIMESTAMP (LTZ), and the round-10 driver testdata as
    // TIMESTAMP_NTZ (pyarrow timestamp[us], isAdjustedToUTC=false) — so normalize BOTH on
    // read: every query (and every `ts div 1000` in the suite) sees ONE type at every
    // scale. The NTZ wall-clock is reinterpreted in the session zone (every entry point
    // pins UTC), which is the instant the driver wrote. withColumn keeps the column's
    // position, so schema order is unchanged.
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.find(f => f.name == "ts" &&
        (f.dataType == TimestampType || f.dataType == TimestampNTZType)) match {
      case Some(_) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.unix_micros(df("ts").cast(TimestampType)) * 1000L)
      case None => df
    }
  }

  /** [[apply]] plus a SCAN-PARALLELISM FLOOR for CPU-DENSE consumers (optimization guide
    * §2.5 "input skew: one huge unsplittable file ... repartition immediately after the
    * read"): the driver testdata ships each table as ONE parquet file with ONE row group,
    * so the scan plans ONE task regardless of cores and every expensive scan-side map
    * (tokenize/shingle/minhash, redo-SQL synthesis + parse, JSON parse, codec walks,
    * vector math) serializes on a single core while the rest idle — measured r20:
    * 1-task stages of 1.5-3 s inside the component/CDC-batch queries at sf0.1 on 32
    * cores. When the PLANNED scan parallelism is below the session's default parallelism,
    * round-robin repartition up to it; a multi-file input at cluster scale already plans
    * >= cores splits and takes NO extra exchange, so the floor is scale-adaptive, not a
    * local-mode constant. Round-robin keeps Spark's sort-before-repartition determinism
    * (deterministic parquet input → reproducible row-to-partition assignment under
    * retry). Use ONLY where the downstream is CPU-dense per row: a metadata-only
    * `count()` must stay on [[apply]] (the floor's shuffle would defeat the row-group
    * short-circuit), and MemoryStream feed builders keep [[apply]]'s scan order. */
  def par(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = apply(spark, sfDir, name)
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Money as integer cents — THE cross-engine determinism invariant for currency math
    * (see the Relational/Temporal file headers): summing doubles is order-dependent, so
    * Spark's partial aggregates and DuckDB's serial fold would drift in the last bits;
    * integer cents make the sum exact and the oracle hash stable. One shared definition —
    * a per-file copy could drift (e.g. one side gaining half-even rounding) and the
    * oracle gates of the two query families would silently disagree. */
  def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.round(c * 100).cast("long")
}

/** Bucketed-table layout for the co-located join demo (`q_bucketed_join`): writes a
  * testdata table ONCE per (session, sf dir) bucketed + sorted on its join key into a
  * tmpdir warehouse, registers it in the session catalog, and reuses it on every later
  * call — the organize-on-write that lets fact-fact joins run with zero exchanges.
  *
  * BUCKET COUNT SCALES WITH THE DIR (r18, VERDICT r17 #5): a fixed 8 buckets meant the
  * sf100 join ran 8 fat tasks over 750M rows — 8/32 cores idle and a ~94M-row sort per
  * task — the measured super-linear row of the r17 table (184.9 s, ~21 GB spill). The
  * count derives from the dir's LARGEST fact table (lineitem) at ~4M rows per bucket,
  * floored at 8 so every test-scale dir keeps the exact historical layout; both join
  * sides must agree on the count (one dir-level number, not per-table) or the SMJ
  * re-shuffles. The WRITE repartitions on the bucket key into exactly numBuckets
  * partitions first: Spark's repartition hash IS the bucket-id function (murmur3
  * pmod n), so each write task holds exactly one bucket and emits ONE sorted file —
  * without it, every scan task sorts its own slice (the r17 ~21 GB spill at 128 MB
  * slices) or, at smaller splits, sprays numBuckets small files per task (~70k files
  * measured in the first r18 attempt, 432 s). The shuffle is the honest cluster cost
  * of organize-on-write — paid once per layout, amortized over every later join.
  * The write is serialized JVM-wide: parallel test suites share one
  * SparkSession, and two racing saveAsTable calls to the same path would corrupt the
  * layout.
  */
object BucketedTables {
  private val lock = new Object
  private val MinBuckets = 8
  private val MaxBuckets = 1024L
  // ~4M lineitem rows per bucket — the measured optimum of the r18 sf100 A/B:
  // 2M/bucket (300 buckets) cost MORE on both phases (write+join 268 s / join 43 s,
  // 21.5 GB spill) than 4M (238 s / 13.8 s, 16.5 GB) — the extra file count and
  // reduce-task overhead outweigh the smaller per-task sorts
  private val TargetRowsPerBucket = 4000000L
  private val buckets = scala.collection.mutable.Map.empty[String, Int]

  /** Bucket count for a data dir, sized off lineitem (the largest table) and CACHED
    * per sfDir string for the JVM lifetime — a dir regenerated in place mid-JVM keeps
    * its first-computed count (fine for the bench/verify callers, where dirs are
    * immutable within a run; r18 ADVICE notes the assumption). Fails with a NAMED
    * error when lineitem.parquet is absent rather than an unnamed AnalysisException
    * from a caller for a dims-only dir. */
  private def numBuckets(spark: SparkSession, sfDir: String): Int =
    buckets.getOrElseUpdate(sfDir, {
      require(new java.io.File(s"$sfDir/lineitem.parquet").exists(),
        s"BucketedTables: bucket sizing reads $sfDir/lineitem.parquet (the largest " +
          "table), which is absent — pass a dir with the full relational layout")
      // parquet count() short-circuits on row-group metadata — cheap at any scale
      val rows = Tables(spark, sfDir, "lineitem").count()
      math.max(MinBuckets.toLong,
        math.min(MaxBuckets, (rows + TargetRowsPerBucket - 1) / TargetRowsPerBucket)).toInt
    })

  def ensure(spark: SparkSession, sfDir: String, table: String, key: String): String =
    lock.synchronized {
      val tag = java.lang.Integer.toHexString(sfDir.hashCode)
      val name = s"graft_${table}_b$tag"
      // Warehouse lives under target/ (the repo-scratch convention — probe.sh,
      // priorLabelsPath), NOT java.io.tmpdir: external /tmp cleanup deleted the tmpdir
      // warehouse mid-run in BOTH r20 driver bench runs, and every later rep read a
      // registered table whose files were gone (FAILED_READ_FILE.FILE_NOT_EXIST,
      // VERDICT r20 #2). Belt and braces: a registered table is only TRUSTED while its
      // data files still exist on disk — tableExists consults the catalog alone, so a
      // vanished warehouse otherwise bricks the query for the rest of the JVM.
      val path = new java.io.File(s"target/graft_buckets_$tag/$name").getAbsolutePath
      def hasDataFiles: Boolean = {
        val fs = new java.io.File(path).listFiles()
        fs != null && fs.exists(f => f.getName.startsWith("part-") && f.length() > 0)
      }
      if (spark.catalog.tableExists(name) && !hasDataFiles)
        spark.sql(s"DROP TABLE IF EXISTS `$name`")
      if (!spark.catalog.tableExists(name)) {
        val n = numBuckets(spark, sfDir)
        Tables(spark, sfDir, table)
          .repartition(n, org.apache.spark.sql.functions.col(key))
          .write
          .bucketBy(n, key).sortBy(key)
          .option("path", path).mode("overwrite")
          .format("parquet").saveAsTable(name)
      }
      name
    }
}
