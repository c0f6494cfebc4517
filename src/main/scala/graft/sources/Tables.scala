package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  *
  * This is the engine's "source" layer — the Spark-native stand-in for the
  * reference's Cassandra table scan (reference: userdata/cloudinit.sh:346-349
  * reads keyspace/table through the DataStax connector). Parquet gives us the
  * same read-surface capabilities the pinned connector advertised — filter
  * pushdown, column pruning, partition-sized splits with preferred locations —
  * natively through the DSv1 file source (SURVEY.md §2.2).
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) (read as LONG
      // nanos under spark.sql.legacy.parquet.nanosAsLong, set once in the
      // session builders) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (read
      // as TIMESTAMP_NTZ) across testdata generations. Normalize either to a
      // session-zone TIMESTAMP — the session zone is pinned to UTC, so the
      // NTZ cast is instant-preserving and matches DuckDB's naive reading of
      // the same file.
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val raw = spark.read.parquet(path(dir, name))
      raw.schema("ts").dataType match {
        case LongType => // nanos-as-long: truncate to micros (DuckDB's granule)
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    case _ =>
      spark.read.parquet(path(dir, name))
  }

  /** Spread rows across all cores ONLY when the scan yields fewer splits
    * than the default parallelism (the local single-file-testdata case, where
    * expensive per-row work would otherwise serialize on one core). On a real
    * cluster the scan already has ≥cores splits and this is a genuine no-op —
    * no shuffle is added. Inspecting partition count forces physical planning
    * of the scan only, not execution. */
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    // Width ≠ cores on purpose: with 32 in-process executor threads, 32-way
    // tiny tasks contend on the shared memory manager/scheduler — the SAME
    // aggregation measured 0.12 s of task CPU at width 1 but 4-7 s at width
    // 32, with WORSE wall than width 8 (r18 sweep; md5-heavy shapes were
    // wall-flat from 8→32). Half the cores, floor 4, keeps the parallel win
    // without the contention tax, and tracks the driver's lower-core bench
    // runs. Cluster scans have ≥cores splits, so this never fires there.
    val p = math.min(cores, math.max(4, cores / 2))
    if (df.queryExecution.toRdd.getNumPartitions < p) df.repartition(p)
    else {
      // A split count ≥ p can still hide a serial scan: a parquet split
      // yields rows ONLY if a row group STARTS inside it, so a 2-file
      // ×10 tier reports 21 splits while 2 do all the work (measured
      // r19: q_quantile_regression at ×10 ran its 10 IRLS passes on ONE
      // 6 s task with 20 idle siblings — wall 59 s, core-invariant).
      // Files below the 128 MB parquet row-group default hold one
      // group, so when the file list is small, estimate the real scan
      // parallelism as Σ ceil(file/128 MB) and spread if it falls short.
      // Bounded work: only fires when inputFiles < p (≤ a few stats);
      // non-file sources (empty list) keep the split-count answer.
      val files = df.inputFiles
      if (files.isEmpty || files.length >= p) df
      else {
        val conf = df.sparkSession.sessionState.newHadoopConf()
        val RowGroup = 128L * 1024 * 1024
        val est = files.map { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          val len =
            try path.getFileSystem(conf).getFileStatus(path).getLen
            catch { case _: Throwable => 0L }
          math.max(1L, (len + RowGroup - 1) / RowGroup)
        }.sum
        if (est < p) df.repartition(p) else df
      }
    }
  }
}
