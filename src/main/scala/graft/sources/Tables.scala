package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer => ParquetFooter}
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  *
  * This is the engine's "source" layer — the Spark-native stand-in for the
  * reference's Cassandra table scan (reference: userdata/cloudinit.sh:346-349
  * reads keyspace/table through the DataStax connector). Parquet gives us the
  * same read-surface capabilities the pinned connector advertised — filter
  * pushdown, column pruning, partition-sized splits with preferred locations —
  * natively through the DSv1 file source (SURVEY.md §2.2).
  *
  * Schema from the footer. A bare `spark.read.parquet(path)` infers its
  * schema with a one-task Spark job that ships the Hadoop conf to read a
  * single footer (`SchemaMergeUtils.mergeSchemasInParallel`): a median
  * 59 ms and one job per load of sf0.1 `nation` on local[4], against
  * 3.6 ms and no job for the same read given its schema. [[parquet]]
  * reads the footer on the driver instead and hands the reader Spark's
  * own answer for it. A per-JVM memo keeps each footer's parquet schema,
  * key-value metadata and row-group count, keyed by the file's qualified
  * path and checked against its length and modification time, so a
  * rewritten file misses; a directory (ScaleGen's Spark-written part-file
  * tiers) is keyed by the listing of its data files. The memo holds the
  * parquet schema, not the Spark one: each load converts it under the
  * session's current SQLConf, so a conf change such as `nanosAsLong`
  * never sees a stale schema.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = parquet(spark, path(dir, name))
    if (name != "events") raw
    else {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) (read as LONG
      // nanos under spark.sql.legacy.parquet.nanosAsLong, set once in the
      // session builders) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (read
      // as TIMESTAMP_NTZ) across testdata generations. Normalize either to a
      // session-zone TIMESTAMP — the session zone is pinned to UTC, so the
      // NTZ cast is instant-preserving and matches DuckDB's naive reading of
      // the same file.
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      raw.schema("ts").dataType match {
        case LongType => // nanos-as-long: truncate to micros (DuckDB's granule)
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    }
  }

  /** `spark.read.parquet(p)` without its schema-inference job: the reader
    * gets the schema Spark would infer, built from the memoised footer. */
  def parquet(spark: SparkSession, p: String): DataFrame =
    spark.read.schema(schema(spark, p)).parquet(p)

  /** Spark's inferred schema of the parquet file or directory `p`, by its
    * own rule (`ParquetFileFormat.readSchemaFromFooter`: the footer's Spark
    * row-metadata string if present, else the parquet schema converted under
    * the session's conf). Without schema merging Spark reads one footer of a
    * directory, and so does this: its first data file by name. */
  private def schema(spark: SparkSession, p: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val files = dataFiles(conf, new Path(p))
    require(files.nonEmpty, s"no parquet data files under $p")
    val first = files.head
    ParquetFileFormat.readSchemaFromFooter(
      new ParquetFooter(first.getPath,
        new ParquetMetadata(footer(conf, first).meta, java.util.Collections.emptyList())),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** What the memo keeps of one footer, with the length and modification
    * time of the file it was read from. */
  private final case class Footer(len: Long, mtime: Long, meta: FileMetaData, rowGroups: Int)

  /** Footers by qualified file path; an entry whose length or mtime no
    * longer matches the file is read again and replaced. */
  private val footers = TrieMap.empty[String, Footer]

  private def footer(conf: Configuration, st: FileStatus): Footer = {
    val key = st.getPath.toString
    footers.get(key).filter(f => f.len == st.getLen && f.mtime == st.getModificationTime)
      .getOrElse {
        val m = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf),
          ParquetMetadataConverter.NO_FILTER)
        val f = Footer(st.getLen, st.getModificationTime, m.getFileMetaData, m.getBlocks.size)
        footers.put(key, f)
        f
      }
  }

  /** `p` itself if it is a file; a directory's data files (not `_`- or
    * `.`-prefixed, as Spark's file index lists them), sorted by name. */
  private def dataFiles(conf: Configuration, p: Path): Seq[FileStatus] = {
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(p).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
  }

  /** Row groups across `p`'s data files, from the memoised footers. */
  private[graft] def rowGroups(spark: SparkSession, p: String): Int = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, new Path(p)).map(footer(conf, _).rowGroups).sum
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
      // The real scan parallelism is the row-group count, read from the
      // memoised footers; spread if it falls short. Bounded work: only
      // fires when inputFiles < p; non-file sources (empty list) keep the
      // split-count answer.
      val files = df.inputFiles
      if (files.isEmpty || files.length >= p) df
      else if (files.map(rowGroups(df.sparkSession, _)).sum < p) df.repartition(p)
      else df
    }
  }
}
