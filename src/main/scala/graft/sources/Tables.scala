package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Source layer for the star-schema testdata (and any parquet lake with
  * the same shape). Readers stay plain parquet scans so Catalyst keeps
  * pushdown/pruning; the one normalization this layer owns is the
  * nanosecond-timestamp fix-up for `events`.
  *
  * Schema cache. Inferring a parquet schema runs a footer-reading Spark
  * job on every `spark.read.parquet` (33–59 ms per load at sf0.01 on a
  * 4-core VM), so each query that loads a table paid it again. [[schemaOf]] resolves each
  * source path's `StructType` once per process and [[read]] hands it to
  * `spark.read.schema(...)`, which skips inference:
  *   - METADATA ONLY. The cache holds a `StructType` and nothing else —
  *     never rows, a `DataFrame` or a relation. Every load builds a
  *     fresh relation with fresh attribute ids, so two loads of one
  *     table joined to each other (n1 ⋈ n2 in the TPC-H shapes) still
  *     resolve unambiguously, and every scan reads the files as they
  *     are on disk.
  *   - KEY. One entry per path, valid while both of these match: the
  *     path's listing (name, length and mtime of the file, or of each
  *     entry of a directory — one Hadoop `getFileStatus`, plus one
  *     `listStatus` for a directory) and the session confs that shape
  *     parquet schema inference ([[InferenceConfs]]). A rewrite at the
  *     same path or a flipped conf re-infers and replaces the entry.
  *   - A missing path is not cached: it falls through to a plain
  *     `spark.read.parquet`, so callers still see `PATH_NOT_FOUND`.
  */
object Tables {
  val All: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(spark, s"$dir/$name.parquet")
    normalizeTimestamps(if (name == "events") normalizeEventTs(df) else df)
  }

  /** A parquet scan of `path` with its schema from [[schemaOf]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** Session confs whose values change the schema parquet inference
    * returns for the same files; part of the [[schemaOf]] key. */
  private val InferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** (name, length, mtime) of `path` — of each entry when it is a
    * directory — or None when it does not exist. */
  private[graft] def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      val entries = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      Some(entries.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private val schemas =
    TrieMap[String, ((Seq[(String, Long, Long)], Seq[Option[String]]), StructType)]()

  /** The inferred parquet schema of `path`, inferred once per (listing,
    * inference confs) and process — see the cache contract above. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    listing(spark, path) match {
      case None => spark.read.parquet(path).schema // raises PATH_NOT_FOUND
      case Some(files) =>
        val key = (files, InferenceConfs.map(spark.conf.getOption))
        schemas.get(path) match {
          case Some((k, schema)) if k == key => schema
          case _ =>
            val schema = spark.read.parquet(path).schema
            schemas.put(path, (key, schema))
            schema
        }
    }

  /** ns→µs ingest shim (reference README.md:40's nanosecond-support
    * TODO): accept nanosecond-grain event time as int64 ns-since-epoch
    * and land it on Spark's native µs TimestampType at the source
    * boundary. THE TRUNCATION CONTRACT, pinned by SourcesSpec:
    *   - sub-microsecond precision is DROPPED via `div 1000` — exact
    *     int64 integral division (`div`, not `/`: ns magnitudes exceed
    *     2^53, a double round-trip would corrupt low microseconds);
    *   - `div` truncates TOWARD ZERO, so post-epoch instants truncate
    *     earlier (1500 ns → 1 µs) and pre-epoch instants truncate
    *     later (−1500 ns → −1 µs) — both toward the epoch; ns already
    *     on a µs boundary are exact either side of the epoch.
    * Downstream event-time logic (windows, watermarks, as-of joins)
    * sees at most 999 ns of one-sided skew; ties created by the drop
    * break on the secondary sort key (event_id) like every other tie.
    */
  def fromNanos(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))

  /** events.parquet historically carried TIMESTAMP(NANOS), which Spark's
    * reader rejects; with spark.sql.legacy.parquet.nanosAsLong the column
    * arrives as Long ns — rebuild via the [[fromNanos]] contract.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => fromNanos(df, "ts")
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Parquet written with `isAdjustedToUTC=false` (e.g. pandas/pyarrow
    * naive timestamps) reads back as TIMESTAMP_NTZ in Spark 4, which
    * `unix_micros`, `withWatermark`, and the duration kernels all reject.
    * The session TZ is pinned to UTC everywhere in this library, so
    * casting NTZ → TimestampType is value-exact (same micros since
    * epoch). Applied to EVERY timestamp column of every table so a
    * testdata regeneration flipping the flag is a no-op.
    */
  def normalizeTimestamps(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    ntz.foldLeft(df)(coerceNtz)
  }

  /** Coerce ONE column NTZ → TimestampType if (and only if) it is NTZ
    * — the single shared implementation behind [[normalizeTimestamps]]
    * and the streaming event-time coercion (EventStream.eventTime).
    */
  def coerceNtz(df: DataFrame, c: String): DataFrame =
    df.schema.find(_.name == c).map(_.dataType) match {
      case Some(TimestampNTZType) =>
        df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }

  /** Register all tables as temp views for SQL users. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    All.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Write a table bucketed+sorted by join keys. Two tables bucketed
    * the same way join WITHOUT a shuffle (see SourcesSpec) — at 100 TB
    * this is the difference between a co-located merge join and
    * re-shuffling the fact table on every query.
    *
    * `saveAsTable(overwrite)` only replaces tables the CURRENT catalog
    * knows about; a managed-table directory left by a previous JVM
    * (fresh in-memory catalog, same warehouse) fails the write with
    * LOCATION_ALREADY_EXISTS — so drop both the entry and the stale
    * directory first.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Hive-style partitioned parquet sink. Reads filtered on the
    * partition columns prune whole directories (PartitionFilters in the
    * scan — see SourcesSpec): at 100 TB a date/asset-partitioned lake
    * turns time-range queries into scans of only the touched days.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)
}
