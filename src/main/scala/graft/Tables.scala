package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog of the driver-generated test tables (FIXTURES.md).
  *
  * Mirrors the reference's in-memory catalog of registered sources
  * (reference: flink-table/flink-table-api-java/src/main/java/org/apache/flink/table/
  * catalog/GenericInMemoryCatalog semantics) as plain parquet scans. Spark's
  * vectorized parquet reader + DataSource V2 pushdown replace the reference's
  * `ScanTableSource` + `SupportsProjectionPushDown`/`SupportsFilterPushDown`
  * (flink-table/flink-table-common/.../connector/source/abilities/).
  *
  * Scale note: every query goes through `spark.read.parquet`, so column pruning
  * and predicate pushdown reach the scan for free; at 100 TB the same code reads
  * a partitioned directory tree instead of one file — no API change.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Raw read. The driver has regenerated `events.ts` under different
    * parquet encodings across rounds — TIMESTAMP(NANOS) (which Spark 4
    * refuses by default; the legacy conf reads it as nanos-since-epoch
    * long) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark 4
    * infers as TIMESTAMP_NTZ). [[normalize]] folds every encoding to one
    * µs TimestampType column so operators never see the drift. */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame = {
    pinReadConf(spark, name)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** The session conf a scan of fixture `name` needs: the legacy NANOS read
    * for `events`. Set on the scanning session itself — a schema served
    * from [[rawSchema]]'s JVM-wide cache carries no conf. */
  def pinReadConf(spark: SparkSession, name: String): Unit =
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  // each session's resolved plans, keyed by (dir, table)
  private val tableCache = new SessionScoped(
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]())

  /** Raw schema, memoized per (dir, table) — r21: file-stream sources need
    * an explicit schema, and every streaming query previously paid a fresh
    * `spark.read.parquet` (directory listing + footer read) just to throw
    * the relation away after `.schema`. The schema is a pure function of
    * the fixture files (plus the pinned nanosAsLong conf [[raw]] sets for
    * events), so one read serves every query and session in the JVM; a
    * session that scans with it must still [[pinReadConf]] itself. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()

  def rawSchema(spark: SparkSession, dir: String,
      name: String): org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent((dir, name), _ => raw(spark, dir, name).schema)

  /** Normalized read: ns-precision columns become TimestampType (µs,
    * truncated — floor, so second-level bucketing is unaffected).
    *
    * The resolved DataFrame is memoized per (session, dir, table): a fresh
    * `spark.read.parquet` re-lists the directory and re-reads footers for
    * schema on every call, and a 110-query run touches each table dozens of
    * times. Reusing the plan keeps the resolved FileIndex (and its partition
    * listing) warm — the same reason a long-lived service holds its catalog's
    * resolved tables instead of re-resolving per query. Plans are immutable,
    * so sharing one DataFrame across queries is safe. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    tableCache(spark).computeIfAbsent((dir, name),
      _ => normalize(name, raw(spark, dir, name)))

  def normalize(name: String, df: DataFrame): DataFrame =
    if (name != "events") df
    else df.schema("ts").dataType match {
      // nanos-since-epoch long (TIMESTAMP(NANOS) under the legacy conf):
      // truncate to µs — floor, so second-level bucketing is unaffected
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      // TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark 4 infers NTZ, which
      // unix_micros/withWatermark arithmetic downstream rejects. The fixture's
      // wall-clock values are UTC instants; timestampdiff from the NTZ epoch
      // reinterprets them as such. NOTE the analyzer coerces both NTZ
      // operands to LTZ THROUGH THE SESSION TIMEZONE (see
      // golden/q_window_tumble.txt: `cast(ts as timestamp, Some(UTC))`), so
      // the fold is exact only when that tz is FIXED-OFFSET — the offsets at
      // epoch and at ts then cancel; under a DST-observing tz they need not.
      // The engine pins spark.sql.session.timeZone=UTC (GraftSession /
      // Verify / Bench / build.sbt); enforce the precondition here instead
      // of silently shifting instants under a DST session tz.
      // Plain projection: works on batch and streaming relations alike.
      case org.apache.spark.sql.types.TimestampNTZType =>
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(java.time.ZoneId.of(tz).normalized().getRules.isFixedOffset,
          s"NTZ timestamp normalization requires a fixed-offset session " +
            s"timezone (got '$tz') — set spark.sql.session.timeZone=UTC")
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(timestampdiff(MICROSECOND, " +
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"))
      case _ => df
    }

  /** Register all tables as temp views (for spark.sql-based operators). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Scratch directory for queries that write-then-read an intermediate
    * layout (file-backed Kafka log, partitioned parquet, CSV roundtrip).
    * Prefers tmpfs: these artifacts are recreated per run and never need to
    * survive the JVM, while a disk-backed /tmp under concurrent writer load
    * turns an 0.3 s write into a double-digit outlier (observed in BENCH_r03:
    * q_partitioned_scan 13.3 s on the driver vs 1.3 s locally). */
  /** Scratch placement is a SCALE parameter (r18 finding, the tmpfs twin of
    * r17's "file layout is a scale parameter"): tmpfs pages count against
    * RAM, so a staged feed that fits the filesystem can still evict the
    * JVM — the 1000x CDC replay feeds (37+15 GB) plus a 24g runner
    * exceeded a 125 GB container. SPARK_GRAFT_SCRATCH relocates the whole
    * scratch tree (e.g. to a disk-backed path) for runs whose staged data
    * competes with the heap; default stays the fast RAM-backed path. */
  def scratch(sub: String): String = {
    val base = sys.env.get("SPARK_GRAFT_SCRATCH").getOrElse {
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-scratch"
      else System.getProperty("java.io.tmpdir") + "/graft-scratch"
    }
    s"$base/$sub"
  }
}

/** One engine query: the Spark implementation + (optionally) an equivalent
  * ANSI-SQL oracle that DuckDB can run on the same parquet tables.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])
