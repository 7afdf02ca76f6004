package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point — a SparkSession wired with graft's
  * extensions (reference analogue: TableEnvironment.create wiring the planner,
  * catalogs and function catalog in one call).
  *
  * What it installs:
  *  - SQL functions hash_code / dot_product / cosine_similarity / proctime
  *  - the Flink group windows TUMBLE / HOP / SESSION and their
  *    `_START` / `_END` auxiliaries
  *  - the SplitDistinctAggRule optimizer rule (off until
  *    spark.graft.splitDistinctAgg.enabled=true)
  *  - engine defaults: UTC session time zone, AQE on (Spark 4 default kept
  *    explicit), shuffle partitions sized to the given parallelism
  */
object GraftSession {

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    install(spark)
    spark
  }

  /** Install graft's extensions on an existing session (driver-provided
    * sessions included). Idempotent. */
  def install(spark: SparkSession): SparkSession = {
    org.apache.spark.sql.graft.GraftSqlFunctions.register(spark)
    plans.SplitDistinctAggRule.install(spark)
    spark
  }

  /** A Hive-metastore-backed session — the reference's HiveCatalog posture
    * (flink-connectors/flink-connector-hive HiveCatalog.java: durable table
    * metadata in a metastore shared across deployments; Spark supports the
    * same metastore natively, so this is wiring, not engineering). DDL run
    * through this session persists in the metastore database at
    * `metastoreDir` (embedded Derby — a production deployment points
    * hive-site.xml at a remote metastore instead) with table data under
    * `warehouseDir`; a later JVM building a session over the same
    * locations sees every database/table created here.
    *
    * Note `spark.sql.catalogImplementation` is a STATIC conf: the FIRST
    * session built in a JVM decides it. Building this after an in-memory
    * session already exists in the same JVM creates a new session whose
    * SharedState still honors these initial options (Spark applies initial
    * session options to SharedState creation), but the derby/warehouse
    * settings must reach the context's hadoopConfiguration — done
    * explicitly below so the entry point works in both orders. */
  def localHive(metastoreDir: String, warehouseDir: String,
      cores: Int = Runtime.getRuntime.availableProcessors(),
      shufflePartitions: Int = 32): SparkSession = {
    val derbyUrl = s"jdbc:derby:;databaseName=$metastoreDir;create=true"
    // the metastore client reads the context-level hadoopConfiguration;
    // set it both there (covers a pre-existing context) and on the builder
    // (covers the fresh-JVM path where this call creates the context)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach { prev =>
        prev.sparkContext.hadoopConfiguration
          .set("javax.jdo.option.ConnectionURL", derbyUrl)
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-hive")
      .config("spark.sql.catalogImplementation", "hive")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.hadoop.javax.jdo.option.ConnectionURL", derbyUrl)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .enableHiveSupport()
      .getOrCreate()
    install(spark)
    spark
  }
}
