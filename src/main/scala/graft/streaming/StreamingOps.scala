package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionArtifacts
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Structured Streaming twins of the window/dedup operators (reference §2.7:
  * streaming semantics core — WindowOperator.java, DeduplicateKeepFirstRow
  * Function.java, watermarks in flink-core/.../eventtime/).
  *
  * The reference's per-record streaming runtime maps onto Spark's micro-batch
  * model: its MiniBatch optimization (operators/bundle/) is inherent here, and
  * its watermark (BoundedOutOfOrdernessWatermarks.java) is `withWatermark`.
  * These entry points replay the bounded `events` fixture through a real
  * streaming query (file source -> stateful agg -> memory sink) so the
  * streaming path produces bit-identical results to the batch oracle.
  */
object StreamingOps {

  /** Replay a parquet fixture as a stream (schema inferred from the raw
    * batch read — file streams need an explicit schema), normalized like the
    * batch path (ns timestamps -> µs TimestampType). */
  /** Session-conf key: a positive integer routes every [[streamTable]]
    * replay through `maxFilesPerTrigger`, so an AvailableNow run processes
    * the fixture as MULTIPLE micro-batches instead of one. With a
    * time-ordered multi-file feed this is the production deployment
    * posture for stream-stream joins: the watermark advances and EVICTS
    * per-key state every batch, bounding live state to the join interval
    * plus one batch's span — the cheap mitigation for the r19 zipf
    * finding (ScaleGrowth's ordered-feed probe measures it). Unset for
    * Verify/Bench, whose single-file fixtures replay in one batch. */
  val MaxFilesKey = "spark.graft.streamMaxFilesPerTrigger"

  def streamTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val schema = Tables.rawSchema(spark, dir, name)
    Tables.pinReadConf(spark, name)
    val reader = spark.readStream.schema(schema)
    val mf = spark.conf.get(MaxFilesKey, "")
    val withOpts = if (mf.nonEmpty) reader.option("maxFilesPerTrigger", mf) else reader
    // Glob form: the file-stream source requires a directory basePath; the
    // {name} glob keeps basePath = dir while matching only this fixture.
    Tables.normalize(name, withOpts.parquet(s"$dir/{$name}.parquet"))
  }

  /** Size state partitions to the keyed cardinality for the duration of a
    * query start. Stateful operators pay a per-state-partition cost every
    * micro-batch (store open/commit), so a low-cardinality keyed op wants far
    * fewer partitions than the session default — and a 100 TB one wants more;
    * this is the knob. The session conf is restored afterwards (the running
    * query keeps the value it was planned with).
    *
    * SPARK_GRAFT_STATE_PARTITIONS overrides every call site's local value
    * (r20): the per-query numbers are sized to the FIXTURE's keyed
    * cardinality, and a scale run (the growth gate's 100x/1000x trees, a
    * cluster deployment) needs state-stage parallelism sized to ITS data —
    * one env knob re-sizes the whole family without touching per-operator
    * defaults, keeping the bench comparable across rounds. */
  /** Bench attribution hook (r21, verdict item 8): the bench sets the
    * query name it is about to time; [[withStatePartitions]] records the
    * EFFECTIVE partition count under it, and the bench writes the map into
    * BENCH_FULL.json — so a driver round can correlate the state-sizing
    * knob with the stateful family's timings instead of taking the
    * builder's A/B on faith. Inheritable: foreachBatch bodies run on
    * streaming-execution threads. */
  val currentQueryName = new InheritableThreadLocal[String]
  val effectiveStatePartitions =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()

  def withStatePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    // validate the override eagerly and by name (ADVICE r20): a typo'd env
    // value would otherwise throw a bare NumberFormatException deep inside
    // every stateful query, and 0/negative would reach shuffle.partitions
    val eff = sys.env.get("SPARK_GRAFT_STATE_PARTITIONS")
      .map(_.trim).filter(_.nonEmpty).map { v =>
        val i =
          try v.toInt
          catch { case _: NumberFormatException => throw new IllegalArgumentException(
            s"SPARK_GRAFT_STATE_PARTITIONS must be a positive integer, got '$v'") }
        require(i > 0,
          s"SPARK_GRAFT_STATE_PARTITIONS must be a positive integer, got '$v'")
        i
      }.getOrElse(n)
    Option(currentQueryName.get).foreach(effectiveStatePartitions.put(_, eff))
    withConf(spark, "spark.sql.shuffle.partitions", eff.toString)(f)
  }

  /** Set one session conf for the duration of `f`, then restore the
    * caller's value (or unset it if the caller had none). A streaming
    * query started inside `f` keeps the value: it plans in a clone of the
    * session taken at start. `getAll` holds only what the caller set;
    * `getOption` also returns a key's default, which would come back set. */
  def withConf[T](spark: SparkSession, key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The ONE start path for the engine's streaming queries: sets the
    * checkpoint location and starts the query under
    * [[LocalCheckpointFileManager]], so its offset/commit logs, source logs
    * and state stores write checkpoint files without forking
    * `chmod`/`readlink`.
    *
    * The query also starts with `spark.sql.artifact.isolation.enabled` off.
    * `start()` runs the query in a clone of the session, and a clone with
    * isolation on gets a fresh artifact session: its tasks load generated
    * classes through a classloader of their own. Spark's codegen cache is
    * keyed on the classloader and the code, so every query would compile
    * the same classes again (12 Janino compiles per run of
    * q_stream_tumble). With isolation off the clone's tasks share the
    * executor's default classloader, so a class they use compiles once per
    * JVM, not once per query. Isolation stays on
    * when the caller's session has added artifacts, so its jars and
    * classes stay visible to its streams. Either way the caller's conf
    * is restored. */
  def startQuery(spark: SparkSession, writer: DataStreamWriter[_], ckpt: String): StreamingQuery =
    startQuery(spark, writer.option("checkpointLocation", ckpt))

  /** [[startQuery]] for a writer that keeps Spark's temporary checkpoint
    * (memory sinks without a location). */
  def startQuery(spark: SparkSession, writer: DataStreamWriter[_]): StreamingQuery =
    withConf(spark, LocalCheckpointFileManager.ClassKey,
        classOf[LocalCheckpointFileManager].getName) {
      def start(): StreamingQuery = {
        val q = writer.start()
        // file sources build their metadata log on the query's own thread,
        // from THIS session's conf: hold the setting until that has happened
        q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.awaitInitialization(Long.MaxValue)
        q
      }
      if (SessionArtifacts.added(spark)) start()
      else withConf(spark, "spark.sql.artifact.isolation.enabled", "false")(start())
    }

  /** Run a streaming DataFrame to completion into an in-memory table and
    * return the materialized result.
    *
    * The memory sink APPENDS each batch's rows even in update mode (no
    * keyed upsert), so an update-mode result is only the final answer when
    * exactly one data-carrying micro-batch ran. That holds for the
    * single-file fixtures here; assert it so a future multi-file fixture
    * (or maxFilesPerTrigger) fails loudly instead of returning stale rows. */
  /** Fresh per-run checkpoint dir on tmpfs when available: the
    * offset/commit logs and state snapshots are rewritten every
    * micro-batch, and replay-a-bounded-fixture queries never need durable
    * recovery. Hadoop's local file system does not fsync; the per-file cost
    * was the `chmod`/`readlink` subprocesses it starts without libhadoop,
    * which [[LocalCheckpointFileManager]] removes. The ONE copy of the
    * tmpfs-else-tmpdir choice. */
  def freshCheckpoint(tag: String): String = {
    val ckptBase =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-ckpt"
      else sys.props("java.io.tmpdir") + "/graft-ckpt"
    s"$ckptBase/$tag-${java.util.UUID.randomUUID()}"
  }

  /** Session-conf key: set to "parquet" to route APPEND-mode harness runs
    * through a distributed file sink instead of the driver-side memory
    * sink. The memory sink holds the ENTIRE query output on the driver —
    * fine for the sf0.01/sf0.1 correctness fixtures, but at the growth
    * gate's 100x tree a per-row streaming output is 10M rows and the
    * driver heap (not the state store) becomes the ceiling; a production
    * deployment writes files, so the gate should too (set by ScaleGrowth
    * under SPARK_GRAFT_STREAM_SINK=parquet; never set by Verify/Bench, so
    * correctness runs and committed bench baselines are unaffected).
    * Update/complete modes always use the memory sink — the file sink
    * cannot express them, and their outputs are aggregate-sized. */
  val SinkKey = "spark.graft.streamSink"

  def runToMemory(spark: SparkSession, stream: DataFrame, mode: String, name: String): DataFrame = {
    val ckpt = freshCheckpoint(name)
    // start inside the try: a query Spark rejects at start() has already
    // created its checkpoint dir
    def drain(writer: DataStreamWriter[_]): StreamingQuery =
      try {
        val q = startQuery(spark, writer.trigger(Trigger.AvailableNow()), ckpt)
        q.awaitTermination()
        q
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    if (mode == "append" && spark.conf.get(SinkKey, "memory") == "parquet") {
      val out = Tables.scratch(s"stream-sink/$name-${java.util.UUID.randomUUID()}")
      drain(stream.writeStream.format("parquet").option("path", out).outputMode("append"))
      return spark.read.schema(stream.schema).parquet(out)
    }
    val q = drain(stream.writeStream.format("memory").queryName(name).outputMode(mode))
    if (mode == "update") {
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches <= 1,
        s"memory sink appends per batch in update mode; query '$name' ran " +
          s"$dataBatches data batches — upsert by key (UpsertSink) instead")
    }
    spark.table(name)
  }

  /** Streaming TUMBLE aggregate (complete mode) — same semantics and same
    * oracle as the batch q_window_tumble. */
  val qStreamTumble: Q = Q(
    "q_stream_tumble",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val agg = streamTable(s, dir, "events")
        .groupBy(window($"ts", "5 minutes"), $"event_type")
        .agg(count(lit(1)).as("cnt"), round(sum($"value"), 2).as("total"))
        .select(
          unix_timestamp($"window.start").as("wstart"),
          $"event_type", $"cnt", $"total")
      runToMemory(s, agg, "complete", "graft_stream_tumble")
        .orderBy($"wstart", $"event_type")
    },
    Some("""SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS wstart,
           |       event_type, count(*) AS cnt, round(sum(value), 2) AS total
           |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Streaming deduplication (append mode) — reference
    * DeduplicateKeepFirstRowFunction.java via streaming dropDuplicates.
    * Output restricted to the key columns so keep-first equals DISTINCT. */
  val qStreamDedup: Q = Q(
    "q_stream_dedup",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val dedup = streamTable(s, dir, "events")
        .select($"user_id", $"event_type")
        .dropDuplicates("user_id", "event_type")
      runToMemory(s, dedup, "append", "graft_stream_dedup")
        .orderBy($"user_id", $"event_type")
    },
    Some("""SELECT DISTINCT user_id, event_type FROM events
           |ORDER BY user_id, event_type""".stripMargin))

  /** Streaming sliding-window aggregate (complete mode), hop twin. */
  val qStreamHop: Q = Q(
    "q_stream_hop",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val agg = streamTable(s, dir, "events")
        .groupBy(window($"ts", "600 seconds", "300 seconds"), $"event_type")
        .agg(count(lit(1)).as("cnt"), round(sum($"value"), 2).as("total"))
        .select(
          unix_timestamp($"window.start").as("wstart"),
          $"event_type", $"cnt", $"total")
      runToMemory(s, agg, "complete", "graft_stream_hop")
        .orderBy($"wstart", $"event_type")
    },
    Some("""SELECT wstart, event_type, count(*) AS cnt, round(sum(value), 2) AS total
           |FROM (
           |  SELECT unnest([CAST(floor(epoch(ts) / 300) * 300 AS BIGINT),
           |                 CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT)]) AS wstart,
           |         event_type, value
           |  FROM events)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Streaming SESSION window (complete mode) — reference
    * EventTimeSessionWindows + merging WindowOperator; Spark session_window
    * merges sessions across micro-batches in state. */
  val qStreamSession: Q = Q(
    "q_stream_session",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val agg = streamTable(s, dir, "events")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("cnt"), round(sum($"value"), 2).as("total"))
        .select(
          unix_timestamp($"session_window.start").as("sess_start"),
          $"user_id", $"cnt", $"total")
      runToMemory(s, agg, "complete", "graft_stream_session")
        .orderBy($"user_id", $"sess_start")
    },
    graft.operators.TimeWindows.qWindowSession.oracle)

  /** Stream-static join (reference broadcast-state pattern,
    * DataStream.java:416 / BroadcastProcessFunction.java:51): streaming
    * events enriched against the static customer dim, then aggregated. The
    * static side is re-planned per micro-batch — Spark's native analogue of
    * broadcast state refresh. */
  val qStreamStaticJoin: Q = Q(
    "q_stream_static_join",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val dim = graft.Tables.t(s, dir, "customer")
        .select($"c_custkey", $"c_nationkey")
      val agg = streamTable(s, dir, "events")
        .join(broadcast(dim), $"user_id" === $"c_custkey")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("cnt"), round(sum($"value"), 2).as("total"))
      runToMemory(s, agg, "complete", "graft_stream_static")
        .orderBy($"c_nationkey")
    },
    Some("""SELECT c_nationkey, count(*) AS cnt, round(sum(value), 2) AS total
           |FROM events JOIN customer ON user_id = c_custkey
           |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin))

  /** Streaming Calc (stateless project+filter, append mode) — reference
    * StreamExecCalc.scala; the no-state fast path. */
  val qStreamCalc: Q = Q(
    "q_stream_calc",
    (s, dir) => {
      import s.implicits._
      val calc = streamTable(s, dir, "events")
        .filter($"value" > 400.0 && $"event_type" === "purchase")
        .select($"event_id", $"user_id", round($"value" * 1.1, 4).as("adj"))
      runToMemory(s, calc, "append", "graft_stream_calc")
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id, round(value * 1.1, 4) AS adj
           |FROM events WHERE value > 400.0 AND event_type = 'purchase'
           |ORDER BY event_id""".stripMargin))

  /** STREAMING ingestion pipeline end-to-end — the streaming twin of
    * q_pipeline_e2e and the deployment shape of the training-data ops:
    * arriving documents are quality-filtered (length gate), exact-deduped by
    * content fingerprint in KEYED STATE (reference
    * DeduplicateKeepFirstRowFunction over a non-windowed stream), and the
    * accepted stream is summarized. Every emitted column is a function of
    * the fingerprint (fp, token count, normalized length), so keep-first's
    * arrival-order nondeterminism across input partitions cannot leak into
    * the answer — the same discipline as q_stream_dedup. State is one row
    * per distinct fingerprint: linear in UNIQUE content, the scale bound an
    * ingestion dedup needs. */
  val qStreamPipeline: Q = Q(
    "q_stream_pipeline",
    (s, dir) => withStatePartitions(s, 8) {
      import s.implicits._
      val dedup = streamTable(s, dir, "documents")
        .withColumn("norm", trim(regexp_replace(lower($"text"), "\\s+", " ")))
        .withColumn("n_tok", size(split($"norm", " ")))
        .filter($"n_tok" >= 20)
        .withColumn("fp", md5($"norm"))
        .select($"fp", $"n_tok", length($"norm").as("n_norm_chars"))
        .dropDuplicates("fp")
      runToMemory(s, dedup, "append", "graft_stream_pipeline")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("total_tokens"),
          sum($"n_norm_chars").as("total_chars"))
    },
    Some("""SELECT count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           |       CAST(sum(n_norm_chars) AS BIGINT) AS total_chars
           |FROM (
           |  SELECT fp, max(n_tok) AS n_tok, max(n_norm_chars) AS n_norm_chars
           |  FROM (SELECT md5(norm) AS fp,
           |               len(string_split(norm, ' ')) AS n_tok,
           |               length(norm) AS n_norm_chars
           |        FROM (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
           |              FROM documents))
           |  WHERE n_tok >= 20 GROUP BY fp)""".stripMargin))

  val all: Seq[Q] = Seq(qStreamTumble, qStreamDedup, qStreamHop, qStreamSession,
    qStreamStaticJoin, qStreamCalc, qStreamPipeline)
}
