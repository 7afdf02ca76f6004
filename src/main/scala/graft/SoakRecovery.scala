package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.streaming.StreamingOps

/** Kill-restart recovery soak at the growth-gate tree — the analogue of the
  * reference's nightly recovery e2e (flink-end-to-end-tests/
  * run-nightly-tests.sh, which kills TaskManagers mid-job and asserts
  * exactly-once output): interrupt the strongest exactly-once claims in
  * the repo MID-STREAM on the synthesized 100x tree and assert the
  * converged output equals an uninterrupted run of the same feed.
  *
  *  - Phase A, partition-commit sink ([[streaming.PartitionCommit]]): the
  *    injected fault fires in the protocol's hardest window — batch files
  *    already promoted into their final partition directories, commit
  *    record not yet written. The restarted query must replay that batch
  *    idempotently (delete the batch-prefixed files, re-stage, re-promote,
  *    record) and the committed-partitions view must match the clean run
  *    row for row.
  *  - Phase B, changelog join on transformWithState
  *    ([[streaming.ChangelogJoin.joinTws]], RocksDB provider): the query is
  *    stopped from another thread after a few micro-batches (interrupting
  *    whatever batch is in flight — offsets may be written without the
  *    commit, the danger window of micro-batch replay), restarted on the
  *    same checkpoint, drained; the surviving (key, left, right) pairs of
  *    the output changelog must match the uninterrupted run exactly.
  *  - Phase C, retractable aggregate on transformWithState
  *    ([[streaming.ChangelogAgg.aggTws]]): same kill-restart harness over
  *    the hot-key upsert changelog (ten bucket keys, each holding a
  *    multiset of every live user value — the worst case for the retract
  *    bound); each key's FINAL aggregate row must survive identically.
  *  - Phase D, CEP NFA on transformWithState
  *    ([[cep.CepTws.streamingMatchesTws]]): the per-key event buffer,
  *    in-flight partial-match runs, and armed timer must recover
  *    coherently; the append-only match set over the 100x events table
  *    must equal the uninterrupted run's.
  *  - Phase E, streaming SimHash near-dup
  *    ([[streaming.NearDupStream.pairs]]): per-bucket fingerprint indexes
  *    across ~459k bucket keys — the highest state-key-cardinality
  *    operator in the repo; the recovered "arrived-before" relation must
  *    reconstruct exactly or pairs duplicate/vanish.
  *
  * Both phases stream from range-partitioned multi-file feeds staged in
  * scratch with strictly increasing modification times, so micro-batches
  * arrive in event-time/seq order deterministically in every run — the
  * changelog contract (retract-before-accumulate per key) holds across
  * batch boundaries, and the two runs differ ONLY in the injected failure.
  *
  * Runs on the default fork heap with the RocksDB state-store provider —
  * the production posture the growth gate's state slice claims.
  * Prints one JSON line; exit code != 0 on any mismatch.
  */
object SoakRecovery {

  val Factor: Int = sys.env.getOrElse("SPARK_GRAFT_SOAK_FACTOR", "100").toInt

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val bigDir = Tables.scratch(s"sf-growth/x$Factor-" +
      srcDir.replaceAll("[^a-zA-Z0-9]", "_"))
    ScaleData.synthesize(spark, srcDir, bigDir, Factor)

    // local-iteration phase filter (driver never sets this) — the 1000x
    // rung re-runs single phases at a state size where running all five
    // serially would take hours. Loud, like Verify's SPARK_GRAFT_ONLY.
    val only = sys.env.get("SPARK_GRAFT_SOAK_PHASES")
      .map(_.toUpperCase.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { ps =>
      System.err.println(
        s"[soak] WARNING: SPARK_GRAFT_SOAK_PHASES active — running only ${ps.mkString(",")}")
      // empty/whitespace value would otherwise run ZERO phases and exit
      // PASS vacuously — a misconfigured env var must fail loudly, not
      // silently turn the recovery gate into a no-op success (ADVICE r18)
      require(ps.nonEmpty,
        "SPARK_GRAFT_SOAK_PHASES is set but names no phases — unset it or list A..E")
      require(ps.subsetOf(Set("A", "B", "C", "D", "E")),
        s"unknown soak phases: ${ps.mkString(",")}")
    }
    def run(tag: String, f: => PhaseResult): Option[PhaseResult] =
      if (only.forall(_.contains(tag))) Some(f) else None
    val a = run("A", phaseA(spark, bigDir))
    val b = run("B", phaseB(spark, bigDir))
    val c = run("C", phaseC(spark, bigDir))
    val d = run("D", phaseD(spark, bigDir))
    val e = run("E", phaseE(spark, bigDir))
    def j(r: Option[PhaseResult]) = r.map(r =>
      s"""{"rows":${r.rows},"checksum":${r.checksum},"clean_rows":${r.cleanRows},""" +
        s""""clean_checksum":${r.cleanChecksum},"interrupted":${r.interrupted},""" +
        s""""match":${r.matches},"wall_sec":${fmt(r.wallSec)}}""").getOrElse("null")
    println(s"""{"metric":"soak$Factor","partition_commit":${j(a)},""" +
      s""""changelog_join":${j(b)},"changelog_agg":${j(c)},""" +
      s""""cep_nfa":${j(d)},"neardup_stream":${j(e)},""" +
      s""""factor":$Factor,"src":"$srcDir"}""")
    spark.stop()
    val phases = Seq(a, b, c, d, e).flatten
    if (phases.exists(r => !r.matches || !r.interrupted)) {
      System.err.println("SOAK FAILED: " +
        (if (phases.exists(!_.matches)) "output mismatch after recovery"
         else "run completed before the kill — soak vacuous, retune"))
      sys.exit(1)
    }
  }

  private def fmt(v: Double) =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))

  final case class PhaseResult(rows: Long, checksum: Long, cleanRows: Long,
      cleanChecksum: Long, interrupted: Boolean, wallSec: Double) {
    def matches: Boolean = rows == cleanRows && checksum == cleanChecksum
  }

  /** Stage `df` as `nFiles` range-partitioned parquet files ordered by
    * `orderCol`, with strictly increasing modification times so the file
    * stream source (oldest-first) replays them in that order. Reused across
    * runs via a completion marker — both the clean and the interrupted run
    * must consume the IDENTICAL feed. */
  private def stageFeed(df: DataFrame, dir: String, orderCol: String,
      nFiles: Int): Unit = {
    val marker = new java.io.File(s"$dir/_GRAFT_FEED_OK")
    if (marker.exists()) return
    df.repartitionByRange(nFiles, col(orderCol))
      .sortWithinPartitions(orderCol)
      .write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val t0 = System.currentTimeMillis() - parts.length * 2000L
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(t0 + i * 1000L), s"cannot order feed file $f")
    }
    java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
  }

  /** (row count, bit_xor of per-row xxhash64) — order-independent, and XOR
    * cannot overflow (an ANSI sum of row hashes trips long-overflow within
    * a few million rows). */
  private def checksumOf(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  // ---- Phase A: partition-commit sink, injected crash before the record --

  private def phaseA(spark: SparkSession, bigDir: String): PhaseResult = {
    import graft.streaming.PartitionCommit
    val t0 = System.nanoTime()
    val feed = Tables.scratch(s"soak/x$Factor-events-feed")
    stageFeed(Tables.t(spark, bigDir, "events")
      .select(col("event_id"), col("value"), col("ts")), feed, "ts", nFiles = 12)

    val schema = spark.read.parquet(feed).schema
    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(feed)
      .withColumn("dy", (floor(unix_seconds(col("ts")) / 86400) * 86400)
        .cast("long"))

    def run(sink: String, ckpt: String, crashBatch: Option[Long]): Boolean = {
      crashBatch.foreach(b =>
        spark.conf.set(PartitionCommit.CrashBeforeRecordKey, b.toString))
      var sawCrash = false
      try {
        val q = StreamingOps.startQuery(spark, PartitionCommit.foreachBatchPartitioned(src, sink,
            "dy", 86400L, "ts", commitTag = Integer.toHexString(ckpt.hashCode))
          .trigger(Trigger.AvailableNow()), ckpt)
        try q.awaitTermination()
        catch {
          // walk the FULL cause chain (as RobustnessSpec does): the injected
          // marker can sit several wrappers deep, e.g. inside a
          // ForeachBatchUserFuncException inside a StreamingQueryException
          case e: Exception if crashBatch.isDefined &&
              Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
                .exists(t => String.valueOf(t.getMessage).contains("graft-soak")) =>
            sawCrash = true
        }
      } finally spark.conf.unset(PartitionCommit.CrashBeforeRecordKey)
      sawCrash
    }

    // clean run: one uninterrupted drain
    val cleanSink = Tables.scratch(
      s"soak/x$Factor-pc-clean-${java.util.UUID.randomUUID()}")
    run(cleanSink, StreamingOps.freshCheckpoint("soak-pc-clean"),
      crashBatch = None)
    val (cleanRows, cleanCk) = checksumOf(
      PartitionCommit.readCommitted(spark, cleanSink, "dy")
        .select(col("event_id"), col("value"), col("dy")))

    // interrupted run: crash after batch 2's promote, restart, drain
    val sink = Tables.scratch(
      s"soak/x$Factor-pc-soak-${java.util.UUID.randomUUID()}")
    val ckpt = StreamingOps.freshCheckpoint("soak-pc")
    val crashed = run(sink, ckpt, crashBatch = Some(2L))
    run(sink, ckpt, crashBatch = None) // recovery drain
    val (rows, ck) = checksumOf(
      PartitionCommit.readCommitted(spark, sink, "dy")
        .select(col("event_id"), col("value"), col("dy")))
    PhaseResult(rows, ck, cleanRows, cleanCk, crashed,
      (System.nanoTime() - t0) / 1e9)
  }

  // ---- Phase B: TwS changelog join, async kill mid-stream ----------------

  private def phaseB(spark: SparkSession, bigDir: String): PhaseResult = {
    import spark.implicits._
    import graft.streaming.ChangelogJoin
    import graft.streaming.ChangelogJoin.Change
    val t0 = System.nanoTime()
    val feed = Tables.scratch(s"soak/x$Factor-changes-feed")
    stageFeed(ChangelogJoin.soakChangelog(spark, bigDir).toDF(),
      feed, "seq", nFiles = 12)

    val schema = spark.read.parquet(feed).schema
    def changes = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(feed)
      .as[Change[Long, Double, Long]]

    def start(sink: String, ckpt: String): StreamingQuery =
      StreamingOps.startQuery(spark, ChangelogJoin.joinTws(changes).toDF()
        .writeStream.format("parquet").option("path", sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()), ckpt)

    def surviving(sink: String): DataFrame =
      spark.read.parquet(sink)
        .groupBy(col("key"), col("left"), col("right"))
        .agg(sum(when(col("kind").isin("+I", "+U"), 1L).otherwise(-1L)).as("c"))
        .filter(col("c") > 0)

    killRestartCompare(spark, "cj", start, surviving, t0)
  }

  /** Shared kill-restart harness for streaming phases: one clean drain, one
    * run stopped mid-stream after batch >= 2 (interrupting whatever batch
    * is in flight) then restarted on the same checkpoint and drained; the
    * materialized views of both sinks are checksum-compared. `killed ==
    * false` (feed drained before batch 2) makes the soak vacuous and is
    * surfaced via `interrupted` in the report. */
  private def killRestartCompare(spark: SparkSession, tag: String,
      start: (String, String) => StreamingQuery,
      materialize: String => DataFrame, t0: Long): PhaseResult = {
    val cleanSink = Tables.scratch(
      s"soak/x$Factor-$tag-clean-${java.util.UUID.randomUUID()}")
    val qc = start(cleanSink,
      StreamingOps.freshCheckpoint(s"soak-$tag-clean"))
    qc.awaitTermination()
    val (cleanRows, cleanCk) = checksumOf(materialize(cleanSink))

    val sink = Tables.scratch(
      s"soak/x$Factor-$tag-soak-${java.util.UUID.randomUUID()}")
    val ckpt = StreamingOps.freshCheckpoint(s"soak-$tag")
    val q1 = start(sink, ckpt)
    var killed = false
    val deadline = System.nanoTime() + 30L * 60 * 1000000000L
    while (!killed && q1.isActive && System.nanoTime() < deadline) {
      val p = q1.lastProgress
      if (p != null && p.batchId >= 2) { q1.stop(); killed = true }
      else Thread.sleep(100)
    }
    val q2 = start(sink, ckpt)
    q2.awaitTermination()
    val (rows, ck) = checksumOf(materialize(sink))
    PhaseResult(rows, ck, cleanRows, cleanCk, killed,
      (System.nanoTime() - t0) / 1e9)
  }

  // ---- Phase C: TwS retractable aggregate, async kill mid-stream ---------

  private def phaseC(spark: SparkSession, bigDir: String): PhaseResult = {
    import spark.implicits._
    import graft.streaming.ChangelogAgg
    import graft.streaming.ChangelogAgg.AggChange
    val t0 = System.nanoTime()
    val feed = Tables.scratch(s"soak/x$Factor-aggchanges-feed")
    stageFeed(ChangelogAgg.soakAggChanges(spark, bigDir).toDF(),
      feed, "seq", nFiles = 12)

    val schema = spark.read.parquet(feed).schema
    def changes = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(feed)
      .as[AggChange[Long]]

    def start(sink: String, ckpt: String): StreamingQuery =
      StreamingOps.startQuery(spark, ChangelogAgg.aggTws(changes).toDF()
        .writeStream.format("parquet").option("path", sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()), ckpt)

    // the aggregate's output is itself an upsert changelog; its surviving
    // rows (signed count per full output row > 0) are each key's FINAL
    // aggregate — recurring intermediate states telescope away
    def surviving(sink: String): DataFrame =
      spark.read.parquet(sink)
        .groupBy(col("key"), col("cnt"), col("total"), col("vmin"), col("vmax"))
        .agg(sum(when(col("kind").isin("+I", "+U"), 1L).otherwise(-1L)).as("c"))
        .filter(col("c") > 0)

    killRestartCompare(spark, "ca", start, surviving, t0)
  }

  // ---- Phase D: TwS CEP NFA, async kill mid-stream ------------------------

  /** The NFA's state is the most structurally complex in the repo: a
    * per-key event buffer (ListState), the set of in-flight partial-match
    * runs (ListState, each run carrying its accumulated events), and an
    * armed event-time timer — all three must recover COHERENTLY or the
    * restarted NFA emits duplicate/missing matches. Streams the 100x
    * events table through the signup-followedBy-purchase-within-2h pattern
    * ([[cep.CepTws.streamingMatchesTws]]); output is append-only matches,
    * so the materialized view is the sink itself. */
  private def phaseD(spark: SparkSession, bigDir: String): PhaseResult = {
    import spark.implicits._
    import graft.cep.{CepTws, Pattern}
    import graft.streaming.StatefulOps.Ev
    val t0 = System.nanoTime()
    val feed = Tables.scratch(s"soak/x$Factor-cep-feed")
    stageFeed(Tables.t(spark, bigDir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us")),
      feed, "ts_us", nFiles = 12)

    val schema = spark.read.parquet(feed).schema
    def events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(feed)
      .as[Ev]

    val pat = Pattern.begin[Ev]("a")(_.event_type == "signup")
      .followedBy("b")(_.event_type == "purchase")
      .within(2L * 3600 * 1000000)

    def start(sink: String, ckpt: String): StreamingQuery =
      StreamingOps.startQuery(spark, CepTws.streamingMatchesTws(events, pat).toDF()
        .writeStream.format("parquet").option("path", sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()), ckpt)

    killRestartCompare(spark, "cep", start, spark.read.parquet(_), t0)
  }

  // ---- Phase E: streaming SimHash near-dup, async kill mid-stream ---------

  /** The r17 incremental near-dup ([[streaming.NearDupStream]]): per-bucket
    * fingerprint indexes in ListState across ~459k bucket keys — the
    * highest state-KEY-cardinality operator in the repo (the other phases
    * stress deep state under FEW keys). A replayed batch must re-derive
    * exactly the pairs the killed attempt emitted: the store rolls back to
    * the last committed version, so each bucket's "who arrived before me"
    * relation — which decides WHEN a pair is emitted — must reconstruct
    * bit-identically. Output is the append-only confirmed pair set. */
  private def phaseE(spark: SparkSession, bigDir: String): PhaseResult = {
    val t0 = System.nanoTime()
    val feed = Tables.scratch(s"soak/x$Factor-neardup-feed")
    stageFeed(Tables.t(spark, bigDir, "documents").select("doc_id", "text"),
      feed, "doc_id", nFiles = 12)

    val schema = spark.read.parquet(feed).schema
    def docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(feed)

    def start(sink: String, ckpt: String): StreamingQuery =
      StreamingOps.startQuery(spark, graft.streaming.NearDupStream.pairs(spark, docs)
        .writeStream.format("parquet").option("path", sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()), ckpt)

    killRestartCompare(spark, "nd", start, spark.read.parquet(_), t0)
  }
}
