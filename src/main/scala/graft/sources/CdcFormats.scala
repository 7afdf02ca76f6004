package graft.sources

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC changelog ingestion formats — the reference's flagship 1.11 feature
  * (`CREATE TABLE … WITH ('format'='debezium-json')`): a JSON change-capture
  * feed decoded into a retraction stream the changelog operators consume.
  *
  * Reference semantics (re-expressed, not translated):
  *  - debezium-json (flink-formats/flink-json/src/main/java/org/apache/flink/
  *    formats/json/debezium/DebeziumJsonDeserializationSchema.java:107):
  *    envelope `{before, after, op}` (optionally nested under `payload` when
  *    Kafka Connect's schema envelope is enabled); op `c`/`r` → +I(after),
  *    `u` → -U(before) +U(after), `d` → -D(before); null `before` on
  *    update/delete is the REPLICA IDENTITY misconfiguration error; empty
  *    messages are Kafka tombstones and are skipped.
  *  - canal-json (…/canal/CanalJsonDeserializationSchema.java:100): envelope
  *    `{data: [...], old: [...], type}`; INSERT → +I per data row, DELETE →
  *    -D per data row, UPDATE → per index i: before = old[i] with its null
  *    fields copied from data[i] (canal's `old` carries only CHANGED
  *    columns), emitted as -U(before) +U(data[i]).
  *
  * Spark-first design: the whole decode is one `from_json` plus a CaseWhen
  * over higher-order functions (`transform`/`zip_with`/`flatten`) feeding a
  * single `explode` — native expressions end to end, whole-stage-codegen
  * eligible, zero UDFs. The same Column tree runs over a batch read, a file
  * stream, or a [[KafkaLog]] value column unchanged; at 100 TB the decode is
  * a map-only pass with no shuffle. Output: `kind` (+I/-U/+U/-D) followed by
  * the payload columns — directly consumable by ChangelogJoin / ChangelogAgg
  * / UpsertSink, closing ingestion→retraction end-to-end from text alone.
  */
object CdcFormats {

  private def ch(kind: String, row: Column): Column =
    struct(lit(kind).as("kind"), row.as("row"))

  private def out(decoded: DataFrame, payload: StructType): DataFrame =
    decoded.select(
      (col("c.kind").as("kind") +:
        payload.fieldNames.toSeq.map(f => col(s"c.row.`$f`").as(f))): _*)

  private def changeArrayType(payload: StructType): ArrayType =
    ArrayType(StructType(Seq(
      StructField("kind", StringType), StructField("row", payload))))

  /** Decode a debezium-json string column into a changelog DataFrame.
    *
    * @param schemaInclude the Kafka Connect envelope flag: payload nested
    *   under `payload` (the `schema` half is ignored, as in the reference).
    * @param ignoreParseErrors the reference's `debezium-json.ignore-parse-
    *   errors`: corrupt/unknown messages are silently DROPPED instead of
    *   failing the job (explode skips the null change array). Default
    *   false — fail loudly, like the reference.
    */
  def debezium(df: DataFrame, payload: StructType, valueCol: String = "value",
      schemaInclude: Boolean = false,
      ignoreParseErrors: Boolean = false): DataFrame = {
    val env0 = StructType(Seq(
      StructField("before", payload), StructField("after", payload),
      StructField("op", StringType)))
    val full =
      if (schemaInclude) StructType(Seq(StructField("payload", env0))) else env0
    val parsed = from_json(col(valueCol), full)
    // tombstones (null/empty values) are Kafka deletions-of-deletions:
    // skipped, as in the reference; then parse ONCE per row into a staged
    // projection — field accesses below reuse the struct instead of
    // leaning on codegen subexpression elimination to dedup the parse
    val staged = df
      .filter(col(valueCol).isNotNull && length(col(valueCol)) > 0)
      .select((if (schemaInclude) parsed.getField("payload") else parsed).as("e"))
    val env = col("e")
    val before = env.getField("before")
    val after = env.getField("after")
    val op = env.getField("op")
    val replicaMsg = "The \"before\" field of UPDATE/DELETE message is null; " +
      "check REPLICA IDENTITY FULL on the source table"
    val base = when(op.isin("c", "r"), array(ch("+I", after)))
    val changes =
      if (ignoreParseErrors)
        base
          .when(op === "u" && before.isNotNull,
            array(ch("-U", before), ch("+U", after)))
          .when(op === "d" && before.isNotNull, array(ch("-D", before)))
          .otherwise(lit(null).cast(changeArrayType(payload)))
      else
        base
          .when(op.isin("u", "d") && before.isNull, raise_error(lit(replicaMsg)))
          .when(op === "u", array(ch("-U", before), ch("+U", after)))
          .when(op === "d", array(ch("-D", before)))
          .otherwise(raise_error(
            concat(lit("unknown debezium op: "), coalesce(op, lit("null")))))
    out(staged.select(explode(changes).as("c")), payload)
  }

  /** Decode a canal-json string column into a changelog DataFrame.
    * `ignoreParseErrors` as in [[debezium]] (reference
    * `canal-json.ignore-parse-errors`). */
  def canal(df: DataFrame, payload: StructType,
      valueCol: String = "value",
      ignoreParseErrors: Boolean = false): DataFrame = {
    val env0 = StructType(Seq(
      StructField("data", ArrayType(payload)),
      StructField("old", ArrayType(payload)),
      StructField("type", StringType)))
    val staged = df
      .filter(col(valueCol).isNotNull && length(col(valueCol)) > 0)
      .select(from_json(col(valueCol), env0).as("e"))
    val env = col("e")
    val data = env.getField("data")
    val old = env.getField("old")
    val tpe = env.getField("type")
    // canal's `old` holds only the CHANGED columns; fill its nulls from the
    // new row so -U retracts the complete previous image (reference
    // CanalJsonDeserializationSchema.java:121-126)
    def mergedBefore(d: Column, o: Column): Column =
      struct(payload.fields.toSeq.map(f =>
        coalesce(o.getField(f.name), d.getField(f.name)).as(f.name)): _*)
    val base = when(tpe === "INSERT", transform(data, d => array(ch("+I", d))))
    val changes =
      if (ignoreParseErrors)
        base
          .when(tpe === "UPDATE" && old.isNotNull, zip_with(data, old,
            (d, o) => array(ch("-U", mergedBefore(d, o)), ch("+U", d))))
          .when(tpe === "DELETE", transform(data, d => array(ch("-D", d))))
          .otherwise(lit(null).cast(ArrayType(changeArrayType(payload))))
      else
        base
          .when(tpe === "UPDATE" && old.isNull,
            raise_error(lit("canal UPDATE without \"old\" field")))
          .when(tpe === "UPDATE", zip_with(data, old,
            (d, o) => array(ch("-U", mergedBefore(d, o)), ch("+U", d))))
          .when(tpe === "DELETE", transform(data, d => array(ch("-D", d))))
          .otherwise(raise_error(
            concat(lit("unknown canal type: "), coalesce(tpe, lit("null")))))
    out(staged.select(explode(flatten(changes)).as("c")), payload)
  }

  // ------------------------------------------------------------------
  // Registered queries: a deterministic CDC feed derived from `orders`
  // (insert at 90% price → even keys update to full price → 'F' orders
  // delete), serialized to real debezium/canal JSON text on scratch, read
  // back as text, decoded, and materialized. The oracle computes the same
  // final state directly from `orders`.
  // ------------------------------------------------------------------

  /** Payload schema of the synthetic feed. `version` plays the role the
    * reference leaves to Debezium's ts_ms: a payload-level change ordinal
    * (1.11 has no metadata columns either — that lands in 1.12). */
  val feedSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderpriority", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("version", IntegerType)))

  private def payloadCols(price: Column, version: Column): Column = struct(
    col("o_orderkey"), col("o_orderpriority"),
    price.as("o_totalprice"), version.cast(IntegerType).as("version"))
  private def payloadCols(price: Column, version: Int): Column =
    payloadCols(price, lit(version))

  private val discounted: Column = col("o_totalprice") * 0.9
  private val isEven: Column = col("o_orderkey") % 2 === 0
  private val latestPrice: Column =
    when(isEven, col("o_totalprice")).otherwise(discounted)
  private val latestVersion: Column = when(isEven, lit(2)).otherwise(lit(1))

  /** Each feed is a DETERMINISTIC function of the fixture dir, so the
    * writers memoize on disk: a `_graft_feed_complete` marker (underscore
    * prefix — Spark's file listing skips it like `_SUCCESS`) recording the
    * generator version is written after a successful write, and later
    * calls — from the OTHER CDC queries in the same run included — reuse
    * the directory instead of re-deriving and re-writing the feed. Bump
    * [[FeedVersion]] when changing any feed's content. */
  private val FeedVersion = "v3"

  /** Files per streaming-feed phase (r20, guide §2.5 "input skew: one huge
    * unsplittable file"): gzip text is unsplittable, so the previous
    * one-file-per-phase layout decoded each micro-batch in ONE task no
    * matter how many cores the session has. Phases are now written as
    * `PhaseFiles` same-mtime gzip files and the consumers read with
    * `maxFilesPerTrigger = PhaseFiles`, so a trigger still consumes EXACTLY
    * one phase (all files of a phase share its pinned mtime, and the file
    * source takes the oldest N) — identical batch boundaries, identical
    * per-key causal order (each key appears at most once per phase, so any
    * within-phase file split preserves keyed FIFO), 4x the decode
    * parallelism. This is the file analogue of a 4-partition CDC topic. */
  private[graft] val PhaseFiles = 4

  /** Guarantee a phase directory holds EXACTLY [[PhaseFiles]] data files
    * (ADVICE r20 / verdict item 7): Spark omits output files for empty
    * partitions, so a tiny phase whose hash layout leaves a partition
    * empty would emit fewer files — and the consumers' one-phase-per-
    * micro-batch invariant (`maxFilesPerTrigger = PhaseFiles`) would then
    * silently pull the NEXT phase's oldest files into the same batch,
    * merging a retraction with its insert's batch. Current fixtures write
    * thousands of rows per phase (all partitions non-empty), so this pads
    * nothing at the gated SFs; a smoke-sized input gets zero-row gzip
    * files (valid empty members — feed DATA bytes unchanged) up to the
    * count. Called before mtime pinning so pads share the phase's mtime. */
  private def padPhaseFiles(d: String): Unit = {
    val dir = java.nio.file.Paths.get(d)
    val ls = java.nio.file.Files.list(dir)
    val n =
      try ls.filter(p => p.getFileName.toString.startsWith("part-")).count().toInt
      finally ls.close()
    require(n <= PhaseFiles, s"phase $d wrote $n > $PhaseFiles part files")
    (n until PhaseFiles).foreach { i =>
      val os = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(dir.resolve(f"part-pad$i%05d.txt.gz")))
      os.close()
    }
  }
  // marker content = generator version + the source fixture's identity:
  // the round driver REGENERATES /root/testdata between rounds while the
  // tmpfs scratch can survive, so a version string alone would serve a
  // feed derived from the previous round's orders
  private def feedStamp(dir: String): String = {
    val p = java.nio.file.Paths.get(dir, "orders.parquet")
    s"$FeedVersion:${java.nio.file.Files.getLastModifiedTime(p).toMillis}:" +
      s"${java.nio.file.Files.size(p)}"
  }
  private def cachedFeed(outDir: String, dir: String)(write: => Unit): String = {
    val marker = java.nio.file.Paths.get(outDir, "_graft_feed_complete")
    val stamp = feedStamp(dir)
    val fresh = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == stamp
    if (!fresh) {
      write
      java.nio.file.Files.write(marker, stamp.getBytes("UTF-8"))
    }
    outDir
  }

  /** Write the orders-derived change feed as debezium-json lines; returns
    * the directory. One JSON object per change event, exactly the
    * envelope the reference decoder expects. */
  def writeDebeziumFeed(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val orders = Tables.t(s, dir, "orders")
    val nul = lit(null).cast(feedSchema)
    val ins = orders.select(to_json(struct(
      nul.as("before"), payloadCols(discounted, 1).as("after"),
      lit("c").as("op"))).as("value"))
    val upd = orders.filter(isEven).select(to_json(struct(
      payloadCols(discounted, 1).as("before"),
      payloadCols(col("o_totalprice"), 2).as("after"),
      lit("u").as("op"))).as("value"))
    val del = orders.filter(col("o_orderstatus") === "F").select(to_json(struct(
      payloadCols(latestPrice, latestVersion).as("before"),
      nul.as("after"), lit("d").as("op"))).as("value"))
    val outDir = Tables.scratch(
      s"cdc-debezium-${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    cachedFeed(outDir, dir) {
      ins.unionAll(upd).unionAll(del).coalesce(4)
        .write.mode("overwrite").text(outDir)
    }
  }

  /** Write the same feed as canal-json lines, batching 100 rows per message
    * (canal's `data` is an array) and carrying only the CHANGED columns in
    * `old` — the partial-image form the merge path must reconstruct. */
  def writeCanalFeed(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val orders = Tables.t(s, dir, "orders")
    // key-range message batching: deterministic AND shuffle-parallel (a
    // row_number window here would be a single-task global sort — the
    // canonical 100 TB anti-pattern for what is just array chunking)
    val batched = orders.withColumn("batch", floor(col("o_orderkey") / 200))
    val nulStr = lit(null).cast(StringType)
    val nulLong = lit(null).cast(LongType)
    // old image: only price+version changed → other fields null
    val oldPartial = struct(
      nulLong.as("o_orderkey"), nulStr.as("o_orderpriority"),
      discounted.as("o_totalprice"), lit(1).as("version"))
    val ins = batched.groupBy("batch").agg(to_json(struct(
      collect_list(payloadCols(discounted, 1)).as("data"),
      lit(null).cast(ArrayType(feedSchema)).as("old"),
      lit("INSERT").as("type"))).as("value"))
    val upd = batched.filter(isEven).groupBy("batch").agg(to_json(struct(
      collect_list(payloadCols(col("o_totalprice"), 2)).as("data"),
      collect_list(oldPartial).as("old"),
      lit("UPDATE").as("type"))).as("value"))
    val del = batched.filter(col("o_orderstatus") === "F").groupBy("batch")
      .agg(to_json(struct(
        collect_list(payloadCols(latestPrice, latestVersion)).as("data"),
        lit(null).cast(ArrayType(feedSchema)).as("old"),
        lit("DELETE").as("type"))).as("value"))
    val outDir = Tables.scratch(
      s"cdc-canal-${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    cachedFeed(outDir, dir) {
      ins.select("value").unionAll(upd.select("value"))
        .unionAll(del.select("value")).coalesce(4)
        .write.mode("overwrite").text(outDir)
    }
  }

  /** Write the debezium feed PHASED for streaming replay: inserts, updates
    * and deletes land in separate subdirectories with strictly increasing
    * modification times, so the file-stream source (which orders by mod
    * time) replays them causally — per-key ordered delivery, the same
    * contract a per-key-partitioned CDC topic gives the reference's
    * consumer (keyed FIFO). Returns the feed root. */
  def writeDebeziumFeedPhased(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val orders = Tables.t(s, dir, "orders")
    val nul = lit(null).cast(feedSchema)
    val root = Tables.scratch(
      s"cdc-debezium-phased-${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    val phases = Seq(
      "0_ins" -> orders.select(to_json(struct(
        nul.as("before"), payloadCols(discounted, 1).as("after"),
        lit("c").as("op"))).as("value")),
      "1_upd" -> orders.filter(isEven).select(to_json(struct(
        payloadCols(discounted, 1).as("before"),
        payloadCols(col("o_totalprice"), 2).as("after"),
        lit("u").as("op"))).as("value")),
      "2_del" -> orders.filter(col("o_orderstatus") === "F").select(to_json(struct(
        payloadCols(latestPrice, latestVersion).as("before"),
        nul.as("after"), lit("d").as("op"))).as("value")))
    cachedFeed(root, dir) {
      phases.zipWithIndex.foreach { case ((sub, df), i) =>
        val d = s"$root/$sub"
        // PhaseFiles files per phase, one phase per micro-batch (see
        // PhaseFiles): the minimum batch count that still forces every
        // retraction to consume state persisted in an EARLIER batch, now
        // with intra-batch decode parallelism. Partitioning by the message
        // text + sorting by its md5 keeps the feed bytes DETERMINISTIC
        // (the disk marker caches them) while staying decorrelated from
        // key order. gzip (r19): the 1000x phased/replayed feeds are
        // ~40-70 GB of raw json lines — past this container's disk AND its
        // RAM-backed scratch; json compresses ~10x. A real CDC topic is
        // compressed at rest and partitioned for the same reasons.
        df.repartition(PhaseFiles, col("value"))
          .sortWithinPartitions(md5(col("value")))
          .write.mode("overwrite")
          .option("compression", "gzip").text(d)
        padPhaseFiles(d)
        // pin mod times per phase: sequential writes are normally ordered
        // anyway, but same-millisecond ties would let the file source
        // interleave phases and break per-key causal order
        val t0 = java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L)
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(d))
        try ls.forEach(p => java.nio.file.Files.setLastModifiedTime(p, t0))
        finally ls.close()
      }
    }
  }

  /** Write the debezium feed with AT-LEAST-ONCE delivery artifacts: after
    * the ins/upd/del phases, the update and delete phases are RE-DELIVERED
    * (a consumer restarting from an earlier checkpoint replays the suffix
    * of the topic — duplicate -U/+U pairs and duplicate -D rows, in the
    * original offset order), and every phase is written KEY-SHUFFLED
    * (ordered by a hash of the key, not by key) so no consumer can lean on
    * accidental key-sorted input. Per-key causal order still holds — the
    * only ordering a real per-key-partitioned topic guarantees, and the
    * only one the reference's consumer assumes (keyed FIFO; replay from a
    * checkpoint repeats the same per-key sequence). Returns the feed root. */
  def writeDebeziumFeedReplayed(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val orders = Tables.t(s, dir, "orders")
    val nul = lit(null).cast(feedSchema)
    val root = Tables.scratch(
      s"cdc-debezium-replayed-${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
    val ins = orders.select(to_json(struct(
      nul.as("before"), payloadCols(discounted, 1).as("after"),
      lit("c").as("op"))).as("value"), col("o_orderkey"))
    val upd = orders.filter(isEven).select(to_json(struct(
      payloadCols(discounted, 1).as("before"),
      payloadCols(col("o_totalprice"), 2).as("after"),
      lit("u").as("op"))).as("value"), col("o_orderkey"))
    val del = orders.filter(col("o_orderstatus") === "F").select(to_json(struct(
      payloadCols(latestPrice, latestVersion).as("before"),
      nul.as("after"), lit("d").as("op"))).as("value"), col("o_orderkey"))
    // the replayed suffix repeats upd THEN del — offset order of the
    // original topic; replaying del before upd would be a reordering no
    // at-least-once system produces
    val phases = Seq("0_ins" -> ins, "1_upd" -> upd, "2_del" -> del,
      "3_replay_upd" -> upd, "4_replay_del" -> del)
    cachedFeed(root, dir) {
      phases.zipWithIndex.foreach { case ((sub, df), i) =>
        val d = s"$root/$sub"
        // key-shuffled within the phase: deterministic (partitioned by key,
        // sorted by key hash) but decorrelated from key order — no consumer
        // can lean on accidental key-sorted input. PhaseFiles same-mtime
        // files per phase (see PhaseFiles). gzip: see the phased writer —
        // the replayed feed is the largest (re-delivered suffix) and was
        // still growing past 58 GB when the r18 attempt was killed.
        df.repartition(PhaseFiles, col("o_orderkey"))
          .sortWithinPartitions(hash(col("o_orderkey"))).select("value")
          .write.mode("overwrite")
          .option("compression", "gzip").text(d)
        padPhaseFiles(d)
        val t0 = java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L)
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(d))
        try ls.forEach(p => java.nio.file.Files.setLastModifiedTime(p, t0))
        finally ls.close()
      }
    }
  }

  /** q_cdc_ingest: text file of debezium-json → decode → retractable
    * ChangelogAgg per priority → final materialized aggregate. The whole
    * reference story — CDC topic in, retraction-consuming aggregate out —
    * from serialized text alone. Oracle: the surviving final state computed
    * directly from `orders`.
    *
    * Scale posture: aggregate parallelism is bounded by GROUP-key
    * cardinality (5 priorities here), and the retractable min/max state is
    * a per-key value multiset — both EXACTLY the reference's bounds
    * (GroupAggFunction keyed state + Max/MinWithRetract MapState). A
    * 100 TB deployment aggregates CDC by a high-cardinality key or
    * pre-combines; the decode stage itself is map-only and embarrassingly
    * parallel either way. */
  val qCdcIngest: Q = Q(
    "q_cdc_ingest",
    (s, dir) => {
      import s.implicits._
      import graft.streaming.ChangelogAgg
      import graft.streaming.ChangelogAgg.AggChange
      val feed = writeDebeziumFeed(s, dir)
      val changelog = debezium(s.read.text(feed), feedSchema)
      // deterministic per-key ordinal (final state is order-insensitive;
      // the ordinal pins intermediate emission order for streaming runs).
      // The measure is QUANTIZED to integral 1e-4 units before it enters
      // the retractable sum: integer-valued doubles add and retract
      // EXACTLY (well under 2^53), so the accumulated total is
      // order-independent — the raw-double sum flipped a half-cent
      // rounding boundary against the oracle's batch sum at sf0.1.
      // r20 (guide §4): the phase/quantize arithmetic is plain column
      // algebra — native expressions (round(x, 0) is HALF_UP, identical to
      // math.round on the positive prices) instead of the previous typed
      // .map closure, which forced a deserialize → closure → re-serialize
      // round-trip per row in front of the keyed aggregation.
      val changes = changelog.select(
        $"o_orderpriority".as("key"),
        ($"o_orderkey" * 4 + when($"kind" === "+I", 0L)
          .when($"kind" === "-U", 1L).when($"kind" === "+U", 2L)
          .otherwise(3L)).as("seq"),
        $"kind",
        round($"o_totalprice" * 10000, 0).cast("double").as("value"))
        .as[AggChange[String]]
      ChangelogAgg.agg(changes).filter(_.kind == "+I").toDF()
        .select($"key".as("o_orderpriority"), $"cnt",
          round($"total" / 10000, 2).as("total"),
          round($"vmin" / 10000, 2).as("vmin"),
          round($"vmax" / 10000, 2).as("vmax"))
        .orderBy("o_orderpriority")
    },
    // the oracle mirrors the quantization exactly: round(x*1e4) per row
    // (half-up == half-away for positive prices), exact integral sum, then
    // /1e4 and the display rounding
    Some("""SELECT o_orderpriority,
           |       CAST(count(*) AS BIGINT) AS cnt,
           |       round(sum(round((CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
           |                      ELSE o_totalprice * 0.9 END) * 10000)) / 10000, 2) AS total,
           |       round(round(min(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
           |                      ELSE o_totalprice * 0.9 END) * 10000) / 10000, 2) AS vmin,
           |       round(round(max(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
           |                      ELSE o_totalprice * 0.9 END) * 10000) / 10000, 2) AS vmax
           |FROM orders WHERE o_orderstatus <> 'F'
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** q_cdc_canal: canal-json (array messages, partial `old` images) →
    * decode → upsert materialization of the final row set. Exercises the
    * changed-columns merge and multi-row message paths; the replay keeps a
    * key live iff its accumulate/retract counts net positive, taking the
    * highest-version image — one hash aggregate, no shuffle beyond it. */
  val qCdcCanal: Q = Q(
    "q_cdc_canal",
    (s, dir) => {
      val feed = writeCanalFeed(s, dir)
      val changelog = canal(s.read.text(feed), feedSchema)
      changelog
        .groupBy("o_orderkey")
        .agg(
          sum(when(col("kind").isin("+I", "+U"), 1).otherwise(-1)).as("net"),
          max_by(
            struct(col("o_orderpriority"), col("o_totalprice"), col("version")),
            when(col("kind").isin("+I", "+U"), col("version"))).as("last"))
        .filter(col("net") > 0)
        // no rounding: each price is one IEEE multiply JSON-round-tripped,
        // bitwise-identical to the oracle's expression — rounding would
        // REINTRODUCE drift (Spark's BigDecimal half-up vs DuckDB's
        // double rounding disagree exactly at the half-cent boundaries)
        .select(col("o_orderkey"), col("last.o_orderpriority"),
          col("last.o_totalprice"), col("last.version"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderpriority,
           |       CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
           |            ELSE o_totalprice * 0.9 END AS o_totalprice,
           |       CAST(CASE WHEN o_orderkey % 2 = 0 THEN 2 ELSE 1 END AS INT)
           |         AS version
           |FROM orders WHERE o_orderstatus <> 'F'
           |ORDER BY o_orderkey""".stripMargin))

  /** q_cdc_stream: the reference's WHOLE CDC deployment as a STREAMING
    * query — file-stream source over the phased feed (one file per
    * micro-batch, so inserts, updates and deletes genuinely cross batch
    * boundaries and retract state persisted in earlier batches), the same
    * decode Column tree, retractable ChangelogAgg, and a retract-aware
    * UPSERT SINK consuming the output changelog (+I/+U put, -D delete).
    * The materialized store equals the batch oracle — ingestion →
    * retraction → upsert end-to-end, exactly the q_cdc_ingest pipeline
    * under real micro-batched execution. */
  val qCdcStream: Q = Q(
    "q_cdc_stream",
    // r20: state partitions sized to the keyed cardinality (5 priorities) —
    // the established withStatePartitions discipline; the flatMapGroupsWith
    // State store was opening/committing 32 partition stores per micro-batch
    // for 5 keys (3 batches x 32 commits; now 3 x 8)
    (s, dir) => graft.streaming.StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      import graft.streaming.{ChangelogAgg, UpsertSink}
      import graft.streaming.ChangelogAgg.AggChange
      val feed = writeDebeziumFeedPhased(s, dir)
      val raw = s.readStream.option("maxFilesPerTrigger", PhaseFiles)
        .text(s"$feed/*/")
      // same native phase/quantize column algebra as q_cdc_ingest (r20,
      // guide §4 — see the comment there; the typed .map closure cost a
      // ser/deser round-trip per row per micro-batch here)
      val changes = debezium(raw, feedSchema).select(
        $"o_orderpriority".as("key"),
        ($"o_orderkey" * 4 + when($"kind" === "+I", 0L)
          .when($"kind" === "-U", 1L).when($"kind" === "+U", 2L)
          .otherwise(3L)).as("seq"),
        $"kind",
        round($"o_totalprice" * 10000, 0).cast("double").as("value"))
        .as[AggChange[String]]
      val agg = ChangelogAgg.agg(changes).toDF()
      val store = new UpsertSink.InMemoryStore()
      val ckpt = graft.streaming.StreamingOps.freshCheckpoint("cdc-stream")
      val q = graft.streaming.StreamingOps.startQuery(s,
        UpsertSink.foreachBatchChangelog(agg, "kind", Seq("key"), store)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()), ckpt)
      try q.awaitTermination()
      finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      // snapshot is keyed final state: 5 priority rows — metadata-sized
      val fin = store.snapshot().values.toSeq.map { row =>
        (row(0).asInstanceOf[String], row(2).asInstanceOf[Long],
          row(3).asInstanceOf[Double], row(4).asInstanceOf[Double],
          row(5).asInstanceOf[Double])
      }
      store.close()
      fin.toDF("o_orderpriority", "cnt", "total0", "vmin0", "vmax0")
        .select($"o_orderpriority", $"cnt",
          round($"total0" / 10000, 2).as("total"),
          round($"vmin0" / 10000, 2).as("vmin"),
          round($"vmax0" / 10000, 2).as("vmax"))
        .orderBy("o_orderpriority")
    },
    qCdcIngest.oracle) // same final state as the batch pipeline

  /** q_cdc_door: the reference's CDC deployment from SQL TEXT ALONE — a
    * streaming CDC source table (`'scan.mode'='streaming'`), a sink table,
    * and an INSERT INTO draining the decoded changelog into it, all three
    * statements through the unified door; the result is read back FROM THE
    * SINK FILES, so the oracle certifies the whole pipeline (DDL parse →
    * payload schema → streaming decode → AvailableNow drain → sink write),
    * not just the decode. Oracle: the change stream reconstructed
    * relationally from `orders`. */
  val qCdcDoor: Q = Q(
    "q_cdc_door",
    (s, dir) => {
      import graft.operators.GraftSql
      val feed = writeDebeziumFeed(s, dir)
      // fresh sink per invocation: the feed regenerates with new part-file
      // names each run, so a RESUMED stream (the door's stable-checkpoint
      // semantics, exercised in GraftSqlSpec) would drain the same logical
      // rows again — correct topic behavior, wrong for a deterministic
      // gate query
      val sinkPath = Tables.scratch(
        s"cdc-door-sink/graft_cdc_out-${java.util.UUID.randomUUID()}")
      GraftSql.run(s,
        s"""CREATE TABLE graft_cdc_src (
           |  o_orderkey BIGINT, o_orderpriority STRING,
           |  o_totalprice DOUBLE, version INT
           |) WITH ('format' = 'debezium-json', 'path' = '$feed',
           |        'scan.mode' = 'streaming')""".stripMargin)
      GraftSql.run(s,
        s"""CREATE TABLE graft_cdc_out (kind STRING, o_orderkey BIGINT,
           |  o_orderpriority STRING, o_totalprice DOUBLE, version INT)
           |WITH ('path' = '$sinkPath', 'format' = 'parquet')""".stripMargin)
      GraftSql.run(s,
        """INSERT INTO graft_cdc_out
          |SELECT kind, o_orderkey, o_orderpriority, o_totalprice, version
          |FROM graft_cdc_src""".stripMargin)
        .orderBy("o_orderkey", "kind")
    },
    Some("""SELECT kind, o_orderkey, o_orderpriority, o_totalprice,
           |       CAST(version AS INT) AS version FROM (
           |  SELECT '+I' AS kind, o_orderkey, o_orderpriority,
           |         o_totalprice * 0.9 AS o_totalprice, 1 AS version
           |  FROM orders
           |  UNION ALL
           |  SELECT '-U', o_orderkey, o_orderpriority, o_totalprice * 0.9, 1
           |  FROM orders WHERE o_orderkey % 2 = 0
           |  UNION ALL
           |  SELECT '+U', o_orderkey, o_orderpriority, o_totalprice, 2
           |  FROM orders WHERE o_orderkey % 2 = 0
           |  UNION ALL
           |  SELECT '-D', o_orderkey, o_orderpriority,
           |         CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
           |              ELSE o_totalprice * 0.9 END,
           |         CASE WHEN o_orderkey % 2 = 0 THEN 2 ELSE 1 END
           |  FROM orders WHERE o_orderstatus = 'F')
           |ORDER BY o_orderkey, kind""".stripMargin))

  /** q_cdc_upsert_door: the PRIMARY KEY → upsert-key wiring from SQL TEXT
    * ALONE — the reference derives an upsert sink's key from the DDL's
    * `PRIMARY KEY … NOT ENFORCED` constraint (SqlCreateTable.java:56 →
    * sink getChangelogMode; upsert-kafka/JDBC key their writes by it), no
    * explicit key columns in code. Three statements through the door: a
    * STREAMING CDC source over the phased feed (one micro-batch per phase
    * via 'scan.files-per-trigger', so retractions consume state from
    * earlier batches), a PK-declared sink, and an INSERT INTO whose
    * changelog drains through the retract-aware keyed store. The sink then
    * holds the FINAL STATE — one row per surviving order, kind dropped —
    * which the oracle reconstructs relationally from `orders`. */
  val qCdcUpsertDoor: Q = Q(
    "q_cdc_upsert_door",
    (s, dir) => {
      import graft.operators.GraftSql
      val feed = writeDebeziumFeedPhased(s, dir)
      // fresh sink per invocation (same reason as q_cdc_door: the upsert
      // drain uses a fresh checkpoint and overwrites the sink wholesale)
      val sinkPath = Tables.scratch(
        s"cdc-upsert-sink/graft_cdc_upsert-${java.util.UUID.randomUUID()}")
      GraftSql.run(s,
        s"""CREATE TABLE graft_cdc_upsert_src (
           |  o_orderkey BIGINT, o_orderpriority STRING,
           |  o_totalprice DOUBLE, version INT
           |) WITH ('format' = 'debezium-json', 'path' = '$feed/*/',
           |        'scan.mode' = 'streaming',
           |        'scan.files-per-trigger' = '$PhaseFiles')""".stripMargin)
      GraftSql.run(s,
        s"""CREATE TABLE graft_cdc_upsert_out (
           |  kind STRING, o_orderkey BIGINT, o_orderpriority STRING,
           |  o_totalprice DOUBLE, version INT,
           |  PRIMARY KEY (o_orderkey) NOT ENFORCED)
           |WITH ('path' = '$sinkPath', 'format' = 'parquet')""".stripMargin)
      GraftSql.run(s,
        """INSERT INTO graft_cdc_upsert_out
          |SELECT kind, o_orderkey, o_orderpriority, o_totalprice, version
          |FROM graft_cdc_upsert_src""".stripMargin)
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderpriority,
           |       CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
           |            ELSE o_totalprice * 0.9 END AS o_totalprice,
           |       CAST(CASE WHEN o_orderkey % 2 = 0 THEN 2 ELSE 1 END AS INT)
           |         AS version
           |FROM orders WHERE o_orderstatus <> 'F'
           |ORDER BY o_orderkey""".stripMargin))

  /** q_cdc_replay: CONVERGENCE UNDER AT-LEAST-ONCE DELIVERY — the replayed
    * feed re-delivers the update+delete suffix (a consumer restart from an
    * earlier checkpoint) with every phase key-shuffled, and the keyed
    * upsert materialization still converges to the exact batch state.
    * This is the reference's recovery contract made testable: changelog-
    * consuming keyed state is idempotent under exact per-key replay
    * (puts of the same image and deletes of absent keys are no-ops), so
    * at-least-once transport + keyed upsert = effectively-once results.
    * Oracle: the surviving final rows reconstructed relationally. */
  val qCdcReplay: Q = Q(
    "q_cdc_replay",
    (s, dir) => {
      import s.implicits._
      import graft.streaming.UpsertSink
      val feed = writeDebeziumFeedReplayed(s, dir)
      val raw = s.readStream.option("maxFilesPerTrigger", PhaseFiles)
        .text(s"$feed/*/")
      val changes = debezium(raw, feedSchema)
        .select(col("kind"), col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"), col("version"))
      val store = new UpsertSink.InMemoryStore()
      val ckpt = graft.streaming.StreamingOps.freshCheckpoint("cdc-replay")
      val q = graft.streaming.StreamingOps.startQuery(s, UpsertSink.foreachBatchChangelog(
        changes, "kind", Seq("o_orderkey"), store)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()), ckpt)
      try q.awaitTermination()
      finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      val fin = store.snapshot().values.toSeq.map { row =>
        (row(1).asInstanceOf[Long], row(2).asInstanceOf[String],
          row(3).asInstanceOf[Double], row(4).asInstanceOf[Int])
      }
      store.close()
      fin.toDF("o_orderkey", "o_orderpriority", "o_totalprice", "version")
        .orderBy("o_orderkey")
    },
    qCdcCanal.oracle) // same surviving state despite duplicate delivery

  val all: Seq[Q] =
    Seq(qCdcIngest, qCdcCanal, qCdcStream, qCdcDoor, qCdcUpsertDoor, qCdcReplay)
}
