package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** The reference's CREATE TABLE text surface (flink-sql-parser
  * SqlCreateTable.java:56): watermarked streaming sources, computed columns,
  * CDC-format sources, writable sinks, and the 1.11 `CREATE TABLE … LIKE`
  * options-merging clause (FLIP-110).
  *
  * Spark SQL has no watermark/computed-column DDL, so the DDL maps to:
  * register the source as a temp view with computed columns projected and
  * `withWatermark` already applied — downstream `spark.sql` text then
  * queries it exactly like the reference queries a watermarked table.
  *
  * Plain (non-computed) column definitions on parquet-backed sources are
  * accepted and ignored — the fixture's schema is authoritative
  * (schema-on-read; the reference validates declared columns against the
  * connector instead). CDC JSON sources are the exception: a JSON feed has
  * no authoritative file schema, so there the declared columns ARE the
  * payload schema.
  */
object GraftDdl {

  /** CREATE [STREAMING] VIEW name AS SELECT * FROM parquet-fixture with
    * WATERMARK FOR tsCol AS tsCol - delay, computed columns projected
    * BEFORE the watermark so a computed rowtime can carry it. */
  def createStreamView(spark: SparkSession, dir: String, table: String,
      viewName: String, tsCol: String, delay: String,
      computed: Seq[(String, String)] = Nil): Unit = {
    val base = computed.foldLeft(StreamingOps.streamTable(spark, dir, table)) {
      case (df, (name, e)) => df.withColumn(name, expr(e))
    }
    base.withWatermark(tsCol, delay).createOrReplaceTempView(viewName)
  }

  private val OptR = "'([^']+)'\\s*=\\s*'([^']*)'".r

  // generic CREATE TABLE shape; cols may contain parens (DECIMAL(10,2)) —
  // greedy match backtracks to the ')' before WITH. The PARTITIONED BY
  // variant (the reference's filesystem/hive partition clause,
  // SqlCreateTable.java:323) is a SEPARATE mandatory-clause pattern tried
  // first: inside one optional group the greedy cols match would swallow
  // the clause instead of yielding it.
  private val TableR =
    "(?is)CREATE TABLE (\\w+)\\s*\\((.*)\\)\\s*WITH \\((.*)\\)\\s*;?\\s*".r
  private val TablePartR =
    ("(?is)CREATE TABLE (\\w+)\\s*\\((.*)\\)\\s*" +
      "PARTITIONED\\s+BY\\s*\\(([\\w,\\s]*)\\)\\s*WITH \\((.*)\\)\\s*;?\\s*").r
  private val WatermarkR =
    ("(?is)WATERMARK\\s+FOR\\s+(\\w+)\\s+AS\\s+\\1\\s*-\\s*" +
      "INTERVAL\\s*'(\\d+)'\\s*(SECOND|MINUTE|HOUR|DAY)S?").r
  // CREATE TABLE derived [(extra cols)] [WITH (opts)] LIKE base [(like options)]
  private val LikeR =
    ("(?is)CREATE TABLE (\\w+)\\s*(?:\\((.*?)\\)\\s*)?" +
      "(?:WITH \\((.*?)\\)\\s*)?LIKE\\s+(\\w+)\\s*(?:\\(([^)]*)\\))?\\s*;?\\s*").r

  private[graft] def parseOpts(optsTxt: String): Map[String, String] =
    OptR.findAllMatchIn(optsTxt)
      .map(m => m.group(1).toLowerCase -> m.group(2)).toMap

  /** Split a column-definition list on top-level commas only (commas inside
    * DECIMAL(10,2), TO_TIMESTAMP(a, 'fmt') etc. don't split). */
  private[streaming] def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var inStr = false
    for (i <- s.indices) s.charAt(i) match {
      case '\'' => inStr = !inStr
      case '(' if !inStr => depth += 1
      case ')' if !inStr => depth -= 1
      case ',' if !inStr && depth == 0 =>
        out += s.substring(start, i); start = i + 1
      case _ =>
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private val ComputedR = "(?is)(\\w+)\\s+AS\\s+(.+)".r

  /** The `col AS expr` entries of a column list (reference SqlTableColumn's
    * computed-column form) — WATERMARK and PRIMARY KEY clauses excluded. */
  def computedColumns(cols: String): Seq[(String, String)] =
    splitTopLevel(cols).flatMap {
      case c if c.toUpperCase.startsWith("WATERMARK") => None
      case c if c.toUpperCase.startsWith("PRIMARY") => None
      case ComputedR(n, e) => Some(n -> e.trim)
      case _ => None
    }

  /** Registered definition of every table a session created — what LIKE
    * clones (the reference resolves LIKE against CatalogTable metadata the
    * same way: SqlCreateTable.java:56 + FLIP-110 merge rules). Per session,
    * like the reference's CatalogManager: another session cannot see it. */
  final case class TableDef(cols: String, opts: Map[String, String],
      partitions: Seq[String] = Nil)
  private val defs =
    new graft.SessionScoped(scala.collection.concurrent.TrieMap[String, TableDef]())

  /** WITH options of a declared table — how runtime operators read
    * connector knobs the DDL carried (the reference resolves e.g.
    * `lookup.cache.max-rows` from the CatalogTable's options the same
    * way: JdbcDynamicTableFactory.java reads them off the table config). */
  def tableOptions(spark: SparkSession, name: String): Option[Map[String, String]] =
    defs(spark).get(name.toLowerCase).map(_.opts)

  /** Resolve `CREATE TABLE … LIKE base (…)` into a SELF-CONTAINED CREATE
    * TABLE against the base's registered definition; non-LIKE DDL passes
    * through unchanged. Resolution (not the LIKE text) is what
    * [[GraftCatalog]] persists, so catalog replay is order-independent —
    * the durable analogue of the reference storing resolved CatalogTable
    * metadata, not the LIKE clause.
    *
    * Merge rules (FLIP-110, the 1.11 subset, per-feature like the
    * reference's MergeTableLikeUtil): the base's PHYSICAL columns are
    * always inherited — merging strategies only govern features. Each of
    * OPTIONS / GENERATED (computed columns) / WATERMARKS / CONSTRAINTS
    * takes INCLUDING (default), EXCLUDING, or OVERWRITING; `INCLUDING ALL`
    * / `EXCLUDING ALL` set the default for every feature at once. A WITH
    * option redeclared on the derived table without OVERWRITING OPTIONS is
    * an error. Extra declared columns append after the base's. */
  def resolveDdl(spark: SparkSession, ddl: String): String = ddl.trim match {
    case LikeR(name, extraCols, optsTxt, baseName, likeOpts) =>
      val base = defs(spark).getOrElse(baseName.toLowerCase,
        throw new IllegalArgumentException(
          s"CREATE TABLE $name LIKE $baseName: unknown base table '$baseName'"))
      val likeU = Option(likeOpts).getOrElse("").toUpperCase
      // per-feature strategy: explicit "<STRATEGY> <FEATURE>" wins, else
      // "<STRATEGY> ALL", else INCLUDING (MergeTableLikeUtil's defaults)
      def strategy(feature: String): String =
        s"(INCLUDING|EXCLUDING|OVERWRITING)\\s+$feature".r
          .findFirstMatchIn(likeU).map(_.group(1))
          .orElse("(INCLUDING|EXCLUDING)\\s+ALL".r
            .findFirstMatchIn(likeU).map(_.group(1)))
          .getOrElse("INCLUDING")
      val optStrat = strategy("OPTIONS")
      val derived = parseOpts(Option(optsTxt).getOrElse(""))
      val inherited =
        if (optStrat == "EXCLUDING") Map.empty[String, String] else base.opts
      val dup = inherited.keySet.intersect(derived.keySet)
      if (dup.nonEmpty && optStrat != "OVERWRITING")
        throw new IllegalArgumentException(
          s"CREATE TABLE $name LIKE $baseName redeclares option(s) " +
            s"${dup.mkString(", ")} — add (OVERWRITING OPTIONS) to override")
      val merged = inherited ++ derived
      // physical columns ALWAYS inherit; computed columns / watermark /
      // constraints drop under their feature's EXCLUDING strategy. When the
      // DERIVED table redeclares a single-instance feature (watermark,
      // primary key), the reference's MergeTableLikeUtil either errors
      // (INCLUDING — "there already exists a watermark spec") or lets the
      // derived clause WIN (OVERWRITING); keeping both would make the
      // registration regexes pick the BASE clause silently.
      val derivedU = Option(extraCols).getOrElse("")
      val derivedCols = splitTopLevel(derivedU).map(_.toUpperCase)
      val derivedHasWatermark = derivedCols.exists(_.startsWith("WATERMARK"))
      val derivedHasPk = derivedCols.exists(_.startsWith("PRIMARY"))
      def mergeSingle(feature: String, baseHas: Boolean, derivedHas: Boolean): Boolean = {
        // returns: keep the BASE clause?
        val strat = strategy(feature)
        if (strat == "EXCLUDING") false
        else if (derivedHas && baseHas && strat == "OVERWRITING") false // derived wins
        else if (derivedHas && baseHas)
          throw new IllegalArgumentException(
            s"CREATE TABLE $name LIKE $baseName redeclares its " +
              s"${feature.toLowerCase} — add (OVERWRITING $feature) to override")
        else true
      }
      val baseColSeq = splitTopLevel(base.cols)
      val baseHasWatermark = baseColSeq.exists(_.toUpperCase.startsWith("WATERMARK"))
      val baseHasPk = baseColSeq.exists(_.toUpperCase.startsWith("PRIMARY"))
      val keepComputed = strategy("GENERATED") != "EXCLUDING"
      val keepWatermark = mergeSingle("WATERMARKS", baseHasWatermark, derivedHasWatermark)
      val keepConstraints = mergeSingle("CONSTRAINTS", baseHasPk, derivedHasPk)
      val baseCols = baseColSeq.filter { c =>
        val u = c.toUpperCase
        if (u.startsWith("WATERMARK")) keepWatermark
        else if (u.startsWith("PRIMARY")) keepConstraints
        else c match {
          case ComputedR(_, _) => keepComputed
          case _ => true // physical column: unconditional
        }
      }.mkString(", ")
      val cols = Seq(baseCols, Option(extraCols).getOrElse(""))
        .filter(_.trim.nonEmpty).mkString(", ")
      val optsSql = merged.toSeq.sortBy(_._1)
        .map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
      // PARTITIONS is its own FLIP-110 feature; physical-layout metadata
      // inherits unless excluded
      val partSql =
        if (base.partitions.nonEmpty && strategy("PARTITIONS") != "EXCLUDING")
          s" PARTITIONED BY (${base.partitions.mkString(", ")})"
        else ""
      s"CREATE TABLE $name ($cols)$partSql WITH ($optsSql)"
    case other => other
  }

  /** Parse one CREATE TABLE statement and register its object:
    *  - columns containing a WATERMARK clause → watermarked streaming
    *    source view (computed columns projected first);
    *  - WITH 'format' = 'debezium-json' / 'canal-json' → CDC changelog
    *    source view over a JSON-lines path, declared columns = payload
    *    schema (FLINK-15331);
    *  - otherwise → writable sink registration ([[SinkDef]]).
    * `CREATE TABLE … LIKE` resolves against the base definition first.
    * Returns the registered name. */
  def executeDdl(spark: SparkSession, ddl: String): String =
    resolveDdl(spark, ddl) match {
      case TablePartR(name, cols, partTxt, optsTxt) =>
        registerTable(spark, name, cols,
          partTxt.split(",").map(_.trim).filter(_.nonEmpty).toSeq, optsTxt)
      case TableR(name, cols, optsTxt) =>
        registerTable(spark, name, cols, Nil, optsTxt)
      case other => throw new IllegalArgumentException(
        s"unparseable DDL (expected CREATE TABLE … [WATERMARK FOR …] [PARTITIONED BY (…)] WITH (…) [LIKE …]): $other")
    }

  private def registerTable(spark: SparkSession, name: String, cols: String,
      partitions: Seq[String], optsTxt: String): String = {
        val opts = parseOpts(optsTxt)
        defs(spark)(name.toLowerCase) = TableDef(cols.trim, opts, partitions)
        val computed = computedColumns(cols)
        // Kafka dynamic table (reference flink-connector-kafka
        // KafkaDynamicTableFactory.java: 'connector'='kafka', 'topic',
        // value format) over the file-backed log broker
        // ([[graft.sources.KafkaLog]] — 'path' is the log base dir, this
        // zero-egress environment's bootstrap.servers analogue). Checked
        // BEFORE the watermark dispatch: a watermarked kafka table applies
        // its watermark over the DECODED record stream, not the
        // parquet-fixture path. Value format: 'format'='json' decodes the
        // record VALUE into the declared payload columns (the reference's
        // json value format); absent/'raw' exposes the record contract
        // (partition, offset, key, value, ts). 'scan.mode'='streaming'
        // tails new segments; default is a bounded batch read — the only
        // startup mode ('earliest-offset') a bounded replay can honor.
        if (opts.get("connector").contains("kafka")) {
          import org.apache.spark.sql.functions.{col => c, from_json}
          val topic = opts.getOrElse("topic", throw new IllegalArgumentException(
            "WITH option 'topic' is required for connector=kafka"))
          val path = opts.getOrElse("path", throw new IllegalArgumentException(
            "WITH option 'path' (log base dir) is required for connector=kafka"))
          val raw =
            if (opts.get("scan.mode").contains("streaming"))
              graft.sources.KafkaLog.readStream(spark, path, topic)
            else graft.sources.KafkaLog.readBatch(spark, path, topic)
          val decoded = opts.get("format") match {
            case Some("json") =>
              val payload = parsePayloadSchema(name, cols)
              raw.select(from_json(c("value"), payload).as("v"))
                .select(payload.fieldNames.toIndexedSeq.map(f => c(s"v.$f")): _*)
            case Some("raw") | None => raw
            case Some(other) => throw new IllegalArgumentException(
              s"connector=kafka table '$name': unsupported value format " +
                s"'$other' (supported: json, raw) — silently exposing the " +
                "raw record contract would drop the declared schema")
          }
          val projected = computed.foldLeft(decoded) {
            case (df, (n, e)) => df.withColumn(n, expr(e))
          }
          val withWm = WatermarkR.findFirstMatchIn(cols) match {
            case Some(wm) => projected.withWatermark(wm.group(1),
              s"${wm.group(2)} ${wm.group(3).toLowerCase}s")
            case None => projected
          }
          withWm.createOrReplaceTempView(name)
          return name
        }
        WatermarkR.findFirstMatchIn(cols) match {
          case Some(wm) =>
            val dir = opts.getOrElse("path",
              throw new IllegalArgumentException("WITH option 'path' is required"))
            createStreamView(spark, dir, opts.getOrElse("table", name), name,
              wm.group(1), s"${wm.group(2)} ${wm.group(3).toLowerCase}s", computed)
            name
          case None if opts.get("connector").contains("datagen") =>
            // utility source (reference DataGenTableSourceFactory.java:62):
            // declared columns are the generated schema
            val schema = parsePayloadSchema(name, cols)
            val projected = computed.foldLeft(
              graft.sources.DataGen.relation(spark, schema, opts)) {
              case (df, (n, e)) => df.withColumn(n, expr(e))
            }
            projected.createOrReplaceTempView(name)
            name
          case None if opts.get("connector").contains("jdbc") =>
            // JDBC lookup dim (reference JdbcDynamicTableFactory: point
            // reads keyed by the join key, `lookup.cache.max-rows` /
            // `lookup.cache.ttl` / `lookup.async` options): no scan view —
            // the table is consumed through LookupJoin's backend SPI, which
            // reads these options back via [[tableOptions]]
            name
          case None if opts.get("connector").exists(c =>
              c == "print" || c == "blackhole") =>
            // utility sinks (reference PrintTableSinkFactory /
            // BlackHoleTableSinkFactory): pathless — INSERT INTO prints on
            // the executors / discards, handled by the door's executeInsert
            sinks(spark)(name.toLowerCase) =
              SinkDef("", opts("connector"), primaryKeyOf(cols))
            name
          case None => opts.get("format") match {
            case Some(fmt @ ("debezium-json" | "canal-json")) =>
              // CDC ingestion table (reference: `'format'='debezium-json'`
              // turning a CDC feed into a retraction stream — FLINK-15331).
              val path = opts.getOrElse("path",
                throw new IllegalArgumentException("WITH option 'path' is required"))
              val payload = parsePayloadSchema(name, cols)
              // 'scan.mode' = 'streaming' registers a STREAMING changelog
              // view (file-stream tailing the feed directory — the CDC
              // topic consumer posture); default is a bounded batch read
              // of the feed so far. The decode Column tree is identical.
              // 'scan.files-per-trigger' caps files per micro-batch — a
              // phased feed (one file per phase) then replays each phase as
              // its own batch, preserving cross-phase causal order per key
              // the way a keyed CDC topic partition does.
              val raw =
                if (opts.get("scan.mode").contains("streaming")) {
                  val reader = spark.readStream
                  opts.get("scan.files-per-trigger")
                    .foreach(n => reader.option("maxFilesPerTrigger", n))
                  reader.text(path)
                } else spark.read.text(path)
              // reference format options, same keys (JsonOptions.java):
              // <format>.ignore-parse-errors drops corrupt messages;
              // debezium-json.schema-include unwraps the Connect envelope
              val lenient = opts.get(s"$fmt.ignore-parse-errors").contains("true")
              val decoded =
                if (fmt == "debezium-json")
                  graft.sources.CdcFormats.debezium(raw, payload,
                    schemaInclude =
                      opts.get("debezium-json.schema-include").contains("true"),
                    ignoreParseErrors = lenient)
                else graft.sources.CdcFormats.canal(raw, payload,
                  ignoreParseErrors = lenient)
              val projected = computed.foldLeft(decoded) {
                case (df, (n, e)) => df.withColumn(n, expr(e))
              }
              projected.createOrReplaceTempView(name)
              name
            case _ =>
              val path = opts.getOrElse("path",
                throw new IllegalArgumentException("WITH option 'path' is required"))
              sinks(spark)(name.toLowerCase) =
                SinkDef(path, opts.getOrElse("format", "parquet"),
                  primaryKeyOf(cols), partitions, opts)
              name
          }
        }
  }

  /** Declared columns → payload StructType for formats where the DDL is
    * schema-authoritative (CDC JSON). Computed columns and constraint
    * clauses (`PRIMARY KEY … NOT ENFORCED` — 1.11's upsert-key declaration)
    * are stripped: Spark has no enforced constraints either, and the
    * changelog operators key explicitly. */
  private[streaming] def parsePayloadSchema(name: String, cols: String)
      : org.apache.spark.sql.types.StructType = {
    val plain = splitTopLevel(cols).filter { c =>
      val u = c.toUpperCase
      !u.startsWith("WATERMARK") && !u.startsWith("PRIMARY") &&
        (c match { case ComputedR(_, _) => false; case _ => true })
    }.mkString(", ")
    try org.apache.spark.sql.types.StructType.fromDDL(plain)
    catch { case e: Exception => throw new IllegalArgumentException(
      s"CDC table '$name': cannot parse declared columns as a schema " +
        s"(${e.getMessage}): $plain") }
  }

  // ---- sink tables (reference: CREATE TABLE without a watermark backed by
  // a writable connector; the INSERT INTO target of SqlToOperationConverter)

  /** A registered sink: where INSERT INTO writes. Column declarations are
    * schema-on-write (the SELECT's schema is authoritative), matching the
    * source-side schema-on-read stance documented above. `primaryKey` is
    * the DDL's `PRIMARY KEY (…) NOT ENFORCED` constraint — the reference
    * uses it to key upsert sinks (SqlCreateTable.java:56 constraint → sink
    * getChangelogMode; upsert-kafka/JDBC key their writes by it), and the
    * door's INSERT INTO derives retract-aware upsert materialization from
    * it when the inserted query is a changelog. */
  final case class SinkDef(path: String, format: String,
      primaryKey: Seq[String] = Nil, partitions: Seq[String] = Nil,
      opts: Map[String, String] = Map.empty)

  private val PkR = "(?is)PRIMARY\\s+KEY\\s*\\(([\\w,\\s]*)\\)".r

  /** PRIMARY KEY column list of a declared column set (empty when none). */
  private[streaming] def primaryKeyOf(cols: String): Seq[String] =
    PkR.findFirstMatchIn(cols)
      .map(_.group(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)

  private val sinks =
    new graft.SessionScoped(scala.collection.concurrent.TrieMap[String, SinkDef]())

  /** Look up a sink `spark` registered by a CREATE TABLE … WITH (…) DDL. */
  def sink(spark: SparkSession, name: String): Option[SinkDef] =
    sinks(spark).get(name.toLowerCase)

  /** Unregister a sink — the DROP TABLE half of the DDL lifecycle (reference
    * DropTableOperation, SqlCommandParser.java:113). True iff it existed. */
  def dropSink(spark: SparkSession, name: String): Boolean =
    sinks(spark).remove(name.toLowerCase).isDefined

  /** `ALTER TABLE a RENAME TO b` on a registered sink (reference
    * SqlAlterTableRename.java). True iff `from` existed. */
  def renameSink(spark: SparkSession, from: String, to: String): Boolean =
    sinks(spark).remove(from.toLowerCase) match {
      case Some(sd) => sinks(spark)(to.toLowerCase) = sd; true
      case None => false
    }

  /** `ALTER TABLE name SET ('k'='v', …)` on a registered sink (reference
    * SqlAlterTableProperties — 1.11's table-options alter): merge the given
    * options into the SinkDef. True iff the sink existed. */
  def alterSink(spark: SparkSession, name: String, optsTxt: String): Boolean =
    sinks(spark).get(name.toLowerCase) match {
      case Some(sd) =>
        val opts = parseOpts(optsTxt)
        sinks(spark)(name.toLowerCase) = SinkDef(
          opts.getOrElse("path", sd.path), opts.getOrElse("format", sd.format),
          sd.primaryKey, sd.partitions, sd.opts ++ opts)
        true
      case None => false
    }

  /** Column-list surgery on a registered table definition (the Hive
    * dialect's ADD/REPLACE COLUMNS — SqlAlterHiveTableAddReplaceColumn):
    * ADD appends after the existing non-partition columns; REPLACE swaps
    * the whole non-partition list. Partition columns are schema-final and
    * immutable in Hive (the dialect appends their typed definitions to the
    * column list — SqlCreateHiveTable.java:100-103), so on a partitioned
    * table the surgery applies to the NON-PARTITION prefix only: REPLACE
    * keeps the partition tail, ADD inserts before it. The definition drives
    * LIKE resolution and payload-schema parsing; the physical files are
    * schema-on-write (parquet merges by name), so this is metadata surgery
    * exactly like the reference's catalog update. Returns false when the
    * name is not a registered definition. */
  def alterCols(spark: SparkSession, name: String, newCols: String,
      replace: Boolean): Boolean =
    defs(spark).get(name.toLowerCase) match {
      case Some(d) =>
        val partSet = d.partitions.map(_.toLowerCase).toSet
        def isPartDef(c: String) =
          partSet.contains(c.split("\\s+").headOption.getOrElse("").toLowerCase)
        val (partTail, prefix) = splitTopLevel(d.cols).partition(isPartDef)
        splitTopLevel(newCols).filter(isPartDef).foreach { c =>
          throw new IllegalArgumentException(
            s"ALTER TABLE $name: '${c.split("\\s+")(0)}' is a partition " +
              "column — partition columns are immutable (Hive rejects " +
              "redeclaring them through ADD/REPLACE COLUMNS)")
        }
        val newPrefix =
          if (replace) Seq(newCols.trim)
          else (prefix :+ newCols.trim).filter(_.nonEmpty)
        val cols = (newPrefix ++ partTail).mkString(", ")
        defs(spark)(name.toLowerCase) = d.copy(cols = cols)
        true
      case None => false
    }

  /** Declared column text of a registered definition (for assertions and
    * DESCRIBE-style listings). */
  def tableCols(spark: SparkSession, name: String): Option[String] =
    defs(spark).get(name.toLowerCase).map(_.cols)

  /** Names of every registered sink; SHOW TABLES merges these with the Spark
    * catalog's views (the reference lists sources and sinks alike — both are
    * catalog tables there). */
  def sinkNames(spark: SparkSession): Seq[String] = sinks(spark).keys.toSeq
}
