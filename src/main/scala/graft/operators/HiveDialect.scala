package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.SparkSession

/** Hive SQL dialect for the unified door — the reference's FLIP-123
  * surface (flink-table/flink-sql-parser-hive/.../ddl/SqlCreateHiveTable
  * .java:45, dml/RichSqlHiveInsert.java:35; dialect switch
  * `SET table.sql-dialect=hive`, TableConfig#setSqlDialect wired through
  * the SQL client's SET command in 1.11).
  *
  * The reference parses Hive DDL with a dedicated Calcite parser and lowers
  * it onto the SAME catalog/table machinery as the default dialect
  * (SqlCreateHiveTable extends SqlCreateTable, appending the typed
  * partition columns to the schema and encoding EXTERNAL / LOCATION / ROW
  * FORMAT / STORED AS as table options — SqlCreateHiveTable.java:96-103).
  * This module does exactly that as a TEXT-TO-TEXT translation: when the
  * session dialect is `hive`, the door rewrites each Hive-dialect statement
  * into the engine's default-dialect form and dispatches it through the one
  * existing path — no second execution pipeline (the r11 REPL lesson).
  *
  * Translated surface (each rule names its reference form):
  *  - CREATE [EXTERNAL] TABLE name (cols) [COMMENT] [PARTITIONED BY (typed
  *    partition cols)] [ROW FORMAT DELIMITED [FIELDS TERMINATED BY '…']]
  *    [STORED AS PARQUET|ORC|TEXTFILE] [LOCATION '…'] [TBLPROPERTIES (…)]
  *    → engine CREATE TABLE with the partition columns APPENDED to the
  *    schema (Hive declares them outside it), PARTITIONED BY (names), and
  *    a WITH clause carrying path/format/is-external/properties. A table
  *    without LOCATION lands under the session warehouse directory
  *    (`hive.metastore.warehouse.dir`, HiveConf's key) like a managed
  *    Hive table.
  *  - INSERT INTO|OVERWRITE TABLE t … → the TABLE keyword (Hive-only
  *    grammar, RichSqlHiveInsert) is dropped; the engine's insert path
  *    handles INTO/OVERWRITE and static/dynamic PARTITION specs already.
  *  - ALTER TABLE t SET TBLPROPERTIES (…) / SET LOCATION '…'
  *    (SqlAlterHiveTableProps/-Location) → the engine's ALTER TABLE …
  *    SET ('k'='v') option merge.
  *  - Queries pass through untouched: 1.11's dialect switch affects DDL
  *    parsing; query syntax stays Calcite in both dialects.
  *
  * Deliberate rejections (clear errors, not silent drops): ROW FORMAT
  * SERDE, STORED AS INPUTFORMAT/OUTPUTFORMAT, STORED BY, CLUSTERED BY,
  * SKEWED BY (the reference's own parser TODO-list at
  * FlinkHiveSqlParserImplTest.java:297 covers part of this), IF NOT
  * EXISTS (the engine's registry re-registers unconditionally — accepting
  * the clause would silently change semantics), and non-comma FIELDS
  * TERMINATED BY (the filesystem sink writes standard CSV).
  */
object HiveDialect {

  /** The reference's dialect option key (TableConfigOptions
    * "table.sql-dialect"), stored in the session conf by the door's SET. */
  val DialectKey = "table.sql-dialect"

  /** Hive's warehouse-directory key (HiveConf METASTOREWAREHOUSE) — where
    * a managed (LOCATION-less) table's data lands. */
  val WarehouseKey = "hive.metastore.warehouse.dir"

  def isHive(spark: SparkSession): Boolean =
    spark.conf.getOption(DialectKey).exists(_.equalsIgnoreCase("hive"))

  // ---------------------------------------------------------------- parsing

  private val CreateR =
    "(?is)^\\s*CREATE\\s+(EXTERNAL\\s+)?TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?([\\w.]+)\\s*\\(".r
  private val InsertTableR =
    "(?is)^\\s*(INSERT\\s+(?:INTO|OVERWRITE))\\s+TABLE\\s+(.*)$".r
  private val AlterPropsR =
    "(?is)^\\s*(ALTER\\s+TABLE\\s+[\\w.]+\\s+SET)\\s+TBLPROPERTIES\\s*(\\(.*\\))\\s*;?\\s*$".r
  private val AlterLocationR =
    "(?is)^\\s*(ALTER\\s+TABLE\\s+[\\w.]+\\s+SET)\\s+LOCATION\\s+'([^']*)'\\s*;?\\s*$".r
  // ALTER TABLE t SET FILEFORMAT fmt (SqlAlterHiveTableFileFormat.java) —
  // lowers onto the option merge with the same format map as CREATE
  private val AlterFileFormatR =
    "(?is)^\\s*(ALTER\\s+TABLE\\s+[\\w.]+\\s+SET)\\s+FILEFORMAT\\s+`?(\\w+)`?\\s*;?\\s*$".r
  // partition-SCOPED SET LOCATION / SET FILEFORMAT (the reference allows a
  // per-partition override): a layout-partitioned filesystem sink has ONE
  // path and ONE format — rejected explicitly rather than misrouted
  private val AlterPartScopedR =
    "(?is)^\\s*ALTER\\s+TABLE\\s+[\\w.]+\\s+PARTITION\\s*\\([^)]*\\)\\s+SET\\s+.*$".r

  /** Split a Hive column-definition list on top-level commas. Unlike the
    * engine DDL's generic splitter this also tracks ANGLE-BRACKET depth:
    * Hive column lists carry parametric types (MAP<STRING,INT>,
    * ARRAY<STRUCT<a:INT>>) and never computed-column expressions, so `<`
    * here is always a type bracket, never a comparison. */
  private def splitCols(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var inStr = false
    for (i <- s.indices) s.charAt(i) match {
      case '\'' => inStr = !inStr
      case '(' | '<' if !inStr => depth += 1
      case ')' | '>' if !inStr => depth -= 1
      case ',' if !inStr && depth == 0 =>
        out += s.substring(start, i); start = i + 1
      case _ =>
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Index just past the ')' matching the '(' at `open`. */
  private def matchParen(s: String, open: Int): Int = {
    var depth = 0; var i = open; var inStr = false
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr =>
          depth -= 1
          if (depth == 0) return i + 1
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parentheses in: $s")
  }

  /** Rewrite one Hive-dialect statement into the engine's default-dialect
    * form. Idempotent on already-default text (pass-through), so the
    * door's recursive dispatch (views, EXPLAIN) may re-enter safely.
    * `warehousePath` resolves a managed table's directory from its name. */
  def translate(text: String, warehousePath: String => String): String = {
    val t = text.trim
    t match {
      case InsertTableR(head, rest) => s"$head $rest"
      case AlterPropsR(head, props) => s"$head $props"
      case AlterLocationR(head, loc) => s"$head ('path' = '$loc')"
      case AlterFileFormatR(head, fmt) => s"$head ('format' = '${mapFormat(fmt)}')"
      case _ if AlterPartScopedR.findFirstIn(t).isDefined
          && !t.toUpperCase.matches("(?s).*\\bRENAME\\s+TO\\b.*") =>
        throw new IllegalArgumentException(
          "Hive dialect: per-partition SET LOCATION/FILEFORMAT is not " +
            "supported — a layout-partitioned filesystem table has one " +
            "path and one format")
      case _ =>
        CreateR.findFirstMatchIn(t) match {
          case Some(m) if !isEngineForm(t) => translateCreate(t, m, warehousePath)
          case _ => text // queries + engine/Spark-form DDL pass through
        }
    }
  }

  /** Hive file format → engine format, shared by STORED AS and SET
    * FILEFORMAT. */
  private def mapFormat(fmt: String): String = fmt.toUpperCase match {
    case "PARQUET" => "parquet"
    case "ORC" => "orc"
    case "TEXTFILE" => "csv"
    case other => throw new IllegalArgumentException(
      s"Hive dialect: file format $other is not supported " +
        "(supported: PARQUET, ORC, TEXTFILE)")
  }

  /** An engine-form CREATE TABLE (already carrying `) WITH (`) or Spark's
    * own (`USING fmt`) must not re-translate. Probes a literal-blanked
    * copy (the restScan discipline): a Hive CREATE whose quoted
    * TBLPROPERTIES/LOCATION value happens to contain `) WITH (` must still
    * translate — the real engine form carries the sequence OUTSIDE quotes. */
  private def isEngineForm(t: String): Boolean = {
    val u = t.toUpperCase.replaceAll("'[^']*'", "''")
    u.matches("(?s).*\\)\\s*WITH\\s*\\(.*") || u.matches("(?s).*\\)\\s*USING\\s+\\w+.*")
  }

  private def translateCreate(t: String, m: scala.util.matching.Regex.Match,
      warehousePath: String => String): String = {
    require(m.group(2) == null,
      "Hive dialect: IF NOT EXISTS is not supported — the engine's table " +
        "registry re-registers unconditionally, so accepting the clause " +
        "would silently change its semantics")
    val external = m.group(1) != null
    val name = m.group(3)
    // the CreateR match ends ON the '(' that opens the column list
    val colsOpen = m.end - 1
    val colsClose = matchParen(t, colsOpen)
    val cols = t.substring(colsOpen + 1, colsClose - 1).trim
    var rest = t.substring(colsClose).trim.stripSuffix(";").trim

    // scan a literal-blanked copy: an unsupported keyword INSIDE a quoted
    // value (a TBLPROPERTIES comment, a LOCATION path) must not reject
    val restScan = rest.toUpperCase.replaceAll("'[^']*'", "''")
    for (bad <- Seq("ROW FORMAT SERDE", "STORED AS INPUTFORMAT", "STORED BY",
        "CLUSTERED BY", "SKEWED BY"))
      require(!restScan.contains(bad),
        s"Hive dialect: $bad is not supported (supported: ROW FORMAT " +
          "DELIMITED, STORED AS PARQUET|ORC|TEXTFILE, LOCATION, TBLPROPERTIES)")

    // clauses appear in Hive's FIXED order; each is optional. Every take
    // is anchored at the head of the remaining text — an unanchored probe
    // could capture a clause keyword sitting inside a quoted literal of a
    // LATER clause (e.g. a TBLPROPERTIES value containing "LOCATION '/x'")
    def take(re: scala.util.matching.Regex): Option[String] =
      re.findFirstMatchIn(rest).map { mm =>
        rest = rest.substring(mm.end).trim
        mm.group(1)
      }
    def takeParen(keyword: String): Option[String] = {
      val pr = s"(?is)^$keyword\\s*\\(".r
      pr.findFirstMatchIn(rest).map { mm =>
        val close = matchParen(rest, mm.end - 1)
        val body = rest.substring(mm.end, close - 1)
        rest = rest.substring(close).trim
        body
      }
    }
    val comment = take("(?is)^COMMENT\\s+'([^']*)'".r)
    val partCols = takeParen("PARTITIONED\\s+BY")
    val rowFormat = take(
      "(?is)^ROW\\s+FORMAT\\s+DELIMITED(\\s+FIELDS\\s+TERMINATED\\s+BY\\s+'[^']*')?".r)
    val storedAs = take("(?is)^STORED\\s+AS\\s+`?(\\w+)`?".r)
    val location = take("(?is)^LOCATION\\s+'([^']*)'".r)
    val props = takeParen("TBLPROPERTIES")
    require(rest.isEmpty,
      s"Hive dialect: unrecognized CREATE TABLE clause(s): $rest")

    val format = storedAs.map(mapFormat).getOrElse("csv") // Hive defaults to TEXTFILE
    rowFormat.foreach { rf =>
      if (rf != null) {
        val d = "'([^']*)'".r.findFirstMatchIn(rf).map(_.group(1))
        require(d.forall(_ == ","),
          "Hive dialect: FIELDS TERMINATED BY supports ',' only — the " +
            "filesystem sink writes standard CSV")
      }
    }

    // Hive declares partition columns OUTSIDE the schema, with types; the
    // reference appends them to the column list (SqlCreateHiveTable:100-103)
    val partDefs = partCols.map(splitCols).getOrElse(Nil)
    val partNames = partDefs.map(_.split("\\s+")(0))
    val allCols = (splitCols(cols) ++ partDefs).mkString(", ")

    val opts = Seq.newBuilder[(String, String)]
    opts += ("path" -> location.getOrElse(warehousePath(name)))
    opts += ("format" -> format)
    if (external) opts += ("hive.is-external" -> "true") // SqlCreateHiveTable.TABLE_IS_EXTERNAL
    comment.foreach(c => opts += ("comment" -> c))
    props.foreach { p =>
      graft.streaming.GraftDdl.parseOpts(p).foreach(opts += _)
    }
    val withTxt = opts.result().map { case (k, v) => s"'$k' = '$v'" }
      .mkString(", ")
    val partTxt =
      if (partNames.isEmpty) "" else s"PARTITIONED BY (${partNames.mkString(", ")}) "
    s"CREATE TABLE $name ($allCols) ${partTxt}WITH ($withTxt)"
  }

  // ------------------------------------------------- partition DDL (Hive-only)

  // ALTER TABLE t ADD [IF NOT EXISTS] PARTITION (spec)... [LOCATION '…'] /
  // ALTER TABLE t DROP [IF EXISTS] PARTITION (spec)[, PARTITION (spec)...]
  // (reference SqlAddHivePartitions.java / SqlDropPartitions.java — parsed
  // only by the HIVE dialect; the door dispatches here under the gate).
  private[operators] val AddPartR =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.]+)\\s+ADD\\s+(IF\\s+NOT\\s+EXISTS\\s+)?(PARTITION\\s*\\(.*)$".r
  private[operators] val DropPartR =
    "(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.]+)\\s+DROP\\s+(IF\\s+EXISTS\\s+)?(PARTITION\\s*\\(.*)$".r

  // ALTER TABLE t ADD|REPLACE COLUMNS (cols) [CASCADE|RESTRICT]
  // (reference SqlAlterHiveTableAddReplaceColumn.java) — catalog metadata
  // surgery on the registered definition; CHANGE COLUMN is rejected (a
  // rename/retype would silently desync the already-written files)
  private[operators] val AddColsR =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.]+)\\s+(ADD|REPLACE)\\s+COLUMNS\\s*\\((.*)\\)" +
      "\\s*(?:CASCADE|RESTRICT)?\\s*;?\\s*$").r
  private[operators] val ChangeColR =
    "(?is)^\\s*ALTER\\s+TABLE\\s+[\\w.]+\\s+CHANGE\\s+(COLUMN\\s+)?.*$".r

  /** ADD appends to / REPLACE swaps the registered definition's
    * non-partition column list — the metadata the LIKE resolution and
    * payload-schema parse read. Physical parquet merges by name, so an
    * added column reads as NULL for old files, exactly Hive's CASCADE
    * semantics for new partitions. */
  def alterColumns(spark: SparkSession, name0: String, mode: String,
      cols: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val replace = mode.equalsIgnoreCase("REPLACE")
    require(graft.streaming.GraftDdl.alterCols(spark, name0.toLowerCase, cols, replace),
      s"$name0 is not a registered table definition")
    Seq((name0, mode.toLowerCase + " columns")).toDF("name", "status")
  }

  // ALTER TABLE t PARTITION (spec) RENAME TO PARTITION (spec)
  // (reference SqlAlterHivePartitionRename.java) — a directory move
  private[operators] val RenamePartR =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.]+)\\s+PARTITION\\s*\\(([^)]*)\\)\\s+" +
      "RENAME\\s+TO\\s+PARTITION\\s*\\(([^)]*)\\)\\s*;?\\s*$").r

  private val PairR = "(?s)(\\w+)\\s*=\\s*(?:'([^']*)'|([\\w.\\-]+))".r

  /** Consume `PARTITION (spec) [LOCATION '…']` groups sequentially from the
    * statement tail (Hive separates ADD specs with whitespace and DROP specs
    * with commas — both accepted). A LOCATION attached to ANY spec is
    * rejected — wherever it appears, not just trailing — and any non-empty
    * remainder after the last group is an error: a silently dropped clause
    * would violate the module's clear-errors policy. */
  private def parseSpecs(specsTxt: String): Seq[String] = {
    val SpecHead = "(?is)^PARTITION\\s*\\(([^)]*)\\)\\s*".r
    val LocHead = "(?is)^LOCATION\\s+'[^']*'".r
    val specs = Seq.newBuilder[String]
    var rest = specsTxt.trim
    var m = SpecHead.findFirstMatchIn(rest)
    require(m.isDefined, s"expected PARTITION (col = value): $specsTxt")
    while (m.isDefined) {
      specs += m.get.group(1)
      rest = rest.substring(m.get.end).trim
      require(LocHead.findFirstIn(rest).isEmpty,
        "Hive dialect: per-partition LOCATION is not supported — partitions " +
          "of a layout-partitioned filesystem table live under the table path")
      if (rest.startsWith(",")) rest = rest.substring(1).trim
      m = SpecHead.findFirstMatchIn(rest)
    }
    require(rest.isEmpty,
      s"Hive dialect: unrecognized text after partition spec(s): $rest")
    specs.result()
  }

  /** Parse one `col = value` spec against the sink's declared partition
    * columns (order-exact) and return its directory-relative path. Values
    * are single path components — a separator or dot-dot would escape the
    * table root. */
  private def specRelPath(spec: String,
      sd: graft.streaming.GraftDdl.SinkDef): String = {
    val pairs = PairR.findAllMatchIn(spec).map { m =>
      m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))
    }.toSeq
    require(pairs.map(_._1.toLowerCase) == sd.partitions.map(_.toLowerCase),
      s"partition spec (${pairs.map(_._1).mkString(", ")}) must name the " +
        s"declared partition columns in order (${sd.partitions.mkString(", ")})")
    pairs.foreach { case (k, v) =>
      require(!v.contains("/") && !v.contains("\\") && v != ".." && v != ".",
        s"partition value for '$k' must be a single path component: '$v'") }
    pairs.map { case (k, v) => s"$k=$v" }.mkString("/")
  }

  /** Resolve a registered partitioned filesystem sink or fail clearly. */
  private def partitionedSink(spark: SparkSession,
      name0: String): graft.streaming.GraftDdl.SinkDef = {
    val sd = graft.streaming.GraftDdl.sink(spark, name0.toLowerCase).getOrElse(
      throw new IllegalArgumentException(
        s"$name0 is not a registered filesystem sink"))
    require(sd.partitions.nonEmpty,
      s"$name0 is not partitioned — declare PARTITIONED BY in its DDL")
    sd
  }

  /** PARTITION (a) RENAME TO PARTITION (b): move the partition directory —
    * Hive's managed rename-partition semantics (data travels with it). */
  def renamePartition(spark: SparkSession, name0: String, fromSpec: String,
      toSpec: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val sd = partitionedSink(spark, name0)
    val root = new org.apache.hadoop.fs.Path(sd.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val from = specRelPath(fromSpec, sd)
    val to = specRelPath(toSpec, sd)
    val fromDir = new org.apache.hadoop.fs.Path(root, from)
    val toDir = new org.apache.hadoop.fs.Path(root, to)
    require(fs.exists(fromDir), s"partition does not exist: $from")
    require(!fs.exists(toDir), s"target partition already exists: $to")
    // a multi-level target needs its parent (fs.rename does not mkdir)
    Option(toDir.getParent).foreach(fs.mkdirs)
    require(fs.rename(fromDir, toDir), s"rename failed: $from -> $to")
    Seq((from, to)).toDF("from_partition", "to_partition")
  }

  /** Execute partition DDL against a PARTITIONED filesystem sink: the
    * partition IS a directory of the sink's layout, so ADD pre-creates the
    * `p=v` directory and DROP deletes it (with its data) — Hive's managed
    * drop-partition semantics. All filesystem access goes through the
    * Hadoop FileSystem resolved from the sink path. Per-partition LOCATION
    * is rejected: a foreign directory cannot join a layout-partitioned
    * table (the engine reads partition values from the directory tree). */
  def partitionDdl(spark: SparkSession, name0: String, add: Boolean,
      lenient: Boolean, specsTxt0: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val specsTxt = specsTxt0.trim.stripSuffix(";").trim
    val sd = partitionedSink(spark, name0)
    val specs = parseSpecs(specsTxt)
    val root = new org.apache.hadoop.fs.Path(sd.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val results = specs.map { spec =>
      val rel = specRelPath(spec, sd)
      val dir = new org.apache.hadoop.fs.Path(root, rel)
      if (add) {
        if (fs.exists(dir)) {
          require(lenient, s"partition already exists: $rel")
          rel -> "exists"
        } else { fs.mkdirs(dir); rel -> "added" }
      } else {
        if (fs.exists(dir)) { fs.delete(dir, true); rel -> "dropped" }
        else {
          require(lenient, s"partition does not exist: $rel")
          rel -> "missing"
        }
      }
    }
    results.toDF("partition", "status")
  }

  // ---------------------------------------------------------------- queries

  private def door(s: SparkSession, sql: String) = GraftSql.run(s, sql)

  /** Managed-table directory for this session — Hive's warehouse rule. */
  def warehouseDir(spark: SparkSession)(name: String): String =
    spark.conf.getOption(WarehouseKey)
      .map(w => s"$w/$name")
      .getOrElse(Tables.scratch(s"hive-warehouse/$name"))

  /** The full Hive-dialect DDL+DML flow through the door: switch dialect,
    * CREATE EXTERNAL TABLE with a typed partition column + STORED AS
    * PARQUET + LOCATION + TBLPROPERTIES, INSERT OVERWRITE TABLE with a
    * static partition, read back — then restore the dialect (the session
    * is shared across queries, so the switch must not leak). */
  val qHiveDdl: Q = Q(
    "q_hive_dialect_ddl",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val path = Tables.scratch(
        s"hive-sink/graft_hive-${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
      door(s, s"SET $DialectKey = hive")
      try {
        door(s,
          s"""CREATE EXTERNAL TABLE graft_hive_sink (event_id BIGINT, value DOUBLE)
             |PARTITIONED BY (etype STRING)
             |STORED AS PARQUET
             |LOCATION '$path'
             |TBLPROPERTIES ('graft.origin' = 'hive-dialect')""".stripMargin)
        door(s,
          """INSERT OVERWRITE TABLE graft_hive_sink PARTITION (etype = 'click')
            |SELECT event_id, value FROM events
            |WHERE event_type = 'click'""".stripMargin)
          .orderBy("event_id")
      } finally door(s, s"SET $DialectKey = default")
    },
    Some("""SELECT event_id, value, 'click' AS etype FROM events
           |WHERE event_type = 'click' ORDER BY event_id""".stripMargin))

  /** Partition lifecycle through the door, oracle-checked: two scoped
    * static-partition overwrites, then DROP PARTITION removes one — the
    * read-back must show exactly the surviving partition's rows (the
    * data-management semantics a 100 TB deployment retires old partitions
    * with). */
  val qHivePartitionDdl: Q = Q(
    "q_hive_partition_ddl",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val path = Tables.scratch(
        s"hive-sink/graft_hive_pddl-${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
      door(s, s"SET $DialectKey = hive")
      try {
        door(s,
          s"""CREATE EXTERNAL TABLE graft_hive_pddl (event_id BIGINT, value DOUBLE)
             |PARTITIONED BY (etype STRING)
             |STORED AS PARQUET
             |LOCATION '$path'""".stripMargin)
        door(s,
          """INSERT OVERWRITE TABLE graft_hive_pddl PARTITION (etype = 'view')
            |SELECT event_id, value FROM events WHERE event_type = 'view'""".stripMargin)
        door(s,
          """INSERT OVERWRITE TABLE graft_hive_pddl PARTITION (etype = 'error')
            |SELECT event_id, value FROM events WHERE event_type = 'error'""".stripMargin)
        door(s,
          "ALTER TABLE graft_hive_pddl DROP PARTITION (etype = 'error')")
        s.read.parquet(path)
          .selectExpr("event_id", "value", "CAST(etype AS STRING) AS etype")
          .orderBy("event_id")
      } finally door(s, s"SET $DialectKey = default")
    },
    Some("""SELECT event_id, value, 'view' AS etype FROM events
           |WHERE event_type = 'view' ORDER BY event_id""".stripMargin))

  val all: Seq[Q] = Seq(qHiveDdl, qHivePartitionDdl)
}
