package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The UNIFIED SQL entry point — one door for every Flink-SQL text surface
  * the engine recognizes, the analogue of the reference's single parser
  * (flink-table/flink-table-planner-blink/src/main/java/org/apache/flink/
  * table/planner/delegation/ParserImpl.java:49, through which every
  * statement — windows, temporal joins, laterals, dedup, MATCH_RECOGNIZE —
  * enters planning).
  *
  * Dispatch in one call, composing the per-idiom recognizers:
  *
  *  1. `… MATCH_RECOGNIZE (…)` statements → [[graft.cep.MatchRecognize]]
  *     (NFA lowering); malformed specs throw, they never leak to `spark.sql`
  *     (which cannot parse the clause).
  *  2. `… FOR SYSTEM_TIME AS OF …` → [[TemporalSql]] (single-shuffle as-of
  *     lowering); same strictness.
  *  3. Everything else: [[org.apache.spark.sql.graft.GraftSqlFunctions.sql]]
  *     parses the statement once with graft's session functions registered
  *     — group windows ([[GroupWindowSql]]: TUMBLE/HOP/SESSION +
  *     `_START`/`_END`) among them — lowers lateral correlates
  *     ([[LateralSql]]: `LATERAL TABLE(f(x))`) on the parsed plan and the
  *     rn=1 dedup idiom ([[graft.streaming.DedupSql]]: `ROW_NUMBER() OVER
  *     (…) … WHERE rn = 1`, the StreamExecDeduplicateRule recognition) on
  *     the analyzed plan. A near-miss (`rn = 2`, two ORDER BY keys) stays
  *     ordinary window SQL, and a statement MIXING idioms (a windowed
  *     aggregate over a lateral expansion) needs no extra step.
  *
  * This is exactly the distance the five separate doors couldn't cover: a
  * user pasting reference SQL that combines idioms needs no knowledge of
  * which module owns which clause.
  */
object GraftSql {

  // INSERT INTO appends in the reference; here batch INSERT INTO overwrites
  // so re-running a deployment statement is idempotent (disclosed divergence,
  // tested). INSERT OVERWRITE is the reference-aligned explicit form and is
  // Object names in commands accept the reference's qualified forms —
  // `name`, `db.name`, `catalog.db.name` (SqlCommandParser parses full
  // identifiers; 1.11's defaults are default_catalog.default_database).
  // [[resolveNameOpt]] maps default-qualified names onto this engine's
  // single registry namespace, passes real Spark databases through to
  // spark.sql, and rejects unknown qualifiers with a clear message
  // instead of half-running a command (r6 What's-wrong #5).
  private val QN = "((?:\\w+\\.){0,2}\\w+)"

  /** Strip a default catalog/database qualifier. Returns None when the
    * qualifier names a REAL Spark database — the caller then falls through
    * to `spark.sql`, which owns that namespace (consistent with the USE
    * branch: a database you can USE must have usable qualified names in
    * every other command too). Any other qualifier is a clear error, not a
    * half-run command. */
  private def resolveNameOpt(spark: SparkSession, qualified: String): Option[String] = {
    val parts = qualified.split("\\.")
    val known = Set("default_catalog", "default_database", "spark_catalog", "default")
    val bad = parts.dropRight(1).filterNot(p => known(p.toLowerCase))
    if (bad.isEmpty) Some(parts.last)
    else if (bad.length == 1 && spark.catalog.databaseExists(bad.head)) None
    else throw new IllegalArgumentException(
      s"unknown catalog/database qualifier '${bad.mkString(".")}' in " +
        s"'$qualified' — this engine has a single default catalog " +
        "(default_catalog.default_database)")
  }

  // batch-only in BOTH engines (SqlCommandParser.java:110 INSERT_OVERWRITE;
  // Flink rejects streaming overwrite). The optional PARTITION clause is
  // the reference's static-partition insert (RichSqlInsert.java:125).
  private val InsertR =
    s"(?is)\\s*INSERT\\s+(INTO|OVERWRITE)\\s+$QN\\s+(?:PARTITION\\s*\\(([^)]*)\\)\\s*)?(.*)".r

  // The rest of the reference SQL client's command set
  // (flink-table/flink-sql-client/.../cli/SqlCommandParser.java:108-166,303):
  // CREATE/DROP VIEW, DROP TABLE, CREATE/DROP FUNCTION, SOURCE <script-file>.
  private val CreateViewR =
    s"(?is)\\s*CREATE\\s+(?:TEMPORARY\\s+)?VIEW\\s+(IF\\s+NOT\\s+EXISTS\\s+)?$QN\\s+AS\\s+(.*)".r
  private val DropViewR =
    s"(?is)\\s*DROP\\s+(?:TEMPORARY\\s+)?VIEW\\s+(IF\\s+EXISTS\\s+)?$QN\\s*;?\\s*".r
  private val DropTableR =
    s"(?is)\\s*DROP\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?$QN\\s*;?\\s*".r
  private val CreateFnR =
    ("(?is)\\s*CREATE\\s+(?:TEMPORARY\\s+)?(?:SYSTEM\\s+)?FUNCTION\\s+" +
      s"(?:IF\\s+NOT\\s+EXISTS\\s+)?$QN\\s+AS\\s+'([^']+)'\\s*;?\\s*").r
  private val DropFnR =
    ("(?is)\\s*DROP\\s+(?:TEMPORARY\\s+)?(?:SYSTEM\\s+)?FUNCTION\\s+" +
      s"(IF\\s+EXISTS\\s+)?$QN\\s*;?\\s*").r
  private val SourceR = "(?is)\\s*SOURCE\\s+(\\S+)\\s*;?\\s*".r
  private val CreateCatalogR =
    "(?is)\\s*CREATE\\s+CATALOG\\s+(\\w+)\\s+WITH\\s*\\((.*)\\)\\s*;?\\s*".r
  private val DropCatalogR =
    "(?is)\\s*DROP\\s+CATALOG\\s+(IF\\s+EXISTS\\s+)?(\\w+)\\s*;?\\s*".r
  private val AlterRenameR =
    "(?is)\\s*ALTER\\s+(TABLE|VIEW)\\s+([\\w.]+)\\s+RENAME\\s+TO\\s+([\\w.]+)\\s*;?\\s*".r
  private val AlterViewAsR =
    "(?is)\\s*ALTER\\s+VIEW\\s+([\\w.]+)\\s+AS\\s+(.+?)\\s*;?\\s*".r
  private val AlterFnR =
    "(?is)\\s*ALTER\\s+(?:TEMPORARY\\s+)?(?:SYSTEM\\s+)?FUNCTION\\s+([\\w.]+)\\s+AS\\s+'([^']+)'\\s*;?\\s*".r
  private val AlterTableR =
    s"(?is)\\s*ALTER\\s+TABLE\\s+$QN\\s+SET\\s*\\((.*)\\)\\s*;?\\s*".r
  private val DescribeR =
    s"(?is)\\s*DESC(?:RIBE)?\\s+(?:TABLE\\s+)?(?:EXTENDED\\s+)?$QN\\s*;?\\s*".r

  // SET 'key' = 'value' | SET key = value | bare SET (list) — the SQL
  // client's session-config command (flink-sql-client SqlCommandParser SET).
  private val SetR = "(?is)\\s*SET\\s+'?([\\w.\\-]+)'?\\s*=\\s*'?([^';]*?)'?\\s*;?\\s*".r
  private val ResetR = "(?is)\\s*RESET\\s+'?([\\w.\\-]+)'?\\s*;?\\s*".r
  private val ExplainR = "(?is)\\s*EXPLAIN\\s+(?:PLAN\\s+FOR\\s+)?(.*)".r

  /** Reference session options with a direct Spark equivalent — SET text
    * written against the reference engine keeps working through this door.
    * Unmapped keys are stored verbatim in the session conf (they are
    * readable back via bare SET, like the reference's key-value store). */
  private val ConfAliases = Map(
    "table.exec.resource.default-parallelism" -> "spark.sql.shuffle.partitions",
    "parallelism.default" -> "spark.sql.shuffle.partitions",
    "table.optimizer.join.broadcast-threshold" -> "spark.sql.autoBroadcastJoinThreshold")

  // SELECT * FROM <t> MATCH_RECOGNIZE ( <spec> ) [AS <alias>] [ORDER BY <cols>]
  private val MatchR =
    ("(?is)\\s*SELECT\\s+\\*\\s+FROM\\s+(\\w+)\\s+MATCH_RECOGNIZE\\s*" +
      "\\((.*)\\)\\s*(?:AS\\s+\\w+\\s*)?(?:ORDER\\s+BY\\s+([\\w, ]+?))?\\s*;?\\s*").r

  /** Parse + execute any recognized statement against the `dir` fixtures
    * (registered as temp views) and the session catalog. The engine's SQL
    * functions (hash_code / dot_product / cosine_similarity / proctime)
    * register on entry — idempotent — so reference SQL using them works
    * through the same door. */
  def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    Tables.registerAll(spark, dir)
    org.apache.spark.sql.graft.GraftSqlFunctions.register(spark)
    run(spark, text)
  }

  /** Execute a multi-statement SCRIPT (the reference SQL client's execution
    * mode — flink-table/flink-sql-client executes `statement; statement; …`
    * sequentially): statements split on top-level semicolons (single-quoted
    * strings respected), each routed through the dispatcher in order; the
    * LAST statement's result is returned. A `CREATE TABLE …; INSERT INTO …`
    * deployment therefore runs as one text. */
  def script(spark: SparkSession, dir: String, text: String): DataFrame = {
    Tables.registerAll(spark, dir)
    org.apache.spark.sql.graft.GraftSqlFunctions.register(spark)
    val stmts = splitStatements(text)
    require(stmts.nonEmpty, "empty script")
    stmts.map(run(spark, _)).last
  }

  /** Find the innermost parenthesized `( SELECT … )` subquery containing the
    * first occurrence of `marker` (case-insensitive), respecting
    * single-quoted strings. Returns (start, end, innerText) where start/end
    * delimit the parens inclusive/exclusive and innerText is the content
    * between them; None when the marker sits at top level (no enclosing
    * subquery). */
  private[graft] def extractParenSubquery(
      text: String, marker: String): Option[(Int, Int, String)] = {
    // scan the shared-lexer-blanked text (length-preserving, so positions
    // map 1:1 onto the original): a marker inside a string literal or
    // comment can't seed the subquery search, and parens inside literals,
    // comments, or quoted identifiers can't corrupt the depth stack
    val blanked = blankCommentsAndLiterals(text)
    val at = blanked.toUpperCase.indexOf(marker.toUpperCase)
    if (at < 0) return None
    // scan once, tracking open-paren positions; record the tightest pair
    // enclosing `at`
    var best: Option[(Int, Int)] = None
    var stack = List.empty[Int]
    var i = 0
    while (i < blanked.length) {
      blanked.charAt(i) match {
        case '(' => stack ::= i
        case ')' =>
          stack match {
            case open :: rest =>
              stack = rest
              if (open < at && at < i &&
                  best.forall { case (b0, b1) => open > b0 || i < b1 })
                best = Some((open, i))
            case Nil => // unbalanced close: tolerate, spark.sql will complain
          }
        case _ =>
      }
      i += 1
    }
    best.collect { case (open, close)
        if text.substring(open + 1, close).trim.toUpperCase.startsWith("SELECT") =>
      (open, close + 1, text.substring(open + 1, close).trim)
    }
  }

  /** The text with literal/comment/quoted-identifier CONTENTS blanked out
    * (quotes kept, length preserved) — the dispatcher probes this, not the
    * raw text, so a legal statement like `SELECT 'MATCH_RECOGNIZE' AS s
    * FROM t` doesn't trigger a recognizer on a keyword that only occurs
    * inside a string literal (r6 ADVICE). Delegates to the shared lexer
    * (r12): the old single-quote toggle inverted its state at a
    * backslash-escaped quote and saw keywords inside comments, so a
    * MATCH_RECOGNIZE mentioned in a block comment misrouted the statement
    * to the recognizer. */
  private[graft] def blankLiterals(s: String): String =
    blankCommentsAndLiterals(s)

  /** Length-preserving blanking of comment text AND string-literal
    * contents in ONE pass with a shared state machine — an apostrophe
    * inside a comment ("can't") must not open a phantom string, and a
    * `--` inside a string must not open a phantom comment. Quote chars
    * themselves survive (like [[blankLiterals]]); comment markers blank
    * too. Every lexical splitter (statement split, top-level UNION
    * segmentation) scans THIS text and slices the original by position,
    * so the quote/comment discipline lives once.
    *
    * Known bound: backslash handling follows Spark's DEFAULT lexer. With
    * `spark.sql.parser.escapedStringLiterals=true` (settable through the
    * door's own SET) Spark reads the backslash as a literal character, so
    * a statement like `SELECT 'dir\'` ends its literal where this scanner
    * does not — the splitter then disagrees with Spark about the
    * statement boundary. A conf-aware scan would need the session
    * threaded into every lexical consumer; until a user actually runs
    * that conf, the default-lexer discipline is the correct trade. */
  private[graft] def blankCommentsAndLiterals(s: String): String = {
    val out = s.toCharArray
    var i = 0
    // 0 = normal, 1 = 'string', 2 = line comment, 3 = block comment,
    // 4 = "string/identifier", 5 = `identifier`. Double-quoted and
    // backtick-quoted regions blank too: Spark's default lexer reads
    // "..." as a string literal (so a ; or -- inside must not split) and
    // a quoted identifier named `union` must not cut UNION segmentation.
    var state = 0
    while (i < s.length) {
      val c = s.charAt(i)
      state match {
        case 0 =>
          if (c == '\'') state = 1
          else if (c == '"') state = 4
          else if (c == '`') state = 5
          else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
            state = 2; out(i) = ' '
          } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
            state = 3; out(i) = ' '
          }
        case 1 | 4 =>
          // Spark's default lexer honours backslash escapes ('don\'t'):
          // blank the backslash and whatever it escapes in one step.
          if (c == '\\' && i + 1 < s.length) { out(i) = ' '; out(i + 1) = ' '; i += 1 }
          else if (c == (if (state == 1) '\'' else '"')) state = 0
          else out(i) = ' '
        case 2 =>
          if (c == '\n') state = 0 else out(i) = ' '
        case 3 =>
          if (c == '*' && i + 1 < s.length && s.charAt(i + 1) == '/') {
            out(i) = ' '; out(i + 1) = ' '; i += 1; state = 0
          } else out(i) = ' '
        case 5 =>
          if (c == '`') state = 0 else out(i) = ' '
      }
      i += 1
    }
    new String(out)
  }

  /** (complete statements, un-terminated remainder): boundaries at
    * semicolons outside strings AND comments. The REPL keeps the
    * remainder for its continuation prompt; [[splitStatements]] treats a
    * trailing un-terminated statement as complete. */
  private[graft] def splitWithRemainder(s: String): (Vector[String], String) = {
    val blanked = blankCommentsAndLiterals(s)
    val out = Vector.newBuilder[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      if (blanked.charAt(i) == ';') { out += s.substring(start, i); start = i + 1 }
      i += 1
    }
    (out.result().map(_.trim).filter(_.nonEmpty), s.substring(start))
  }

  /** Split a script into statements (trailing text without a `;` is a
    * statement too). */
  private[graft] def splitStatements(s: String): Vector[String] = {
    val (stmts, rest) = splitWithRemainder(s)
    if (rest.trim.nonEmpty) stmts :+ rest.trim else stmts
  }

  /** Named catalogs registered through `CREATE CATALOG` (reference
    * flink-sql-parser SqlCreateCatalog.java + CatalogManager
    * registerCatalog/setCurrentCatalog). `'type'='graft'` persists every
    * subsequently-executed persistable DDL at `'path'` via
    * [[graft.streaming.GraftCatalog]] — the engine's durable HiveCatalog
    * analogue, whose existing contents REPLAY on registration exactly like
    * opening a HiveCatalog exposes its stored objects;
    * `'type'='generic_in_memory'` is the reference's session-scoped
    * catalog (nothing persisted). */
  // Per session, like the reference's CatalogManager: DDL executed in one
  // session is never recorded into a catalog made current by another.
  private final class Catalogs {
    val named = scala.collection.concurrent.TrieMap[String, Option[String]]()
    val current =
      new java.util.concurrent.atomic.AtomicReference[Option[(String, Option[String])]](None)
  }
  private val catalogs = new graft.SessionScoped(new Catalogs)

  /** True iff `name` is a session temp view (the only kind of view/table
    * this engine registers itself — real catalog tables take Spark's own
    * DDL paths). */
  private def isTempView(spark: SparkSession, name: String): Boolean =
    try spark.catalog.getTable(name).isTemporary
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  /** Test/iteration hygiene: forget `spark`'s named catalogs and return it
    * to the default (the state a fresh session starts in). */
  private[graft] def resetNamedCatalogs(spark: SparkSession): Unit = {
    catalogs(spark).named.clear()
    catalogs(spark).current.set(None)
  }

  /** Same, against already-registered views only (no fixture dir). When a
    * persistent named catalog is current, successful persistable DDL is
    * durably recorded there and DROPs remove the stored definition — the
    * reference's catalog-routed DDL behavior. */
  // Recording is suppressed while GraftCatalog itself validates or replays
  // DDL, so a restore never re-records (or cross-records into whatever
  // catalog happens to be current).
  private val recordingEnabled = new scala.util.DynamicVariable[Boolean](true)

  /** Dispatcher entry WITHOUT named-catalog recording — used by
    * [[graft.streaming.GraftCatalog]] for validation and replay. */
  private[graft] def runNoRecord(spark: SparkSession, text: String): DataFrame =
    recordingEnabled.withValue(false)(run(spark, text))

  /** Durably record a door-REGISTERED object's DDL in the current
    * persistent named catalog, if any. Called only from the dispatcher
    * branches that actually register (so a plain-Spark fallthrough, whose
    * durability is the metastore's own, and an IF NOT EXISTS no-op are
    * never recorded). */
  private def maybeRecord(spark: SparkSession, ddl: String): Unit =
    if (recordingEnabled.value) catalogs(spark).current.get match {
      case Some((_, Some(catDir))) =>
        graft.streaming.GraftCatalog.record(spark, catDir, ddl)
      case _ => ()
    }

  /** Remove a dropped object's stored definition from the current
    * persistent named catalog, if any. */
  private def maybeUnrecord(spark: SparkSession, name: String): Unit =
    if (recordingEnabled.value) catalogs(spark).current.get match {
      case Some((_, Some(catDir))) =>
        graft.streaming.GraftCatalog.drop(catDir, name)
      case _ => ()
    }

  /** Move a renamed object's stored definition to its new name in the
    * current persistent named catalog: the stored DDL text is rewritten to
    * declare the NEW name and recorded there, then the old entry dropped —
    * so re-opening the catalog restores the object under its new name, the
    * reference's catalog-rename semantics (a bare unrecord would silently
    * lose the object on replay, r9 ADVICE). */
  private def maybeRerecordRename(spark: SparkSession, from: String, to: String): Unit =
    if (recordingEnabled.value) catalogs(spark).current.get match {
      case Some((_, Some(catDir))) =>
        // read → drop → record, in THAT order: a case-only rename (foo →
        // FOO) stores both names in the same lowercased file, so dropping
        // after recording would delete the record just written
        val storedDdl = graft.streaming.GraftCatalog.stored(catDir, from)
        graft.streaming.GraftCatalog.drop(catDir, from)
        storedDdl.foreach { ddl =>
          val renamed = ddl.replaceFirst(
            "(?is)^(\\s*CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMPORARY\\s+)?(?:SYSTEM\\s+)?" +
              "(?:TABLE|VIEW|FUNCTION)\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?)" +
              java.util.regex.Pattern.quote(from),
            "$1" + java.util.regex.Matcher.quoteReplacement(to))
          graft.streaming.GraftCatalog.record(spark, catDir, renamed)
        }
      case _ => ()
    }

  /** The reference's fully-qualified spelling `default_catalog.db.t` on a
    * REAL Spark database must reach spark.sql under Spark's own name for
    * that catalog — `spark_catalog` — or the fallthrough dies with
    * CATALOG_NOT_FOUND. Rewritten OUTSIDE string literals only. */
  // Scanner, not split-on-quote: SQL-escaped quotes ('') are consumed as
  // part of the literal, so text after them can never be classified on the
  // wrong side of a literal boundary (r9 ADVICE).
  private[graft] def mapDefaultCatalog(text: String): String = {
    val out = new StringBuilder(text.length)
    val plain = new StringBuilder
    def flushPlain(): Unit = {
      out.append(plain.toString.replaceAll(
        "(?i)\\bdefault_catalog\\.(\\w+\\.\\w+)", "spark_catalog.$1"))
      plain.clear()
    }
    val n = text.length
    var i = 0
    while (i < n) {
      if (text.charAt(i) == '\'') {
        flushPlain()
        out.append('\''); i += 1
        var closed = false
        while (i < n && !closed) {
          if (text.charAt(i) == '\'') {
            if (i + 1 < n && text.charAt(i + 1) == '\'') { out.append("''"); i += 2 }
            else { out.append('\''); i += 1; closed = true }
          } else { out.append(text.charAt(i)); i += 1 }
        }
      } else { plain.append(text.charAt(i)); i += 1 }
    }
    flushPlain()
    out.toString
  }

  /** Leading whitespace, `--` line comments, and `/* */` block comments
    * ahead of the statement keyword: every dispatcher branch classifies by
    * prefix, so a comment header must not hide the keyword (the reference
    * SQL parser skips comments before classification). Comments INSIDE the
    * statement are untouched. */
  private[graft] val LeadingComments =
    """(?s)^(?:\s|--[^\n]*(?:\n|$)|/\*.*?\*/)+""".r

  /** Whether `name0` resolves to a sink in the engine's registry — the
    * guard that keeps Hive-dialect partition/column DDL from hijacking a
    * real catalog table Spark's own ALTER handles. */
  private def isRegisteredSink(spark: SparkSession, name0: String): Boolean =
    resolveNameOpt(spark, name0)
      .exists(n => graft.streaming.GraftDdl.sink(spark, n).isDefined)

  def run(spark: SparkSession, text0: String): DataFrame = {
    // dialect gate (reference TableConfig#setSqlDialect via SET
    // table.sql-dialect): under the hive dialect, rewrite Hive-grammar
    // statements into the default-dialect form FIRST, then dispatch them
    // through the one pipeline below — translate is idempotent on
    // default-dialect text, so the recursive re-entries (views, EXPLAIN)
    // are safe
    val stripped = LeadingComments.replaceFirstIn(text0, "")
    val dialected =
      if (HiveDialect.isHive(spark))
        HiveDialect.translate(stripped, HiveDialect.warehouseDir(spark))
      else stripped
    val text = mapDefaultCatalog(dialected)
    val upper = text.toUpperCase
    // keyword probes scan the literal-blanked text: 'MATCH_RECOGNIZE' as a
    // string VALUE must not route to the NFA recognizer
    val scanUpper = blankLiterals(text).toUpperCase
    if (upper.trim.startsWith("SET") || upper.trim.startsWith("RESET")) {
      import spark.implicits._
      text match {
        case SetR(key, value) =>
          val k = ConfAliases.getOrElse(key, key)
          spark.conf.set(k, value)
          Seq((k, value)).toDF("key", "value")
        case ResetR(key) =>
          val k = ConfAliases.getOrElse(key, key)
          spark.conf.unset(k)
          Seq((k, "<unset>")).toDF("key", "value")
        case _ if upper.trim.matches("(?s)SET\\s*;?\\s*") => // bare SET: list
          spark.conf.getAll.toSeq.sortBy(_._1).toDF("key", "value")
        case _ => throw new IllegalArgumentException(
          s"SET must be SET ['key'] = ['value'] | SET | RESET 'key': $text")
      }
    }
    else if (upper.trim.startsWith("EXPLAIN")) text match {
      // the reference's EXPLAIN [PLAN FOR] <stmt> (SqlToOperationConverter →
      // ExplainOperation): lower the inner statement through this same
      // dispatcher — idiom text explains too — and return the physical plan
      // WITHOUT executing (an EXPLAIN INSERT plans the SELECT, writes
      // nothing). Building a DataFrame is lazy everywhere in this engine, so
      // planning is side-effect-free.
      case ExplainR(inner0) =>
        import spark.implicits._
        // ExplainDetail flags (reference flink-table-api-java
        // ExplainDetail.java — 1.11 passes them via table.explain(details…);
        // this SQL spelling is the text-door equivalent): leading
        // ESTIMATED_COST / CHANGELOG_MODE keywords, comma-separable.
        val DetailR = ("(?is)\\s*((?:ESTIMATED_COST|CHANGELOG_MODE)" +
          "(?:\\s*,\\s*(?:ESTIMATED_COST|CHANGELOG_MODE))*)\\s+(.*)").r
        val (details, inner) = inner0 match {
          case DetailR(ds, rest) =>
            (ds.toUpperCase.split(",").map(_.trim).toSet, rest)
          case _ => (Set.empty[String], inner0)
        }
        val target = inner.trim match {
          case InsertR(_, _, _, select) => select
          case other => other
        }
        // the reference explains queries and INSERTs only (ExplainOperation
        // wraps a QueryOperation); explaining any side-effecting command
        // (DDL, SET/RESET, ALTER, SOURCE) would EXECUTE it here — the
        // effect IS the command — so reject them like the reference does
        val t0 = target.trim.toUpperCase
        require(!Seq("CREATE", "DROP", "ALTER", "SET", "RESET", "SOURCE ")
            .exists(t0.startsWith),
          s"EXPLAIN supports queries and INSERT INTO, not commands: $inner")
        val df = run(spark, target)
        val extra = new StringBuilder
        if (details("ESTIMATED_COST")) {
          // reference ExplainDetail.ESTIMATED_COST (optimizer cost per rel
          // node) → Catalyst's optimizer statistics for the plan. A
          // streaming plan's cost is per-micro-batch and only knowable at
          // run time, so it is reported as such rather than faked.
          extra ++= "\n== Estimated Cost ==\n"
          if (df.isStreaming)
            extra ++= "n/a (streaming: cost is determined per micro-batch)"
          else {
            val st = df.queryExecution.optimizedPlan.stats
            extra ++= s"sizeInBytes=${st.sizeInBytes}"
            st.rowCount.foreach(rc => extra ++= s", rowCount=$rc")
          }
        }
        if (details("CHANGELOG_MODE")) {
          // reference ExplainDetail.CHANGELOG_MODE, classified by Spark's
          // own append-mode analysis (GraftSqlFunctions.appendOnly)
          val mode =
            if (!df.isStreaming) "[I] (bounded: insert-only)"
            else if (org.apache.spark.sql.graft.GraftSqlFunctions.appendOnly(df))
              "[I] (streaming append)"
            else "[I,UB,UA,D] (streaming update/retract)"
          extra ++= s"\n== Changelog Mode ==\n$mode"
        }
        // a streaming Dataset has no batch physical plan (Spark chooses one
        // per micro-batch after start), so EXPLAIN of streaming text shows
        // the analyzed logical plan — previously this threw checkForBatch
        val planText =
          if (df.isStreaming)
            "== Analyzed Logical Plan (streaming; physical plan chosen per micro-batch) ==\n" +
              df.queryExecution.analyzed.treeString
          else df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        Seq(planText + extra).toDF("plan")
      case _ => throw new IllegalArgumentException(s"EXPLAIN what? $text")
    }
    else if (upper.trim.startsWith("CREATE CATALOG")) {
      // CREATE CATALOG name WITH ('type'='graft'|'generic_in_memory'
      // [, 'path'='…']) — reference SqlCreateCatalog.java; the catalog
      // factory lookup error is mirrored for unknown types.
      import spark.implicits._
      text match {
        case CreateCatalogR(name0, opts) =>
          val name = name0.toLowerCase
          val kv = graft.streaming.GraftDdl.parseOpts(opts)
          kv.getOrElse("type",
            throw new IllegalArgumentException(
              s"CREATE CATALOG requires a 'type' option: $text")) match {
            case "generic_in_memory" =>
              catalogs(spark).named(name) = None
            case "graft" =>
              val path = kv.getOrElse("path", throw new IllegalArgumentException(
                s"catalog type 'graft' requires a 'path' option: $text"))
              catalogs(spark).named(name) = Some(path)
              // opening a persistent catalog exposes its stored objects
              graft.streaming.GraftCatalog.restore(spark, path)
            case other => throw new IllegalArgumentException(
              s"unknown catalog type '$other' (supported: graft, " +
                s"generic_in_memory): $text")
          }
          Seq((name, "created")).toDF("catalog", "status")
        case _ => throw new IllegalArgumentException(
          s"CREATE CATALOG must be CREATE CATALOG name WITH ('k'='v', …): $text")
      }
    }
    else if (upper.trim.startsWith("DROP CATALOG")) {
      import spark.implicits._
      text match {
        case DropCatalogR(ifExists, name0) =>
          val name = name0.toLowerCase
          if (catalogs(spark).current.get.exists(_._1 == name))
            throw new IllegalArgumentException(
              s"Cannot drop a catalog which is currently in use: $name")
          if (catalogs(spark).named.remove(name).isEmpty && ifExists == null)
            throw new IllegalArgumentException(s"catalog does not exist: $name")
          Seq((name, "dropped")).toDF("catalog", "status")
        case _ => throw new IllegalArgumentException(
          s"DROP CATALOG must be DROP CATALOG [IF EXISTS] name: $text")
      }
    }
    else if (upper.trim.startsWith("CREATE")) text match {
      // CREATE [TEMPORARY] VIEW (reference SqlCommandParser.java:118,
      // CreateViewOperation): the BODY routes back through this dispatcher,
      // so a view over idiom text (TUMBLE, LATERAL TABLE, rn=1,
      // MATCH_RECOGNIZE, FOR SYSTEM_TIME) registers fine — Spark's own
      // CREATE TEMPORARY VIEW would reject the last two at parse, leave
      // LATERAL TABLE unresolved and keep rn=1 a rank no stream can run.
      case CreateViewR(ifNotExists, name0, body) =>
        resolveNameOpt(spark, name0) match {
          case None => spark.sql(text) // real Spark database: Spark's own
          case Some(name) =>
            if (ifNotExists != null && spark.catalog.tableExists(name))
              spark.table(name) // no-op: session keeps the OLD body, so
                                // nothing is recorded either
            else {
              val df = run(spark, body)
              df.createOrReplaceTempView(name)
              maybeRecord(spark, text.trim)
              df
            }
        }
      // CREATE [TEMPORARY] [SYSTEM] FUNCTION name AS 'impl' (reference
      // SqlCommandParser.java:149-151): impl names a graft expression class
      // or any session-registered function; `name` becomes an alias.
      case CreateFnR(name0, impl) =>
        import spark.implicits._
        resolveNameOpt(spark, name0) match {
          case None => spark.sql(text) // real Spark database: Spark's own
          case Some(name) =>
            org.apache.spark.sql.graft.GraftSqlFunctions.registerAlias(spark, name, impl)
            maybeRecord(spark, text.trim)
            Seq((name, impl)).toDF("function", "impl")
        }
      // the reference's DDL (SqlCreateTable.java:56) — a WATERMARK clause
      // registers a watermarked streaming SOURCE view (returned); without
      // one it registers a writable SINK for INSERT INTO (empty result).
      // Pre-screen on the connector-options clause `) WITH (` that BOTH
      // GraftDdl shapes require: a plain Spark DDL like `CREATE TABLE t
      // (x INT) USING parquet` has none and falls through to spark.sql
      // below instead of dying in GraftDdl as "unparseable" (r6 ADVICE);
      // a graft-shaped DDL with a bad body still errors meaningfully.
      // LIKE statements (FLIP-110) may omit the column list entirely, so
      // they're recognized by the LIKE keyword instead of `) WITH (`
      case _ if upper.trim.startsWith("CREATE TABLE") &&
          (blankLiterals(text).matches("(?is).*\\)\\s*WITH\\s*\\(.*") ||
            blankLiterals(text).matches("(?is).*\\sLIKE\\s+\\w+.*")) =>
        val name = graft.streaming.GraftDdl.executeDdl(spark, text)
        maybeRecord(spark, text.trim)
        if (spark.catalog.tableExists(name)) spark.table(name)
        else spark.emptyDataFrame
      case _ => spark.sql(text) // other DDL (plain CREATE TABLE, CREATE DATABASE, …): Spark's own
    }
    else if (upper.trim.startsWith("DROP")) {
      import spark.implicits._
      text match {
        // DROP VIEW / DROP TABLE / DROP FUNCTION (reference
        // SqlCommandParser.java:113,119,152). DROP TABLE covers both halves
        // of this engine's CREATE TABLE: the sink registry and the Spark
        // temp view a watermarked source registered as. Without IF EXISTS a
        // missing object is an error, like the reference's
        // ValidationException.
        case DropViewR(ifExists, name0) =>
          resolveNameOpt(spark, name0) match {
            case None => spark.sql(text) // real Spark database: Spark's own
            case Some(name) =>
              val dropped = spark.catalog.dropTempView(name)
              require(dropped || ifExists != null, s"view does not exist: $name")
              if (dropped) maybeUnrecord(spark, name)
              Seq((name, dropped)).toDF("name", "dropped")
          }
        case DropTableR(ifExists, name0) =>
          resolveNameOpt(spark, name0) match {
            case None => spark.sql(text) // real Spark database: Spark's own
            case Some(name) =>
              val sinkDropped = graft.streaming.GraftDdl.dropSink(spark, name)
              val viewDropped = spark.catalog.dropTempView(name)
              if (sinkDropped || viewDropped) {
                maybeUnrecord(spark, name)
                Seq((name, true)).toDF("name", "dropped")
              }
              else if (ifExists != null) Seq((name, false)).toDF("name", "dropped")
              // a real catalog table (e.g. registered by the plain-Spark
              // CREATE TABLE fallthrough): Spark's own DROP handles it — and
              // its error for a missing table honors IF EXISTS semantics too
              else spark.sql(text)
          }
        case DropFnR(ifExists, name0) =>
          resolveNameOpt(spark, name0) match {
            case None => spark.sql(text) // real Spark database: Spark's own
            case Some(name) =>
              val dropped =
                org.apache.spark.sql.graft.GraftSqlFunctions.dropFunction(spark, name)
              require(dropped || ifExists != null, s"function does not exist: $name")
              if (dropped) maybeUnrecord(spark, name)
              Seq((name, dropped)).toDF("name", "dropped")
          }
        case _ => spark.sql(text) // DROP DATABASE, …: Spark's own
      }
    }
    else if (upper.trim.startsWith("ALTER TABLE")) text match {
      // Hive-dialect partition DDL (reference SqlAddHivePartitions.java /
      // SqlDropPartitions.java — hive-parser-only grammar, hence the
      // dialect gate): ADD pre-creates / DROP deletes the partition
      // directory of a layout-partitioned filesystem sink. Only REGISTERED
      // sinks are claimed — Spark's own partition DDL on a real catalog
      // table stays Spark's (the fallthrough).
      case HiveDialect.AddPartR(name0, ifNot, specs) if HiveDialect.isHive(spark) &&
          isRegisteredSink(spark, name0) =>
        HiveDialect.partitionDdl(spark, resolveNameOpt(spark, name0).getOrElse(name0),
          add = true, lenient = ifNot != null, specs)
      case HiveDialect.DropPartR(name0, ifEx, specs) if HiveDialect.isHive(spark) &&
          isRegisteredSink(spark, name0) =>
        HiveDialect.partitionDdl(spark, resolveNameOpt(spark, name0).getOrElse(name0),
          add = false, lenient = ifEx != null, specs)
      case HiveDialect.RenamePartR(name0, fromSpec, toSpec) if HiveDialect.isHive(spark) &&
          isRegisteredSink(spark, name0) =>
        HiveDialect.renamePartition(spark,
          resolveNameOpt(spark, name0).getOrElse(name0), fromSpec, toSpec)
      // only for REGISTERED definitions: Spark's own ALTER TABLE ... ADD
      // COLUMNS on a real catalog table stays Spark's (the fallthrough)
      case HiveDialect.AddColsR(name0, mode, cols) if HiveDialect.isHive(spark) &&
          graft.streaming.GraftDdl.tableCols(spark,
            resolveNameOpt(spark, name0).getOrElse(name0).toLowerCase).isDefined =>
        HiveDialect.alterColumns(spark,
          resolveNameOpt(spark, name0).getOrElse(name0), mode, cols)
      case _ if HiveDialect.isHive(spark) &&
          HiveDialect.ChangeColR.findFirstIn(text).isDefined =>
        throw new IllegalArgumentException(
          "Hive dialect: CHANGE COLUMN is not supported — a rename/retype " +
            "would silently desync the files already written under the old " +
            "schema; use ADD COLUMNS or recreate the table")
      // ALTER TABLE name SET ('k'='v') (reference SqlCommandParser.java:115,
      // AlterTableOperation / 1.11 SqlAlterTableProperties): on a registered
      // sink the options merge into the SinkDef — later INSERTs observe the
      // new path/format. Anything else is Spark's own ALTER.
      case AlterTableR(name0, optsTxt) =>
        import spark.implicits._
        resolveNameOpt(spark, name0) match {
          case Some(name) if graft.streaming.GraftDdl.alterSink(spark, name, optsTxt) =>
            Seq((name, "altered")).toDF("name", "status")
          case _ => spark.sql(text) // not a registered sink: Spark's own ALTER
        }
      // ALTER TABLE a RENAME TO b (reference SqlAlterTableRename.java):
      // covers both halves of this engine's CREATE TABLE — the sink
      // registry entry and/or the TEMP view a source registered as; a
      // real catalog table (plain-Spark fallthrough, metastore) takes
      // Spark's own ALTER ... RENAME below, which renames in place.
      case AlterRenameR("TABLE", from0, to0) if {
        resolveNameOpt(spark, from0).exists(f =>
          graft.streaming.GraftDdl.sink(spark, f).isDefined || isTempView(spark, f))
      } =>
        import spark.implicits._
        val from = resolveNameOpt(spark, from0).get
        val to = resolveNameOpt(spark, to0).getOrElse(
          throw new IllegalArgumentException(s"bad rename target: $to0"))
        val sinkMoved = graft.streaming.GraftDdl.renameSink(spark, from, to)
        if (isTempView(spark, from)) {
          spark.table(from).createOrReplaceTempView(to)
          spark.catalog.dropTempView(from)
        }
        require(sinkMoved || spark.catalog.tableExists(to),
          s"nothing to rename: $from")
        maybeRerecordRename(spark, from, to) // the stored definition moves
                                             // to the NEW name (catalog-rename
                                             // preserves the object)
        Seq((from, to)).toDF("from", "to")
      case _ => spark.sql(text)
    }
    else if (upper.trim.startsWith("ALTER VIEW")) text match {
      // ALTER VIEW v RENAME TO w / ALTER VIEW v AS <stmt> (reference
      // SqlAlterViewRename.java / SqlAlterViewAs.java). Bodies route back
      // through this dispatcher, so idiom text alters fine. The reference
      // validates existence before altering — so does this. A qualified
      // name on a real database falls through to Spark's own ALTER VIEW,
      // like every other command.
      case AlterRenameR("VIEW", from0, to0) =>
        import spark.implicits._
        (resolveNameOpt(spark, from0), resolveNameOpt(spark, to0)) match {
          case (Some(from), Some(to)) =>
            require(isTempView(spark, from), s"view does not exist: $from")
            spark.table(from).createOrReplaceTempView(to)
            spark.catalog.dropTempView(from)
            maybeRerecordRename(spark, from, to)
            Seq((from, to)).toDF("from", "to")
          case _ => spark.sql(text) // real Spark database: Spark's own
        }
      case AlterViewAsR(name0, body) =>
        import spark.implicits._
        resolveNameOpt(spark, name0) match {
          case Some(name) =>
            require(isTempView(spark, name), s"view does not exist: $name")
            run(spark, body).createOrReplaceTempView(name)
            // the stored definition must follow the NEW body, or a catalog
            // re-open would resurrect the old one
            maybeRecord(spark, s"CREATE VIEW $name AS $body")
            Seq((name, "altered")).toDF("view", "status")
          case None => spark.sql(text) // real Spark database: Spark's own
        }
      case _ => spark.sql(text)
    }
    else if (upper.trim.startsWith("ALTER FUNCTION")) text match {
      // ALTER FUNCTION name AS 'impl' (reference SqlAlterFunction.java):
      // re-point an existing alias; altering a function that was never
      // created is the reference's ValidationException. Qualified names on
      // real databases take Spark's own path.
      case AlterFnR(name0, impl) =>
        import spark.implicits._
        resolveNameOpt(spark, name0) match {
          case Some(name) =>
            require(spark.catalog.functionExists(name),
              s"function does not exist: $name")
            org.apache.spark.sql.graft.GraftSqlFunctions.registerAlias(spark, name, impl)
            maybeRecord(spark, s"CREATE FUNCTION $name AS '$impl'")
            Seq((name, impl)).toDF("function", "impl")
          case None => spark.sql(text) // real Spark database: Spark's own
        }
      case _ => spark.sql(text)
    }
    else if (upper.trim.matches("(?s)SHOW\\s+TABLES\\s*;?\\s*")) {
      // sink tables live in GraftDdl's registry, not the Spark catalog; the
      // reference's SHOW TABLES lists sources and sinks alike (both are
      // catalog tables there, SqlCommandParser.java:143), so merge. Catalog
      // listing is driver-side metadata — the one legitimate collect.
      import spark.implicits._
      val views = spark.catalog.listTables().collect().map(_.name.toLowerCase).toSeq
      (views ++ graft.streaming.GraftDdl.sinkNames(spark)).distinct.sorted.toDF("tableName")
    }
    else if (upper.trim.matches("(?s)SHOW\\s+CATALOGS\\s*;?\\s*")) {
      // SHOW CATALOGS (SqlCommandParser.java:139): the engine's single
      // default catalog, Spark's own name for it, and every CREATE
      // CATALOG-registered name — all USE-able
      import spark.implicits._
      (Seq("default_catalog", "spark_catalog") ++ catalogs(spark).named.keys)
        .sorted.toDF("catalogName")
    }
    else if (upper.trim.matches("(?s)SHOW\\s+DATABASES\\s*;?\\s*")) {
      // SHOW DATABASES (SqlCommandParser.java:141): real Spark databases —
      // each usable qualified through the resolveNameOpt fallthrough.
      // default_database is the reference's spelling of the default.
      import spark.implicits._
      val real = spark.catalog.listDatabases().collect().map(_.name).toSeq
      ("default_database" +: real.filterNot(_ == "default"))
        .distinct.sorted.toDF("databaseName")
    }
    else if (upper.trim.matches("(?s)SHOW\\s+VIEWS\\s*;?\\s*")) {
      // SHOW VIEWS (FLINK-17112, in the 1.11 client): temp views only —
      // registry sinks and real tables stay with SHOW TABLES
      import spark.implicits._
      spark.catalog.listTables().collect()
        .filter(_.isTemporary).map(_.name.toLowerCase)
        .toSeq.distinct.sorted.toDF("viewName")
    }
    else if (upper.trim.matches("(?s)SHOW\\s+MODULES\\s*;?\\s*")) {
      // SHOW MODULES (SqlCommandParser.java:146): the reference ships the
      // single 'core' module by default; this engine's function surface is
      // likewise one flat registry
      import spark.implicits._
      Seq("core").toDF("moduleName")
    }
    else if (upper.trim.matches("(?s)SHOW\\s+FUNCTIONS\\s*;?\\s*")) {
      // SHOW FUNCTIONS (SqlCommandParser.java:144) aligned with SHOW TABLES:
      // one sorted name column covering builtins AND door-registered
      // aliases (CREATE FUNCTION registers into the session registry, so
      // the catalog listing already carries them). Metadata-sized collect.
      import spark.implicits._
      spark.catalog.listFunctions().collect().map(_.name.toLowerCase)
        .distinct.sorted.toSeq.toDF("functionName")
    }
    else if (upper.trim.matches("(?is)DESC(?:RIBE)?\\s+CATALOG\\s+.*")) {
      // DESCRIBE CATALOG name (reference dql/SqlDescribeCatalog.java):
      // name, type, whether current, and the persistence path if any.
      import spark.implicits._
      val name = upper.trim.replaceAll("(?is)DESC(?:RIBE)?\\s+CATALOG\\s+", "")
        .stripSuffix(";").trim.toLowerCase
      val isCurrent = catalogs(spark).current.get.exists(_._1 == name)
      catalogs(spark).named.get(name) match {
        case Some(pathOpt) =>
          Seq((name, pathOpt.fold("generic_in_memory")(_ => "graft"),
            isCurrent.toString, pathOpt.getOrElse("")))
            .toDF("catalog", "type", "current", "path")
        case None if Seq("default_catalog", "spark_catalog").contains(name) =>
          Seq((name, "default", (catalogs(spark).current.get.isEmpty).toString, ""))
            .toDF("catalog", "type", "current", "path")
        case None => throw new IllegalArgumentException(
          s"catalog does not exist: $name")
      }
    }
    else if (upper.trim.matches("(?is)DESC(?:RIBE)?\\s+DATABASE\\s+.*")) {
      // DESCRIBE DATABASE name (reference dql/SqlDescribeDatabase.java):
      // Spark's catalog metadata for the database.
      import spark.implicits._
      val name0 = upper.trim.replaceAll("(?is)DESC(?:RIBE)?\\s+DATABASE\\s+", "")
        .stripSuffix(";").trim.toLowerCase
      val name = if (name0 == "default_database") "default" else name0
      require(spark.catalog.databaseExists(name),
        s"database does not exist: $name0")
      val db = spark.catalog.getDatabase(name)
      Seq((db.name, Option(db.description).getOrElse(""), db.locationUri))
        .toDF("database", "description", "location")
    }
    else if (upper.trim.startsWith("DESCRIBE") || upper.trim.startsWith("DESC "))
      text match {
        // DESCRIBE (SqlCommandParser.java:116) aligned with SHOW TABLES
        // (r6 What's-wrong #5): a registered SINK — which lives in
        // GraftDdl's registry, not the Spark catalog — describes as its
        // written schema (from the sink files when any exist) plus its
        // connector options, in Spark's (col_name, data_type, comment)
        // shape. Views and real tables go to Spark's own DESCRIBE.
        case DescribeR(name0) if resolveNameOpt(spark, name0).isEmpty =>
          spark.sql(text) // real Spark database: Spark's own DESCRIBE
        case DescribeR(name0) =>
          val name = resolveNameOpt(spark, name0).get
          graft.streaming.GraftDdl.sink(spark, name) match {
            case Some(sd) =>
              import spark.implicits._
              val schemaRows =
                try spark.read.format(sd.format).load(sd.path).schema.fields.toSeq
                  .map(f => (f.name, f.dataType.simpleString, null: String))
                catch { case _: Exception =>
                  Seq(("(no rows written yet)", "", null: String)) }
              (schemaRows ++ Seq(
                ("# Connector", "", null: String),
                ("path", sd.path, null: String),
                ("format", sd.format, null: String)))
                .toDF("col_name", "data_type", "comment")
            case None =>
              if (name == name0.trim) spark.sql(text)
              else spark.sql(s"DESCRIBE TABLE $name") // default-qualified:
                                                      // temp views resolve unqualified
          }
        case _ => spark.sql(text)
      }
    else if (upper.trim.startsWith("USE")) {
      // USE [CATALOG] name (SqlCommandParser.java:140-142): this engine has
      // exactly the reference's defaults, so selecting them is a no-op
      // success; any other name is the same clear error as resolveName's.
      import spark.implicits._
      val target = upper.trim.stripPrefix("USE").trim
        .stripPrefix("CATALOG").trim.stripSuffix(";").trim.toLowerCase
      if (Seq("default_catalog", "default_database", "spark_catalog", "default")
          .contains(target)) {
        catalogs(spark).current.set(None) // back to the default catalog
        Seq((target, "in use")).toDF("name", "status")
      }
      else if (catalogs(spark).named.contains(target)) {
        // a CREATE CATALOG-registered catalog becomes current: persistable
        // DDL is recorded there from now on (reference setCurrentCatalog)
        catalogs(spark).current.set(Some(target -> catalogs(spark).named(target)))
        Seq((target, "in use")).toDF("name", "status")
      }
      else spark.sql(text) // a real Spark database: Spark's own USE
    }
    else if (upper.trim.startsWith("SOURCE ")) text match {
      // the SQL client's SOURCE <file> (SqlCommandParser.java:303): run the
      // file's contents as a script, last statement's result returned.
      case SourceR(path) =>
        val stmts = splitStatements(
          java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
        require(stmts.nonEmpty, s"empty script file: $path")
        stmts.map(run(spark, _)).last
      case _ => throw new IllegalArgumentException(
        s"SOURCE must be SOURCE <script-file>: $text")
    }
    else if (upper.trim.startsWith("INSERT")) text match {
      // the reference's deployment statement (SqlToOperationConverter →
      // CatalogSinkModifyOperation): resolve the SELECT through this same
      // dispatcher (idioms compose into the INSERT), write it to the
      // registered sink, and return the sink's contents for verification.
      // Batch SELECTs overwrite (re-running a statement is idempotent);
      // streaming SELECTs drain via AvailableNow into the sink path.
      case InsertR(mode, name0, partTxt, select) =>
        resolveNameOpt(spark, name0)
          .flatMap(n => graft.streaming.GraftDdl.sink(spark, n).map(n -> _)) match {
          case Some((name, sd)) =>
            executeInsert(spark, mode, name, sd, select, Option(partTxt))._1
          case None => spark.sql(text) // a real catalog table: Spark handles it
        }
      case _ => throw new IllegalArgumentException(
        s"INSERT must be INSERT INTO|OVERWRITE <sink> <select>: $text")
    }
    else if (scanUpper.contains("MATCH_RECOGNIZE")) text match {
      case MatchR(from, spec, orderTxt) =>
        val out = graft.cep.MatchRecognize.matchRecognize(spark.table(from), spec)
        Option(orderTxt).map(_.trim).filter(_.nonEmpty) match {
          case Some(o) => out.orderBy(o.split(",").map(_.trim).map(org.apache.spark.sql.functions.col).toSeq: _*)
          case None => out
        }
      case _ => extractParenSubquery(text, "MATCH_RECOGNIZE") match {
        // nested as a subquery (reference: a MATCH_RECOGNIZE relation is an
        // ordinary RelNode input to any enclosing operator): lower the inner
        // statement, splice a temp view, re-dispatch — the enclosing
        // statement's own idioms (TUMBLE, LATERAL, rn=1) still compose.
        case Some((start, end, inner)) =>
          val view = s"graft_mr_sub_${Integer.toHexString(inner.hashCode)}"
          run(spark, inner).createOrReplaceTempView(view)
          run(spark, text.substring(0, start) + view + text.substring(end))
        case None => throw new IllegalArgumentException(
          "MATCH_RECOGNIZE statement must be SELECT * FROM <table> " +
            s"MATCH_RECOGNIZE (<spec>) [ORDER BY …]: $text")
      }
    }
    else if (scanUpper.contains("FOR SYSTEM_TIME AS OF"))
      // A temporal join that is the WHOLE statement routes straight to the
      // recognizer; one nested as a parenthesized subquery (the reference
      // planner handles it at any depth — a windowed aggregate OVER a
      // temporal join is its documented enrichment-then-aggregate shape) is
      // extracted, lowered to a temp view, and the spliced statement
      // re-enters this dispatcher so the REMAINING idioms (TUMBLE, LATERAL,
      // rn=1) still compose around it.
      extractParenSubquery(text, "FOR SYSTEM_TIME AS OF") match {
        case Some((start, end, inner)) =>
          val view = s"graft_tj_sub_${Integer.toHexString(inner.hashCode)}"
          TemporalSql.sql(spark, inner).createOrReplaceTempView(view)
          run(spark, text.substring(0, start) + view + text.substring(end))
        case None => TemporalSql.sql(spark, text) // throws on near-miss;
                                                  // spark.sql can't take it
      }
    else if (TemporalFunction.recognizes(spark, text))
      // a LATERAL TABLE call naming a REGISTERED temporal table function —
      // the 1.11 function form of the temporal join (`FROM Orders o,
      // LATERAL TABLE (Rates(o.rowtime)) r WHERE …`); a UDTF lateral with
      // the same grammar falls through to the generator lowering below,
      // exactly the reference's function-catalog kind check at Correlate
      // planning time
      TemporalFunction.sql(spark, text)
    else org.apache.spark.sql.graft.GraftSqlFunctions.sql(spark, text)
  }

  /** Execute one INSERT against a registered sink; returns (sink read-back,
    * rows written BY THIS STATEMENT).
    *
    * Batch SELECTs overwrite — re-running a deployment statement is
    * idempotent (disclosed divergence; the reference appends). The
    * overwrite deletes the sink path wholesale, `_spark_metadata` from any
    * earlier streaming INSERT included, and also drops the sink's streaming
    * checkpoint so a LATER streaming INSERT re-drains from scratch into the
    * reset sink instead of resuming against contents that no longer exist.
    *
    * Streaming SELECTs drain via AvailableNow with a STABLE per-(sink,path)
    * checkpoint: a re-run resumes incrementally, draining only data that
    * arrived since. The previous fresh-UUID checkpoint restarted batchIds
    * at 0 against the sink's persistent `_spark_metadata` log, so
    * FileStreamSink skipped the "already committed" batch ids and a re-run
    * silently wrote nothing (r6 ADVICE). The reference re-executes the
    * whole query and appends everything again on each submission;
    * incremental resume is this engine's disclosed divergence, same spirit
    * as the batch-overwrite one. The checkpoint key includes the sink PATH,
    * so `ALTER TABLE … SET ('path'=…)` re-drains fully into the new
    * location rather than inheriting offsets drained into the old one. */
  // PARTITION (k='v', n=3) static values (RichSqlInsert.java:125)
  private val PartValR = "(\\w+)\\s*=\\s*(?:'([^']*)'|([^,\\s]+))".r

  private def executeInsert(spark: SparkSession, mode: String, name: String,
      sd: graft.streaming.GraftDdl.SinkDef, select: String,
      partitionTxt: Option[String]): (DataFrame, Long) = {
    // static partition values become constant columns on every inserted
    // row (the reference's static-partition insert); the DDL's PARTITIONED
    // BY columns drive the physical layout below
    val statics = partitionTxt.toSeq.flatMap(t =>
      PartValR.findAllMatchIn(t).map(m =>
        m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))))
    statics.foreach { case (k, _) =>
      require(sd.partitions.contains(k),
        s"PARTITION ($k=…): '$k' is not a declared partition column of " +
          s"$name ${sd.partitions.mkString("(", ", ", ")")} — declare it " +
          "with PARTITIONED BY in the sink DDL") }
    val df = statics.foldLeft(run(spark, select)) {
      case (d, (k, v)) => d.withColumn(k, org.apache.spark.sql.functions.lit(v))
    }
    val ckpt = graft.Tables.scratch(
      s"insert-ckpt/$name-${Integer.toHexString(sd.path.hashCode)}")
    if (sd.format == "print" || sd.format == "blackhole")
      executeUtilityInsert(spark, name, sd.format, df)
    else if (df.isStreaming) {
      require(!mode.equalsIgnoreCase("OVERWRITE"),
        "INSERT OVERWRITE requires a batch SELECT — a streaming " +
          "query cannot overwrite its own sink (the reference " +
          "rejects streaming INSERT OVERWRITE the same way)")
      if (sd.primaryKey.nonEmpty && df.columns.contains("kind"))
        executeUpsertInsert(spark, name, sd, df)
      else if (sd.opts.contains("sink.partition-commit.trigger")) {
        // FLIP-115 streaming filesystem sink: partitioned append + the
        // partition committer; read-back honors _SUCCESS only (the
        // downstream Hive-consumer view)
        import graft.streaming.PartitionCommit
        require(sd.partitions.size == 1,
          s"partition-commit sink $name needs exactly one PARTITIONED BY " +
            s"column (epoch-second partition start), got ${sd.partitions}")
        val pc = PartitionCommit.options(sd.opts)
        require(pc.trigger == "partition-time",
          s"unsupported sink.partition-commit.trigger '${pc.trigger}' — " +
            "only 'partition-time' is implemented (process-time commit " +
            "needs wall-clock progress a bounded AvailableNow drain " +
            "doesn't have)")
        require(pc.policy == "success-file",
          s"unsupported sink.partition-commit.policy.kind '${pc.policy}'")
        val tsCol = sd.opts.getOrElse("sink.partition-commit.watermark-column", "ts")
        val durSec = sd.opts.get("partition.duration")
          .map(graft.operators.LookupJoin.parseDuration(_) / 1000L)
          .getOrElse(3600L)
        // the committer's watermark = max(ts) − out-of-orderness bound, and
        // the bound comes from the SOURCE DDL's WATERMARK clause — read it
        // off the analyzed plan's EventTimeWatermark node (the same place
        // Spark's own stateful operators get it), so the committer sees the
        // exact watermark the stream carries rather than max(ts) raw
        val boundSec = df.queryExecution.analyzed.collect {
          case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark =>
            org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
              .getDelayMs(e.delay) / 1000L
        }.foldLeft(0L)(math.max)
        val at = PartitionCommit.attach(
          df, sd.path, sd.partitions.head, durSec, tsCol,
          boundSec = boundSec, delaySec = pc.delaySec,
          commitTag = Integer.toHexString(ckpt.hashCode))
        val q = graft.streaming.StreamingOps.startQuery(spark, at.writer
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()), ckpt)
        try q.awaitTermination() finally q.stop()
        val rb = PartitionCommit.readCommitted(spark, sd.path, sd.partitions.head)
        (rb, at.rowsWritten)
      }
      else {
        val before =
          try spark.read.format(sd.format).load(sd.path).count()
          catch { case _: org.apache.spark.sql.AnalysisException => 0L }
        val writer0 = df.writeStream.format(sd.format)
          .option("path", sd.path)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        val writer = if (sd.partitions.nonEmpty)
          writer0.partitionBy(sd.partitions: _*) else writer0
        val q = graft.streaming.StreamingOps.startQuery(spark, writer, ckpt)
        try q.awaitTermination() finally q.stop()
        val rb = spark.read.format(sd.format).load(sd.path)
        (rb, rb.count() - before)
      }
    } else {
      // INSERT OVERWRITE … PARTITION (k='v') must replace ONLY the named
      // partition (the reference's static-partition overwrite scope —
      // RichSqlInsert.java:125 + filesystem sink semantics); Spark's
      // dynamic partitionOverwriteMode scopes the overwrite to the
      // partitions present in the written data, which with static
      // constants is exactly the named one. A partition-less OVERWRITE
      // (and this engine's idempotent batch INSERT INTO) replaces the
      // whole sink as before.
      val scoped = mode.equalsIgnoreCase("OVERWRITE") &&
        statics.nonEmpty && sd.partitions.nonEmpty
      val writer0 = df.write.mode("overwrite").format(sd.format)
      val writer1 =
        if (scoped) writer0.option("partitionOverwriteMode", "dynamic")
        else writer0
      val writer = if (sd.partitions.nonEmpty)
        writer1.partitionBy(sd.partitions: _*) else writer1
      writer.save(sd.path)
      deleteRecursively(new java.io.File(ckpt))
      val rb = spark.read.format(sd.format).load(sd.path)
      (rb, rb.count())
    }
  }

  /** INSERT INTO the reference's pathless utility sinks: `print`
    * (PrintTableSinkFactory — rows print on the EXECUTORS via
    * foreachPartition, like the reference printing to taskmanager stdout;
    * never a driver collect) and `blackhole` (BlackHoleTableSinkFactory —
    * Spark's `noop` write format). Returns the rows written — for print
    * the batch result itself; streaming drains AvailableNow and returns
    * the drained count. */
  private def executeUtilityInsert(spark: SparkSession, name: String,
      format: String, df: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.Row
    // one pass per batch: count inside the same partition sweep that
    // prints/discards, instead of a second count() job over the full plan
    def consume(batch: DataFrame, counter: Long => Unit): Unit = {
      val acc = spark.sparkContext.longAccumulator(s"graft-$name-rows")
      val doPrint = format == "print"
      batch.foreachPartition { it: Iterator[Row] =>
        var c = 0L
        it.foreach { r => c += 1; if (doPrint) println(s"+I[${r.mkString(", ")}]") }
        acc.add(c)
      }
      counter(acc.value)
    }
    if (!df.isStreaming) {
      var n = 0L
      consume(df, n = _)
      (df, n)
    } else {
      val drained = spark.sparkContext.longAccumulator(s"graft-$name-rows")
      val ckpt = graft.Tables.scratch(
        s"insert-ckpt/$name-util-${java.util.UUID.randomUUID()}")
      val q = graft.streaming.StreamingOps.startQuery(spark, df.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          consume(batch, drained.add(_))
          () // blackhole: counting IS the consumption
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()), ckpt)
      try q.awaitTermination()
      finally { q.stop(); deleteRecursively(new java.io.File(ckpt)) }
      import spark.implicits._
      (Seq((name, format, drained.value)).toDF("sink", "connector", "rows"),
        drained.value)
    }
  }

  /** Streaming INSERT INTO a PRIMARY-KEY-declared sink of a CHANGELOG query
    * (result carries the engine's `kind` column, +I/-U/+U/-D): the DDL's
    * constraint keys a retract-aware upsert — the reference derives its
    * upsert sinks' keys from exactly this constraint (SqlCreateTable.java:56
    * → sink getChangelogMode; upsert-kafka/JDBC key writes by PK). The
    * changelog drains through [[graft.streaming.UpsertSink]]'s keyed store
    * (+I/+U put, -D delete) and the sink path is then OVERWRITTEN with the
    * materialized FINAL STATE — one row per live key, kind column dropped —
    * not the changelog rows.
    *
    * The in-memory store is the local-mode backend of the KeyedStore SPI
    * (enforced inside foreachBatchChangelog); a cluster deployment plugs an
    * external KV store there. Final state is keyed, so the driver-side
    * snapshot is bounded by distinct keys, not stream size. The store
    * starts empty on every statement run, so the drain uses a FRESH
    * checkpoint (a resumed offset against an empty store would silently
    * lose keys drained by the previous run). */
  private def executeUpsertInsert(spark: SparkSession, name: String,
      sd: graft.streaming.GraftDdl.SinkDef, df: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val store = new graft.streaming.UpsertSink.InMemoryStore()
    try {
      val ckpt = graft.Tables.scratch(
        s"insert-ckpt/$name-upsert-${java.util.UUID.randomUUID()}")
      val q = graft.streaming.StreamingOps.startQuery(spark, graft.streaming.UpsertSink
        .foreachBatchChangelog(df, "kind", sd.primaryKey, store)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()), ckpt)
      try q.awaitTermination()
      finally { q.stop(); deleteRecursively(new java.io.File(ckpt)) }
      val kindIdx = df.columns.indexOf("kind")
      val outSchema = StructType(
        df.schema.fields.zipWithIndex.collect { case (f, i) if i != kindIdx => f })
      val rows = store.snapshot().values.toSeq.map(r =>
        Row.fromSeq(r.zipWithIndex.collect { case (v, i) if i != kindIdx => v }))
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toList, 1), outSchema)
        .write.mode("overwrite").format(sd.format).save(sd.path)
      val rb = spark.read.format(sd.format).load(sd.path)
      (rb, rb.count())
    } finally store.close()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** q_sql_mixed: TWO idioms in ONE statement — a TUMBLE group-window
    * aggregate over a LATERAL TABLE expansion. Neither per-idiom door could
    * take this text; the unified entry composes both rewrites and Catalyst
    * plans a single windowed aggregate over the generator (no UDTF
    * round-trip, window assignment codegen'd). */
  val qSqlMixed: Q = Q(
    "q_sql_mixed",
    (s, dir) => sql(s, dir,
      """SELECT unix_timestamp(TUMBLE_START(ts, INTERVAL '5' MINUTE)) AS wstart,
        |       tok, count(*) AS cnt
        |FROM events, LATERAL TABLE(split_rows(event_type, 'i')) AS T(tok)
        |GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE), tok
        |ORDER BY wstart, tok""".stripMargin),
    Some("""SELECT wstart, tok, count(*) AS cnt FROM (
           |  SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS wstart,
           |         unnest(string_split(event_type, 'i')) AS tok
           |  FROM events)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** q_sql_match_stmt: a full MATCH_RECOGNIZE STATEMENT (not just the inner
    * spec) through the unified door — same NFA, same oracle shape as
    * q_match_recognize_seq. */
  val qSqlMatchStmt: Q = Q(
    "q_sql_match_stmt",
    (s, dir) => {
      Tables.t(s, dir, "events").select("user_id", "event_id", "event_type")
        .createOrReplaceTempView("graft_sql_events")
      run(s,
        """SELECT * FROM graft_sql_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY event_id
          |  MEASURES A.event_id AS a_id, B.event_id AS b_id, C.event_id AS c_id
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (A B C)
          |  DEFINE A AS event_type = 'signup', B AS event_type = 'view',
          |         C AS event_type = 'purchase'
          |) ORDER BY user_id, a_id""".stripMargin)
    },
    Some("""SELECT user_id, a_id, b_id, c_id FROM (
           |  SELECT user_id, event_id AS a_id, event_type AS t0,
           |         lead(event_id) OVER w AS b_id, lead(event_type) OVER w AS t1,
           |         lead(event_id, 2) OVER w AS c_id, lead(event_type, 2) OVER w AS t2
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
           |WHERE t0 = 'signup' AND t1 = 'view' AND t2 = 'purchase'
           |ORDER BY user_id, a_id""".stripMargin))

  /** q_sql_dedup_entry: the rn=1 idiom entering through the unified door —
    * recognized and lowered to the keep-first keyed aggregate (deterministic
    * struct tie-break), not executed as a rank. */
  val qSqlDedupEntry: Q = Q(
    "q_sql_dedup_entry",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      Tables.t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .createOrReplaceTempView("graft_sql_dedup_in")
      run(s,
        """SELECT * FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us) AS rn
          |  FROM graft_sql_dedup_in) WHERE rn = 1""".stripMargin)
        .orderBy("user_id")
    },
    Some("""SELECT user_id, arg_min(event_id, epoch_us(ts)) AS event_id,
           |       arg_min(event_type, epoch_us(ts)) AS event_type,
           |       arg_min(epoch_us(ts), epoch_us(ts)) AS ts_us,
           |       CAST(1 AS INTEGER) AS rn
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** q_insert_into: the reference's end-to-end SQL deployment shape through
    * ONE door — sink DDL, then INSERT INTO whose SELECT itself uses a
    * recognized idiom (TUMBLE). The returned DataFrame is read back FROM the
    * sink files, so the oracle certifies the write path, not just the
    * select. */
  val qInsertInto: Q = Q(
    "q_insert_into",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val path = Tables.scratch("insert-sink/graft_wcounts")
      run(s,
        s"""CREATE TABLE graft_wcounts (wstart BIGINT, cnt BIGINT)
           |WITH ('path' = '$path', 'format' = 'parquet')""".stripMargin)
      run(s,
        """INSERT INTO graft_wcounts
          |SELECT unix_timestamp(TUMBLE_START(ts, INTERVAL '10' MINUTE)) AS wstart,
          |       count(*) AS cnt
          |FROM events
          |GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)""".stripMargin)
        .orderBy("wstart")
    },
    Some("""SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS wstart,
           |       count(*) AS cnt
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The catalog LIFECYCLE from SQL text alone (reference SqlCreateCatalog +
    * CatalogManager.setCurrentCatalog + HiveCatalog durability): register a
    * persistent catalog, make it current, run sink DDL + INSERT under it —
    * the DDL is durably recorded — then re-open the catalog under a fresh
    * name and answer from the REPLAYED table. The oracle reconstructs the
    * written aggregate relationally. */
  val qCatalogDoor: Q = Q(
    "q_catalog_door",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val catDir = Tables.scratch(
        s"catalog-door/cat-${java.util.UUID.randomUUID()}")
      val sink = Tables.scratch(
        s"catalog-door/sink-${java.util.UUID.randomUUID()}")
      try {
        run(s, s"CREATE CATALOG door_cat WITH ('type'='graft', 'path'='$catDir')")
        run(s, "USE CATALOG door_cat")
        run(s,
          s"""CREATE TABLE graft_cat_sink (o_orderpriority STRING, n BIGINT)
             |WITH ('path' = '$sink', 'format' = 'parquet')""".stripMargin)
        run(s,
          """INSERT INTO graft_cat_sink
            |SELECT o_orderpriority, count(*) AS n
            |FROM orders GROUP BY o_orderpriority""".stripMargin)
        // drop the session object, then re-open the catalog: the recorded
        // DDL replays and the sink is a FUNCTIONING table again — the
        // INSERT (idempotent batch overwrite) returns its contents
        run(s, "USE CATALOG default_catalog")
        run(s, "DROP TABLE graft_cat_sink")
        run(s, s"CREATE CATALOG door_cat2 WITH ('type'='graft', 'path'='$catDir')")
        run(s,
          """INSERT INTO graft_cat_sink
            |SELECT o_orderpriority, count(*) AS n
            |FROM orders GROUP BY o_orderpriority""".stripMargin)
          .orderBy("o_orderpriority")
      } finally resetNamedCatalogs(s)
    },
    Some("""SELECT o_orderpriority, count(*) AS n FROM orders
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** The reference's StatementSet (flink-table/flink-table-api-java/src/main/
    * java/org/apache/flink/table/api/StatementSet.java — 1.11's API for
    * buffering SEVERAL `INSERT INTO` statements and submitting them with one
    * `execute()` call): INSERTs accumulate with `addInsertSql`, `execute()`
    * routes each through the unified dispatcher in order (idioms compose
    * inside the SELECTs) and returns one summary row per statement — sink
    * name and rows written, the analogue of the reference TableResult's
    * per-sink affected-row counts. */
  final class StatementSet private[operators] (spark: SparkSession) {
    private val stmts =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, Option[String], String)]
    def addInsertSql(sql: String): this.type = sql.trim match {
      // validate the FULL statement shape here (the reference's
      // StatementSet.addInsertSql throws immediately on non-INSERT text),
      // so execute() can never hit a MatchError on text that merely
      // started with the right prefix (r6 ADVICE)
      case InsertR(mode, name, partTxt, select) if mode.equalsIgnoreCase("INTO") =>
        stmts += ((name, select, Option(partTxt), sql.trim))
        this
      case _ => throw new IllegalArgumentException(
        s"StatementSet accepts only INSERT INTO <sink> <select> statements: $sql")
    }
    def execute(): DataFrame = {
      import spark.implicits._
      require(stmts.nonEmpty, "empty statement set: call addInsertSql first")
      stmts.toSeq.map { case (name, select, partTxt, full) =>
        // rows = THIS statement's written count (the reference
        // TableResult's per-sink affected-row count), not the sink's
        // cumulative contents, which diverge for streaming-append sinks
        // and pre-populated paths (r6 ADVICE)
        val rows = graft.streaming.GraftDdl.sink(spark, name) match {
          // a static PARTITION clause travels with its statement — the
          // two door entry points (run / StatementSet) must not diverge
          case Some(sd) => executeInsert(spark, "INTO", name, sd, select, partTxt)._2
          case None => GraftSql.run(spark, full).count()
        }
        name -> rows
      }.toDF("sink", "rows")
    }
  }

  def createStatementSet(spark: SparkSession): StatementSet =
    new StatementSet(spark)

  /** q_sql_window_topn: the rn=1 SHAPE layered over a TUMBLE aggregate,
    * through the one door. The dedup recognizer correctly DECLINES — its
    * subject is a derived table, not a bare view, and the reference planner
    * likewise routes this plan to Rank, not Deduplicate
    * (StreamExecRankRule vs StreamExecDeduplicateRule) — then the TUMBLE
    * lowers by text and Catalyst runs the rank: the reference's "window
    * Top-N" pattern answered through composed recognizers. Deterministic by
    * construction (wstart tie-break in the rank ORDER BY). */
  val qSqlWindowTopn: Q = Q(
    "q_sql_window_topn",
    (s, dir) => sql(s, dir,
      """SELECT * FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |                               ORDER BY cnt DESC, wstart) AS rn
        |  FROM (
        |    SELECT user_id,
        |           unix_timestamp(TUMBLE_START(ts, INTERVAL '10' MINUTE)) AS wstart,
        |           count(*) AS cnt
        |    FROM events GROUP BY user_id, TUMBLE(ts, INTERVAL '10' MINUTE))
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin),
    Some("""SELECT user_id, wstart, cnt, CAST(rn AS INTEGER) AS rn FROM (
           |  SELECT *, row_number() OVER (PARTITION BY user_id
           |                              ORDER BY cnt DESC, wstart) AS rn
           |  FROM (
           |    SELECT user_id, CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS wstart,
           |           count(*) AS cnt
           |    FROM events GROUP BY 1, 2))
           |WHERE rn = 1 ORDER BY user_id""".stripMargin))

  /** q_sql_temporal_window: a TUMBLE aggregate OVER a temporal-join
    * subquery — the enrichment-then-aggregate statement the per-idiom doors
    * could never take (VERDICT r5's exact example of composition the five
    * separate recognizers missed). The nested `FOR SYSTEM_TIME AS OF` is
    * extracted and lowered to the single-shuffle as-of plan, the outer
    * TUMBLE lowers by text over the spliced view, and the money aggregate
    * sums integer cents (exact, order-independent). */
  val qSqlTemporalWindow: Q = Q(
    "q_sql_temporal_window",
    (s, dir) => {
      import s.implicits._
      val e = Tables.t(s, dir, "events")
      e.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
        .createOrReplaceTempView("graft_tjw_purchases")
      e.filter($"event_type" === "signup")
        .select($"user_id", $"ts", $"value")
        .createOrReplaceTempView("graft_tjw_signups")
      run(s,
        """SELECT unix_timestamp(TUMBLE_START(ts, INTERVAL '30' MINUTE)) AS wstart,
          |       count(*) AS cnt,
          |       round(sum(round(100 * v)) / 100.0, 2) AS total
          |FROM (
          |  SELECT p.ts AS ts, b.value AS v
          |  FROM graft_tjw_purchases AS p
          |  JOIN graft_tjw_signups FOR SYSTEM_TIME AS OF p.ts AS b
          |  ON p.user_id = b.user_id
          |) e
          |GROUP BY TUMBLE(ts, INTERVAL '30' MINUTE)
          |ORDER BY wstart""".stripMargin)
    },
    Some("""SELECT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS wstart,
           |       count(*) AS cnt,
           |       round(sum(round(100 * v)) / 100.0, 2) AS total
           |FROM (
           |  SELECT a.ts AS ts,
           |         (SELECT arg_max(b.value, printf('%020d-%012d', epoch_us(b.ts), b.event_id)) FROM events b
           |          WHERE b.user_id = a.user_id AND b.event_type = 'signup'
           |            AND b.ts <= a.ts) AS v
           |  FROM events a WHERE a.event_type = 'purchase')
           |WHERE v IS NOT NULL
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q_sql_match_window: MATCH_RECOGNIZE nested under a TUMBLE aggregate —
    * matched view→purchase funnels counted per hour of the funnel's START
    * time. The NFA relation becomes an ordinary input to the windowed
    * aggregate via subquery extraction; for the contiguous two-symbol
    * pattern SKIP PAST LAST ROW equals the positional oracle (a match at i
    * forces event_type(i+1)=purchase, so no overlapping start exists). */
  val qSqlMatchWindow: Q = Q(
    "q_sql_match_window",
    (s, dir) => {
      Tables.t(s, dir, "events")
        .select("user_id", "event_id", "event_type", "ts")
        .createOrReplaceTempView("graft_mrw_events")
      run(s,
        """SELECT unix_timestamp(TUMBLE_START(a_ts, INTERVAL '60' MINUTE)) AS wstart,
          |       count(*) AS n_funnels
          |FROM (
          |  SELECT * FROM graft_mrw_events MATCH_RECOGNIZE (
          |    PARTITION BY user_id ORDER BY event_id
          |    MEASURES A.ts AS a_ts
          |    ONE ROW PER MATCH
          |    AFTER MATCH SKIP PAST LAST ROW
          |    PATTERN (A B)
          |    DEFINE A AS event_type = 'view', B AS event_type = 'purchase'
          |  )
          |) m
          |GROUP BY TUMBLE(a_ts, INTERVAL '60' MINUTE)
          |ORDER BY wstart""".stripMargin)
    },
    Some("""SELECT CAST(floor(epoch(a_ts) / 3600) * 3600 AS BIGINT) AS wstart,
           |       count(*) AS n_funnels
           |FROM (
           |  SELECT ts AS a_ts, event_type AS t0,
           |         lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS t1
           |  FROM events)
           |WHERE t0 = 'view' AND t1 = 'purchase'
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q_sql_session_match: the reference's SESSIONIZED-FUNNEL shape —
    * StreamExecMatch chained into StreamExecGroupWindowAggregate with a
    * SESSION window (the 1.11 planner chains exactly these two ExecNodes
    * for `GROUP BY SESSION(...)` over a MATCH_RECOGNIZE relation) — from
    * SQL TEXT ALONE: the NFA's one-row-per-match funnel starts are
    * re-grouped into 30-minute gap sessions per user. Composes the door's
    * MATCH subquery extraction with the SESSION group-window lowering
    * (session_window). Same SKIP PAST LAST ROW = positional-oracle argument
    * as q_sql_match_window (a two-symbol contiguous pattern admits no
    * overlapping starts). */
  val qSqlSessionMatch: Q = Q(
    "q_sql_session_match",
    (s, dir) => {
      Tables.t(s, dir, "events")
        .select("user_id", "event_id", "event_type", "ts")
        .createOrReplaceTempView("graft_smw_events")
      run(s,
        """SELECT user_id,
          |       unix_timestamp(SESSION_START(a_ts, INTERVAL '30' MINUTE)) AS sess_start,
          |       count(*) AS n_funnels
          |FROM (
          |  SELECT * FROM graft_smw_events MATCH_RECOGNIZE (
          |    PARTITION BY user_id ORDER BY event_id
          |    MEASURES A.ts AS a_ts
          |    ONE ROW PER MATCH
          |    AFTER MATCH SKIP PAST LAST ROW
          |    PATTERN (A B)
          |    DEFINE A AS event_type = 'view', B AS event_type = 'purchase'
          |  )
          |) m
          |GROUP BY user_id, SESSION(a_ts, INTERVAL '30' MINUTE)
          |ORDER BY user_id, sess_start""".stripMargin)
    },
    Some("""WITH m AS (
           |  SELECT user_id, a_ts FROM (
           |    SELECT user_id, ts AS a_ts, event_type AS t0,
           |           lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS t1
           |    FROM events)
           |  WHERE t0 = 'view' AND t1 = 'purchase'),
           |g AS (
           |  SELECT user_id, a_ts,
           |         CASE WHEN lag(a_ts) OVER w IS NULL
           |              OR a_ts - lag(a_ts) OVER w >= INTERVAL 30 MINUTE
           |              THEN 1 ELSE 0 END AS brk
           |  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY a_ts)),
           |sess AS (
           |  SELECT user_id, a_ts,
           |         sum(brk) OVER (PARTITION BY user_id ORDER BY a_ts
           |                        ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM g)
           |SELECT user_id, CAST(floor(epoch(min(a_ts))) AS BIGINT) AS sess_start,
           |       count(*) AS n_funnels
           |FROM sess GROUP BY user_id, sid
           |ORDER BY user_id, sess_start""".stripMargin))

  /** q_sql_view: CREATE VIEW through the one door (reference
    * SqlCommandParser.java:118 CREATE_VIEW) — the view BODY is idiom text
    * (a TUMBLE group-window aggregate) that Spark's own CREATE TEMPORARY
    * VIEW cannot parse; the dispatcher lowers it, registers the result, and
    * the script's next statement aggregates over the registered view. */
  val qSqlView: Q = Q(
    "q_sql_view",
    (s, dir) => script(s, dir,
      """CREATE VIEW graft_v_hourly AS
        |SELECT user_id,
        |       unix_timestamp(TUMBLE_START(ts, INTERVAL '60' MINUTE)) AS wstart,
        |       count(*) AS cnt
        |FROM events GROUP BY user_id, TUMBLE(ts, INTERVAL '60' MINUTE);
        |SELECT wstart, count(*) AS n_users, CAST(sum(cnt) AS BIGINT) AS n_events
        |FROM graft_v_hourly GROUP BY wstart ORDER BY wstart""".stripMargin),
    Some("""SELECT wstart, count(*) AS n_users, CAST(sum(cnt) AS BIGINT) AS n_events
           |FROM (
           |  SELECT user_id, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS wstart,
           |         count(*) AS cnt
           |  FROM events GROUP BY 1, 2)
           |GROUP BY wstart ORDER BY wstart""".stripMargin))

  /** q_sql_function: CREATE FUNCTION through the one door (reference
    * SqlCommandParser.java:149-151) — `shout` registers as an alias of the
    * session function `upper` and the script's next statement calls it. */
  val qSqlFunction: Q = Q(
    "q_sql_function",
    (s, dir) => script(s, dir,
      """CREATE TEMPORARY FUNCTION shout AS 'upper';
        |SELECT p_partkey, shout(p_name) AS pname FROM part ORDER BY p_partkey"""
        .stripMargin),
    Some("SELECT p_partkey, upper(p_name) AS pname FROM part ORDER BY p_partkey"))

  /** q_ddl_computed: the reference's computed-column DDL (SqlCreateTable
    * .java:56) end-to-end — the ROWTIME is itself a computed column (`rt AS
    * ts + INTERVAL '30' MINUTE`), the WATERMARK rides on it, and the door's
    * TUMBLE text aggregates a second computed column (`v2 AS value * 2`).
    * Round-6 verdict missing #2: previously these column definitions were
    * silently dropped. Runs as a real streaming query (complete mode over
    * the bounded replay), like its group-window siblings. */
  val qDdlComputed: Q = Q(
    "q_ddl_computed",
    (s, dir) => graft.streaming.StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      run(s,
        s"""CREATE TABLE graft_ev_computed (
           |  v2 AS value * 2,
           |  rt AS ts + INTERVAL '30' MINUTE,
           |  WATERMARK FOR rt AS rt - INTERVAL '5' SECONDS
           |) WITH ('path' = '$dir', 'table' = 'events')""".stripMargin)
      val agg = run(s,
        """SELECT unix_timestamp(TUMBLE_START(rt, INTERVAL '10' MINUTE)) AS wstart,
          |       count(*) AS cnt, round(sum(v2), 2) AS total
          |FROM graft_ev_computed
          |GROUP BY TUMBLE(rt, INTERVAL '10' MINUTE)""".stripMargin)
      graft.streaming.StreamingOps
        .runToMemory(s, agg, "complete", "graft_ddl_computed")
        .orderBy($"wstart")
    },
    Some("""SELECT CAST(floor((epoch(ts) + 1800) / 600) * 600 AS BIGINT) AS wstart,
           |       count(*) AS cnt, round(sum(value * 2), 2) AS total
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q_ddl_like: `CREATE TABLE … LIKE` (FLIP-110, 1.11's options-merging
    * clause) proven MATERIALLY — the derived sink overrides only the path,
    * inherits columns and format, and the INSERT's read-back comes from the
    * OVERRIDDEN path, so a wrong merge cannot pass. Round-6 verdict missing
    * #2 second half. */
  val qDdlLike: Q = Q(
    "q_ddl_like",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val pathA = Tables.scratch("like-sink/graft_like_base")
      val pathB = Tables.scratch("like-sink/graft_like_derived")
      run(s,
        s"""CREATE TABLE graft_like_base (wstart BIGINT, cnt BIGINT)
           |WITH ('path' = '$pathA', 'format' = 'parquet')""".stripMargin)
      run(s,
        s"""CREATE TABLE graft_like_derived WITH ('path' = '$pathB')
           |LIKE graft_like_base (OVERWRITING OPTIONS)""".stripMargin)
      run(s,
        """INSERT INTO graft_like_derived
          |SELECT unix_timestamp(TUMBLE_START(ts, INTERVAL '15' MINUTE)) AS wstart,
          |       count(*) AS cnt
          |FROM events
          |GROUP BY TUMBLE(ts, INTERVAL '15' MINUTE)""".stripMargin)
        .orderBy("wstart")
    },
    Some("""SELECT CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS wstart,
           |       count(*) AS cnt
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  /** q_partitioned_insert: the reference's filesystem-connector partition
    * surface through the door — `PARTITIONED BY` sink DDL
    * (SqlCreateTable.java:323) + a STATIC-partition INSERT
    * (RichSqlInsert.java:125): the static value becomes a constant column
    * on every row and the write lays out one directory per partition
    * value, so downstream scans prune on it. Read back from the sink
    * files; the partition column round-trips through the directory
    * layout. */
  val qPartitionedInsert: Q = Q(
    "q_partitioned_insert",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val path = Tables.scratch(
        s"insert-sink/graft_part-${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
      run(s,
        s"""CREATE TABLE graft_part_sink (event_id BIGINT, value DOUBLE, etype STRING)
           |PARTITIONED BY (etype)
           |WITH ('path' = '$path', 'format' = 'parquet')""".stripMargin)
      run(s,
        """INSERT INTO graft_part_sink PARTITION (etype = 'purchase')
          |SELECT event_id, value FROM events
          |WHERE event_type = 'purchase'""".stripMargin)
        .orderBy("event_id")
    },
    Some("""SELECT event_id, value, 'purchase' AS etype FROM events
           |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin))

  /** q_file_sink_door: the FLIP-115 streaming filesystem sink from SQL
    * TEXT ALONE — a watermarked streaming source table, a PARTITIONED BY
    * sink declared with the reference's `sink.partition-commit.*` options,
    * and a streaming INSERT INTO; the door routes the drain through the
    * partition committer and the returned read-back honors `_SUCCESS`
    * markers only, so the still-open partition holding the maximum
    * timestamp is correctly ABSENT (the oracle replays that visibility
    * rule). */
  val qFileSinkDoor: Q = Q(
    "q_file_sink_door",
    (s, dir) => {
      import org.apache.spark.sql.functions.col
      val sinkPath = Tables.scratch(
        s"fs-door/graft_fs_door-${java.util.UUID.randomUUID()}")
      run(s,
        s"""CREATE TABLE graft_fs_src (
           |  WATERMARK FOR ts AS ts - INTERVAL '5' SECONDS
           |) WITH ('path' = '$dir', 'table' = 'events')""".stripMargin)
      run(s,
        s"""CREATE TABLE graft_fs_door_sink (
           |  event_id BIGINT, value DOUBLE, ts TIMESTAMP, dy BIGINT)
           |PARTITIONED BY (dy)
           |WITH ('path' = '$sinkPath', 'format' = 'parquet',
           |      'sink.partition-commit.trigger' = 'partition-time',
           |      'sink.partition-commit.delay' = '0 s',
           |      'sink.partition-commit.policy.kind' = 'success-file',
           |      'sink.partition-commit.watermark-column' = 'ts',
           |      'partition.duration' = '1 d')""".stripMargin)
      run(s,
        """INSERT INTO graft_fs_door_sink
          |SELECT event_id, value, ts,
          |       CAST(floor(unix_seconds(ts) / 86400) * 86400 AS BIGINT) AS dy
          |FROM graft_fs_src""".stripMargin)
        .select(col("event_id"), col("value"), col("dy"))
        .orderBy("event_id")
    },
    // the source DDL declares WATERMARK … - INTERVAL '5' SECONDS, and the
    // door plumbs that bound into the committer, so the visibility rule is
    // wm = max(ts) − 5 (not max(ts) raw — the r12 review's finding 4)
    Some("""WITH w AS (SELECT max(epoch(ts)) - 5 AS wm FROM events)
           |SELECT event_id, value,
           |       CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS dy
           |FROM events, w
           |WHERE floor(epoch(ts) / 86400) * 86400 + 86400 <= wm
           |ORDER BY event_id""".stripMargin))

  val all: Seq[Q] = Seq(qSqlMixed, qSqlMatchStmt, qSqlDedupEntry, qInsertInto,
    qSqlWindowTopn, qSqlTemporalWindow, qSqlMatchWindow, qSqlSessionMatch,
    qSqlView, qSqlFunction, qDdlComputed, qDdlLike, qPartitionedInsert,
    qFileSinkDoor, qCatalogDoor)
}
