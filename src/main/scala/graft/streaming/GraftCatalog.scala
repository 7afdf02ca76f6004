package graft.streaming

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** PERSISTENT catalog for the DDL surface — the durability property of the
  * reference's catalog interface (flink-table/flink-table-common/src/main/
  * java/org/apache/flink/table/catalog/Catalog.java; HiveCatalog persists
  * table metadata across sessions, GenericInMemoryCatalog does not): table
  * definitions registered through this object survive the session and are
  * replayed into any later one.
  *
  * Design: the catalog stores the DDL TEXT, not a materialized schema — one
  * `<name>.ddl` file per object under `catalogDir`, last definition wins
  * (CREATE OR REPLACE semantics, like the reference's
  * `Catalog.createTable(..., ignoreIfExists)` overwrite path). `restore`
  * replays every stored DDL through [[GraftDdl.executeDdl]], re-registering
  * watermarked streaming sources and INSERT sinks in the target session.
  * Text-replay is the honest in-container analogue of a metastore: the
  * parquet fixtures are schema-authoritative (schema-on-read, documented in
  * GraftDdl), so the DDL text IS the complete metadata.
  *
  * Writes are atomic (temp file + ATOMIC_MOVE with copy fallback) so a
  * concurrent reader never sees a torn definition — the same durability
  * discipline as [[IterateStream.moveParts]].
  */
object GraftCatalog {

  private def fileFor(catalogDir: String, name: String): Path =
    Paths.get(catalogDir, s"${name.toLowerCase}.ddl")

  /** Execute `ddl` in `spark` AND durably record it under `catalogDir`.
    * Returns the registered object name. */
  def executeDdl(spark: SparkSession, catalogDir: String, ddl: String): String = {
    val name = GraftDdl.executeDdl(spark, ddl) // validate + register first;
                                               // an unparseable DDL is never persisted
    // persist LIKE statements RESOLVED (self-contained CREATE TABLE) so
    // replay never depends on the base table restoring first — the same
    // reason the reference stores resolved CatalogTable metadata, not the
    // LIKE clause (FLIP-110)
    persist(catalogDir, name, GraftDdl.resolveDdl(spark, ddl))
    name
  }

  // DDL classes for replay ordering: a view body may reference tables and
  // functions, so tables (0) replay before functions (1) before views (2) —
  // the reference resolves the same dependency when HiveCatalog-stored
  // views expand against catalog tables and functions at planning.
  private val TableR = "(?is)\\s*CREATE\\s+TABLE\\s+(\\w+).*".r
  private val FnR =
    ("(?is)\\s*CREATE\\s+(?:TEMPORARY\\s+)?(?:SYSTEM\\s+)?FUNCTION\\s+" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?(\\w+).*").r
  private val ViewR =
    ("(?is)\\s*CREATE\\s+(?:TEMPORARY\\s+)?VIEW\\s+" +
      "(?:IF\\s+NOT\\s+EXISTS\\s+)?(\\w+).*").r

  private def classify(ddl: String): Option[(Int, String)] = ddl match {
    case TableR(n) => Some((0, n))
    case FnR(n) => Some((1, n))
    case ViewR(n) => Some((2, n))
    case _ => None
  }

  /** Execute ANY persistable DDL — CREATE TABLE (watermarked source or
    * sink), CREATE FUNCTION, CREATE VIEW (idiom bodies included, since
    * execution routes through the unified GraftSql dispatcher) — and
    * durably record its text. The reference analogue is HiveCatalog, which
    * persists exactly these three object classes (tables, functions, views
    * — Catalog.java createTable/createFunction + CatalogView). Validation
    * precedes persistence: a DDL that fails to execute is never stored. */
  def executeSql(spark: SparkSession, catalogDir: String, ddl: String): String = {
    val (_, name) = classify(ddl).getOrElse(throw new IllegalArgumentException(
      s"not a persistable DDL (CREATE TABLE/VIEW/FUNCTION): $ddl"))
    graft.operators.GraftSql.runNoRecord(spark, ddl) // validate + register first
    // LIKE resolves to a self-contained CREATE TABLE before persisting
    // (see executeDdl); other DDL classes pass through resolveDdl unchanged
    persist(catalogDir, name, GraftDdl.resolveDdl(spark, ddl))
    name
  }

  /** Persist an ALREADY-EXECUTED persistable DDL — the hook behind the
    * door's `CREATE CATALOG`/`USE CATALOG` routing (GraftSql validates and
    * executes first, then records here). Returns the recorded name; None
    * when the text is not one of the three persistable classes. */
  def record(spark: SparkSession, catalogDir: String, ddl: String): Option[String] =
    classify(ddl).map { case (_, name) =>
      persist(catalogDir, name, GraftDdl.resolveDdl(spark, ddl))
      name
    }

  private def persist(catalogDir: String, name: String, ddl: String): Unit = {
    Files.createDirectories(Paths.get(catalogDir))
    val target = fileFor(catalogDir, name)
    val tmp = Files.createTempFile(Paths.get(catalogDir), s".$name", ".tmp")
    Files.writeString(tmp, ddl)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Replay every stored DDL into `spark`, ordered tables → functions →
    * views (then by name) so cross-references resolve; each replays through
    * the unified GraftSql dispatcher. Fixture-table views referenced by
    * stored view bodies must be registered first (`Tables.registerAll`).
    * Returns the restored object names. A directory that does not exist
    * restores nothing — a fresh deployment, not an error. */
  def restore(spark: SparkSession, catalogDir: String): Seq[String] = {
    val dir = Paths.get(catalogDir)
    if (!Files.isDirectory(dir)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val ls = Files.list(dir)
    val files =
      try ls.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".ddl")).toSeq
      finally ls.close()
    files.map(f => f -> Files.readString(f))
      .map { case (f, ddl) =>
        val (ord, name) = classify(ddl).getOrElse((0, dropExt(f)))
        (ord, f.getFileName.toString, name, ddl)
      }
      .sortBy { case (ord, fn, _, _) => (ord, fn) }
      .map { case (_, _, name, ddl) =>
        graft.operators.GraftSql.runNoRecord(spark, ddl)
        name
      }
  }

  private def dropExt(f: Path): String =
    f.getFileName.toString.stripSuffix(".ddl")

  /** Read an object's stored DDL text, if recorded — the hook behind the
    * door's catalog-preserving RENAME (the reference's
    * `Catalog.renameTable` reads the existing CatalogBaseTable before
    * re-registering it under the new name). */
  def stored(catalogDir: String, name: String): Option[String] = {
    val f = fileFor(catalogDir, name)
    if (Files.isRegularFile(f)) Some(Files.readString(f)) else None
  }

  /** Remove an object's stored definition (the reference's
    * `Catalog.dropTable`). True iff something was dropped. Session temp
    * views are untouched — like the reference, dropping from the catalog
    * does not kill queries already planned against the table. */
  def drop(catalogDir: String, name: String): Boolean =
    Files.deleteIfExists(fileFor(catalogDir, name))
}
