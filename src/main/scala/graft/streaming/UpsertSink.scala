package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}

/** Changelog (upsert) sink pattern — the Spark mapping of the reference's
  * retraction streams + exactly-once sinks (RowKind +I/+U rows from
  * update-mode aggregates; TwoPhaseCommitSinkFunction.java:77).
  *
  * An update-mode aggregate emits the CURRENT value per key each batch
  * (Spark's condensed +U changelog — no explicit -U/+D rows). A sink that
  * merges batches BY KEY therefore reconstructs the correct table, and
  * because each batch's output is a pure function of (key -> latest value),
  * re-delivery of a batch is idempotent — the exactly-once recipe
  * `checkpointLocation + idempotent keyed write` from SURVEY §2.7.
  *
  * `foreachBatchUpsert` applies that merge into any keyed store. The store
  * here is pluggable (a KV interface); production backends (JDBC upsert,
  * key-partitioned parquet overwrite) implement the same two methods.
  */
object UpsertSink {

  trait KeyedStore extends Serializable {
    def put(key: Seq[Any], row: Seq[Any]): Unit
    def snapshot(): Map[Seq[Any], Seq[Any]]
    /** Remove a key — the DELETE half of a retraction stream (reference
      * DynamicTableSink changelog mode [I,UA,D]: an upsert sink consumes
      * +I/+U as puts and -D as deletes). Default no-op keeps plain
      * upsert-only stores source-compatible. */
    def delete(key: Seq[Any]): Unit = ()
  }

  /** In-memory reference store. The handle carries only an id; the backing
    * map is a JVM-static registry, so `put` from a foreachPartition task
    * lands in the same table the driver snapshots — the honest local-mode
    * analogue of executors writing straight to an external KV store. */
  final class InMemoryStore(
      id: String = java.util.UUID.randomUUID().toString) extends KeyedStore {
    override def put(key: Seq[Any], row: Seq[Any]): Unit =
      InMemoryStore.table(id).put(key, row)
    override def delete(key: Seq[Any]): Unit =
      InMemoryStore.table(id).remove(key)
    override def snapshot(): Map[Seq[Any], Seq[Any]] = {
      import scala.jdk.CollectionConverters._
      InMemoryStore.table(id).asScala.toMap
    }
    /** Drop this store's registry entry (the static map otherwise pins it
      * for the JVM lifetime). Call when the test/query is done. */
    def close(): Unit = InMemoryStore.stores.remove(id)
  }

  object InMemoryStore {
    private val stores = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.ConcurrentHashMap[Seq[Any], Seq[Any]]]()
    private def table(id: String) =
      stores.computeIfAbsent(id, _ =>
        new java.util.concurrent.ConcurrentHashMap[Seq[Any], Seq[Any]]())
  }

  /** Attach an upsert-merging foreachBatch to an update-mode streaming DF.
    * Rows are written from the EXECUTORS via foreachPartition — the driver
    * never sees data, so the sink scales with per-partition churn, not
    * batch size. The store must accept concurrent puts (external KV stores
    * do; InMemoryStore uses a concurrent map). */
  def foreachBatchUpsert(df: DataFrame, keyCols: Seq[String], store: KeyedStore)
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    val cols = df.columns.toSeq
    val keyIdx = keyCols.map(cols.indexOf)
    require(keyIdx.forall(_ >= 0),
      s"upsert key column(s) ${keyCols.filter(!cols.contains(_)).mkString(", ")} " +
        s"not in input schema ${cols.mkString("(", ", ", ")")}")
    // InMemoryStore's static registry is per-JVM: on a real cluster the
    // executors' writes would be invisible to the driver's snapshot().
    // Enforce the local-mode-only contract instead of just documenting it.
    store match {
      case _: InMemoryStore =>
        require(df.sparkSession.sparkContext.master.startsWith("local"),
          "InMemoryStore is local-mode only: executor JVMs on a cluster " +
          "would write to registries the driver cannot snapshot")
      case _ => ()
    }
    df.writeStream.outputMode("update").foreachBatch { (batch: DataFrame, _: Long) =>
      batch.foreachPartition { it: Iterator[Row] =>
        it.foreach { r =>
          val row = r.toSeq
          store.put(keyIdx.map(row), row)
        }
      }
    }
  }

  /** Retract-aware upsert for a FULL changelog input: rows carry a kind
    * column (+I/-U/+U/-D). +I/+U put, -D deletes the key, -U is skipped
    * (its paired +U in the same emission supersedes it; a retraction with
    * no successor arrives as -D). Per-key changes must be causally ordered
    * within a partition — the same contract the reference's network stack
    * guarantees per key between operators (keyed FIFO channels), and which
    * keyed emission from ChangelogAgg/ChangelogJoin preserves.
    * `outputMode` must match the upstream operator's declared mode
    * (flatMapGroupsWithState queries declare Append). */
  def foreachBatchChangelog(df: DataFrame, kindCol: String,
      keyCols: Seq[String], store: KeyedStore, outputMode: String = "append")
      : org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    val cols = df.columns.toSeq
    val keyIdx = keyCols.map(cols.indexOf)
    val kindIdx = cols.indexOf(kindCol)
    // fail at construction with the column named, not as a per-row
    // IndexOutOfBoundsException on an executor mid-stream
    require(kindIdx >= 0,
      s"changelog kind column '$kindCol' not in input schema " +
        cols.mkString("(", ", ", ")"))
    require(keyIdx.forall(_ >= 0),
      s"upsert key column(s) ${keyCols.filter(!cols.contains(_)).mkString(", ")} " +
        s"not in input schema ${cols.mkString("(", ", ", ")")}")
    store match {
      case _: InMemoryStore =>
        require(df.sparkSession.sparkContext.master.startsWith("local"),
          "InMemoryStore is local-mode only: executor JVMs on a cluster " +
          "would write to registries the driver cannot snapshot")
      case _ => ()
    }
    df.writeStream.outputMode(outputMode).foreachBatch { (batch: DataFrame, _: Long) =>
      batch.foreachPartition { it: Iterator[Row] =>
        it.foreach { r =>
          val row = r.toSeq
          row(kindIdx) match {
            case "+I" | "+U" => store.put(keyIdx.map(row), row)
            case "-D" => store.delete(keyIdx.map(row))
            case "-U" => () // superseded by its paired +U
            case other => throw new IllegalArgumentException(
              s"changelog kind column '$kindCol' carries non-changelog " +
                s"value '$other' (expected +I/-U/+U/-D) — a data column " +
                "named 'kind' must not be routed into an upsert sink")
          }
        }
      }
    }
  }
}
