package graft

import graft.streaming.StreamingOps

/** `StreamingOps.streamTable` serves the fixture schema from a JVM-wide
  * cache; every session that scans with it must still get the read conf. */
class StreamTableSpec extends GraftSpec {

  test("a second session reading events from the cached schema gets the nanosAsLong conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    StreamingOps.streamTable(spark, sfDir, "events") // fills the schema cache
    val second = spark.newSession()
    assert(second.conf.getOption(key).forall(_ != "true"), s"$key already on a new session")
    val events = StreamingOps.streamTable(second, sfDir, "events")
    assert(second.conf.get(key) == "true")
    val counted = StreamingOps.runToMemory(second, events.groupBy().count(), "complete",
      "graft_stream_table_second_session")
    assert(counted.head().getLong(0) == Tables.t(spark, sfDir, "events").count())
  }
}
