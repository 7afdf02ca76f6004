package graft

/** Session-conf hygiene: a query must leave the shared session's conf
  * exactly as it found it — a raised safety valve or resized shuffle that
  * leaks past one query silently changes every later query in the same
  * session (suite-wide in Verify/Bench runs). */
class ConfHygieneSpec extends GraftSpec {

  test("q_recursive_cte restores the recursion row-limit valve, back-to-back") {
    val key = "spark.sql.cteRecursionRowLimit"
    val before = spark.conf.getOption(key)
    val df = SparkEntry.queries("q_recursive_cte")(spark, sfDir)
    assert(df.count() > 0)
    assert(spark.conf.getOption(key) == before,
      s"recursion valve leaked: ${spark.conf.getOption(key)} (was $before)")
    // a second query in the same session runs under the restored valve
    assert(SparkEntry.queries("q_agg_q1")(spark, sfDir).count() > 0)
    assert(spark.conf.getOption(key) == before)
  }

  test("stateful queries restore spark.sql.shuffle.partitions") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(SparkEntry.queries("q_dedup_sql_first")(spark, sfDir).count() > 0)
    assert(spark.conf.get(key) == before,
      s"shuffle partitions leaked: ${spark.conf.get(key)} (was $before)")
  }

  test("streaming queries restore spark.sql.streaming.checkpointFileManagerClass") {
    val key = graft.streaming.LocalCheckpointFileManager.ClassKey
    val before = spark.conf.getOption(key)
    for (q <- Seq("q_stream_tumble", "q_cdc_upsert_door")) {
      assert(SparkEntry.queries(q)(spark, sfDir).count() > 0)
      assert(spark.conf.getOption(key) == before,
        s"$q leaked the checkpoint file manager: ${spark.conf.getOption(key)} (was $before)")
    }
  }
}
