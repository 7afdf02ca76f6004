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
    val isolation = "spark.sql.artifact.isolation.enabled"
    val keys = Seq(graft.streaming.LocalCheckpointFileManager.ClassKey, isolation)
    // what the caller set: getOption would also report a key's default
    def callerSet = keys.map(spark.conf.getAll.get)
    val callerIsolation = spark.conf.getAll.get(isolation)
    // startQuery turns artifact isolation off for the query's clone: the
    // caller's setting comes back whether it was unset or set
    try for (setting <- Seq(None, Some("true"))) {
      setting.fold(spark.conf.unset(isolation))(spark.conf.set(isolation, _))
      val before = callerSet
      for (q <- Seq("q_stream_tumble", "q_cdc_upsert_door")) {
        assert(SparkEntry.queries(q)(spark, sfDir).count() > 0)
        assert(callerSet == before,
          s"$q leaked a conf with isolation ${setting.getOrElse("unset")}: " +
            s"${keys.zip(callerSet)} (was $before)")
      }
    } finally callerIsolation.fold(spark.conf.unset(isolation))(spark.conf.set(isolation, _))
  }
}
