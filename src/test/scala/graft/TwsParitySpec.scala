package graft

/** Spark-side parity for the r13 transformWithState migrations before the
  * driver's DuckDB gate runs: the TwS as-of join and running OVER must
  * agree with their oracle-green fMGWS twins on the events fixture, and
  * the TwS queryable-state loop must agree with the plain batch aggregate.
  * (q_tws_topn and q_tws_dedup_last run the same operator as their fMGWS
  * twins, so they have no parity case.) */
class TwsParitySpec extends GraftSpec {

  test("q_tws_asof matches the fMGWS q_stream_asof on the fixture") {
    val tws = SparkEntry.queries("q_tws_asof")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val fmgws = SparkEntry.queries("q_stream_asof")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(tws.nonEmpty && tws == fmgws)
  }

  test("q_tws_stream_over matches the fMGWS q_stream_over on the fixture") {
    val tws = SparkEntry.queries("q_tws_stream_over")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val fmgws = SparkEntry.queries("q_stream_over")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(tws.nonEmpty && tws == fmgws)
  }

  test("q_queryable_state_tws state read-back matches the batch aggregate") {
    val got = SparkEntry.queries("q_queryable_state_tws")(spark, sfDir)
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    val want = {
      Tables.registerAll(spark, sfDir)
      spark.sql(
        """SELECT event_type, count(*) AS cnt, max(value) AS vmax
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
        .collect().map(_.toSeq).toSeq
    }
    assert(got.nonEmpty && got == want)
  }
}
