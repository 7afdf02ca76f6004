package graft

/** Spark-side parity for the r13 transformWithState migrations, ahead of
  * the DuckDB oracle check in Verify: the TwS running OVER must agree with its
  * oracle-green fMGWS twin on the events fixture, and the TwS
  * queryable-state loop must agree with the plain batch aggregate. (The
  * other q_tws_* names run the same function as their fMGWS twins, so they
  * have no parity case.) */
class TwsParitySpec extends GraftSpec {

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
