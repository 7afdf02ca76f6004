package graft

import graft.streaming.StatefulOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Cross-batch retraction sequence of the changelog TopN (reference
  * RetractableTopNFunction.java): [[StatefulOps.topNChangelog]], which
  * q_changelog_topn and q_tws_changelog_topn both run, must emit the
  * reference +I/-U/+U/-D algebra on a multi-batch script where later
  * arrivals displace incumbents. */
class TwsChangelogTopNSpec extends GraftSpec {

  private def ev(id: Long, v: Double, t: String = "click") =
    StatefulOps.Ev(id, 1L, t, v, id * 1000L)

  test("changelog top-3 emits the reference retraction sequence across batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    // fill the top-3, displace rank 2 (one -U/+U pair per shifted rank
    // expected), then lose to incumbents (nothing expected)
    val script: Seq[Seq[StatefulOps.Ev]] = Seq(
      Seq(ev(1, 10.0), ev(2, 8.0), ev(3, 6.0)),
      Seq(ev(4, 9.0)),
      Seq(ev(5, 1.0)))

    val mem = MemoryStream[StatefulOps.Ev]
    val q = StatefulOps.topNChangelog(mem.toDS()).toDF().writeStream.format("memory")
      .queryName("cl_topn").outputMode("append").start()
    script.foreach { batch => mem.addData(batch: _*); q.processAllAvailable() }
    q.stop()
    val got = spark.table("cl_topn").as[StatefulOps.TopChange].collect()
      .map(c => (c.event_type, c.row_kind, c.rn, c.event_id, c.value)).toSeq
    // 3 inserts, then the rank-2/3 shift from the batch-2 displacement,
    // then silence
    assert(got == Seq(
      ("click", "+I", 1, 1L, 10.0),
      ("click", "+I", 2, 2L, 8.0),
      ("click", "+I", 3, 3L, 6.0),
      ("click", "-U", 2, 2L, 8.0),
      ("click", "+U", 2, 4L, 9.0),
      ("click", "-U", 3, 3L, 6.0),
      ("click", "+U", 3, 2L, 8.0)), got)
  }
}
