package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k aggregator: keeps the k best (score desc, id asc) pairs in
  * the aggregation buffer, merge-safe — so Spark's partial aggregation ships
  * at most k rows per group per map task to the final stage, instead of the
  * full candidate set through a window sort.
  *
  * Scale rationale: for top-k-per-group over an N-row candidate relation, the
  * window formulation (`row_number().over(partitionBy(g).orderBy(...)) <= k`)
  * shuffles all N rows; this aggregator shuffles ~k x #groups x #map-tasks.
  * At the 100 TB ANN use case that's the difference between shuffling the
  * full pairwise similarity relation and shuffling just the leaderboards.
  * (Reference analogue: AppendOnlyTopNFunction keeps the same bounded state
  * per key.)
  */
class TopKAggregator(k: Int)
    extends Aggregator[(Double, Long), List[(Double, Long)], List[(Double, Long)]] {

  private def better(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  private def insert(buf: List[(Double, Long)], x: (Double, Long)): List[(Double, Long)] = {
    // buf is sorted best-first and at most k long
    if (buf.length >= k && better(buf.last, x)) buf
    else {
      val (pre, post) = buf.span(better(_, x))
      (pre ::: x :: post).take(k)
    }
  }

  override def zero: List[(Double, Long)] = Nil
  override def reduce(buf: List[(Double, Long)], a: (Double, Long)): List[(Double, Long)] =
    insert(buf, a)
  override def merge(b1: List[(Double, Long)], b2: List[(Double, Long)]): List[(Double, Long)] =
    b2.foldLeft(b1)(insert)
  override def finish(r: List[(Double, Long)]): List[(Double, Long)] = r
  override def bufferEncoder: Encoder[List[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Double, Long)]]()
  override def outputEncoder: Encoder[List[(Double, Long)]] = bufferEncoder
}
