package graft.streaming

import graft.streaming.StatefulOps.{EvT, RangeOut, usOf}

/** One-pass frame computation for the bounded-preceding OVER operators —
  * the incremental accumulator the reference keeps per key (flink-table/
  * flink-table-runtime-blink/src/main/java/org/apache/flink/table/runtime/
  * operators/over/RowTimeRangeBoundedPrecedingFunction.java walks the
  * buffered timestamps once per firing, retracting rows that leave the
  * frame, instead of re-aggregating every frame from scratch).
  *
  * The bounded-preceding OVER operators in [[StatefulOps]] delegate here:
  * a firing that drains a slice of n due rows against a referable relation
  * of m rows costs O(m + n) after one O(m log m) sort — previously each due
  * row re-filtered and re-summed the whole relation, which went quadratic
  * exactly when it matters most: a watermark CATCH-UP (bootstrap replay,
  * recovery after downtime) draining a key's entire history in one firing.
  *
  * Sums are prefix differences over EXACT decimal arithmetic
  * (`BigDecimal(double)` is the value's shortest decimal representation, so
  * additions and the closing subtraction are exact — no floating-point
  * drift between a frame summed fresh and one summed incrementally), then
  * rounded once at emission.
  */
private[graft] object OverFrames {

  private[graft] def canon(evs: Seq[EvT]): List[EvT] =
    evs.sortBy(e => (usOf(e.ts), e.event_id)).toList

  private def round2(s: BigDecimal): Double =
    s.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** prefix(i) = exact sum of ordered(0 until i).value */
  private def prefixSums(ordered: Array[EvT]): Array[BigDecimal] = {
    val p = new Array[BigDecimal](ordered.length + 1)
    p(0) = BigDecimal(0)
    var i = 0
    while (i < ordered.length) { p(i + 1) = p(i) + BigDecimal(ordered(i).value); i += 1 }
    p
  }

  /** RANGE frames (`RANGE BETWEEN rangeUs PRECEDING AND CURRENT ROW`, peers
    * included) for every due row, one ordered sweep. `due` and `referable`
    * must both be (µs, event_id)-sorted (use [[canon]]); rows in `referable`
    * after a due row's timestamp are never counted, so callers may pass the
    * whole buffer, pending rows included. */
  private[graft] def rangeSums(key: Long, due: List[EvT], referable: Seq[EvT],
      rangeUs: Long): List[RangeOut] = {
    val ord = referable.toArray
    val p = prefixSums(ord)
    var lo = 0
    var hi = 0
    due.map { e =>
      val us = usOf(e.ts)
      while (hi < ord.length && usOf(ord(hi).ts) <= us) hi += 1
      while (lo < hi && usOf(ord(lo).ts) < us - rangeUs) lo += 1
      RangeOut(e.event_id, key, round2(p(hi) - p(lo)))
    }
  }

  /** ROWS frames (`ROWS BETWEEN nRows-1 PRECEDING AND CURRENT ROW` in total
    * (µs, event_id) order) for every due row. `due` must be a
    * (µs, event_id)-sorted subsequence of the sorted `ordered` relation
    * (matched positionally by event_id — unique per row). */
  private[graft] def rowsSums(key: Long, due: List[EvT], ordered: Seq[EvT],
      nRows: Int): List[RangeOut] = {
    val ord = ordered.toArray
    val p = prefixSums(ord)
    val out = List.newBuilder[RangeOut]
    var remaining = due
    var i = 0
    while (i < ord.length && remaining.nonEmpty) {
      if (ord(i).event_id == remaining.head.event_id) {
        val start = math.max(0, i + 1 - nRows)
        out += RangeOut(remaining.head.event_id, key, round2(p(i + 1) - p(start)))
        remaining = remaining.tail
      }
      i += 1
    }
    require(remaining.isEmpty,
      s"rowsSums: ${remaining.size} due rows missing from the ordered relation")
    out.result()
  }
}
