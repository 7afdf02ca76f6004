package graft.streaming

import graft.Q
import graft.operators.SimhashBanding
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Streaming NEAR-duplicate detection — the incremental form of the batch
  * SimHash banded LSH (`DedupOps.qSimhashBanded`): documents arrive on a
  * stream, each is fingerprinted in-flight (56-bit SimHash computed by
  * per-row higher-order functions — no shuffle before the keyed state), and
  * a per-LSH-bucket fingerprint index held in RocksDB ListState flags each
  * near-dup pair the moment its SECOND member arrives. This is the
  * production ingest shape: a growing corpus checked incrementally against
  * everything already admitted, without re-running the batch join.
  *
  * Reference semantics: the reference's streaming deduplication keeps
  * first-row-per-key state (table/runtime/operators/deduplicate/
  * DeduplicateKeepFirstRowFunction.java:35) — exact-key only; its near-dup
  * story is batch. This operator carries the exact-key state pattern to
  * near-dup semantics on the same keyed-state runtime
  * (flink-streaming-java/.../KeyedProcessFunction.java shape).
  *
  * Banding contract (identical to the batch twin, both driven by the same
  * declared [[SimhashBanding.Scheme]]): at the default 56-bit/7-bit-chunk
  * scheme, hd <= 6 damages at most 6 of the 8 chunks, so at least one of
  * the C(8,2)=28 chunk PAIRS is fully intact — a close pair is guaranteed
  * to co-bucket on its intact pair's 14-bit value. 28 x 2^14 ≈ 459k
  * buckets keeps per-bucket population (and the quadratic-in-bucket
  * comparison count) O(N/459k), the width the r15 100x growth rung forced
  * on the batch twin; the per-width saturation arithmetic lives on the
  * Scheme.
  *
  * Emit-once determinism regardless of arrival order: a colliding pair is
  * emitted from exactly ONE bucket — the one whose (i, j) is the pair's
  * lexicographically-first intact chunk pair (same `m & -m` selection as
  * the batch twin, evaluated inside the processor so only true matches
  * reach the sink) — and at exactly one moment: when the later member is
  * processed, the earlier one already being in the bucket's ListState (or
  * earlier in the same micro-batch's in-flight buffer).
  */
object NearDupStream {

  /** One fingerprint-index entry: (doc id, 56-bit SimHash). */
  case class FpEntry(doc: Long, sh: Long)

  /** One exploded LSH posting: chunk pair (i, j), 14-bit bucket value v. */
  case class BandRow(i: Int, j: Int, v: Long, doc: Long, sh: Long)

  /** A confirmed near-dup pair (hd <= 6), doc_a < doc_b. */
  case class NearDupPair(doc_a: Long, doc_b: Long, hd: Int)

  /** Per-bucket incremental matcher: ListState holds every fingerprint ever
    * seen in this bucket; each arrival compares against state + this
    * batch's earlier arrivals, emits confirmed pairs, then appends itself
    * (ONE appendList per key per batch — the probed appendValue cliff).
    * Banding geometry comes from the declared [[SimhashBanding.Scheme]]
    * (serialized into the processor), never re-derived constants. */
  class SimhashBucketProcessor(scheme: SimhashBanding.Scheme, hdMax: Int)
      extends StatefulProcessor[(Int, Int, Long), BandRow, NearDupPair] {
    @transient private var fps: ListState[FpEntry] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      fps = getHandle.getListState[FpEntry]("fps",
        Encoders.product[FpEntry], TTLConfig.NONE)

    /** Emit iff hd <= hdMax AND this bucket's (i, j) is the pair's first
      * intact chunk pair — the emit-once rule shared with the batch twin. */
    private def confirmed(i: Int, j: Int, a: FpEntry, b: FpEntry): Option[NearDupPair] = {
      val x = a.sh ^ b.sh
      val hd = java.lang.Long.bitCount(x)
      if (hd > hdMax) return None
      val m = scheme.intactMask(x)
      val lo = m & -m
      val rest = m - lo
      val lo2 = rest & -rest
      if (lo == (1 << i) && lo2 == (1 << j))
        Some(NearDupPair(math.min(a.doc, b.doc), math.max(a.doc, b.doc), hd))
      else None
    }

    override def handleInputRows(key: (Int, Int, Long), rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[NearDupPair] = {
      val out = Seq.newBuilder[NearDupPair]
      val prior = fps.get()
      val index = scala.collection.mutable.ArrayBuffer.empty[FpEntry]
      while (prior.hasNext) index += prior.next()
      val nPrior = index.length
      rows.foreach { r =>
        val e = FpEntry(r.doc, r.sh)
        var k = 0
        while (k < index.length) {
          if (index(k).doc != e.doc) out ++= confirmed(key._1, key._2, index(k), e)
          k += 1
        }
        index += e
      }
      if (index.length > nPrior)
        fps.appendList(index.drop(nPrior).toArray)
      out.result().iterator
    }
  }

  /** In-flight SimHash at the scheme's producer width: one codegen'd
    * per-row fold over the token array
    * ([[org.apache.spark.sql.graft.SimhashFromTokens]] — md5-derived token
    * hashes identical to the batch `FlinkFunctions.md5Hash56`/`md5Hash64`
    * and the DuckDB oracle encodings), so the stream needs no shuffle
    * before the keyed state. r20 (guide §4): replaces the higher-order
    * zip_with/aggregate fold, which evaluated interpreted lambdas per
    * (token, bit) and allocated a fresh W-array per token step —
    * SimhashExprSpec pins the expression bit-exact against that
    * formulation at both widths. */
  private def withSimhash(docs: DataFrame, scheme: SimhashBanding.Scheme): DataFrame = {
    val full = docs
      .withColumn("toks",
        split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
      .withColumn("simhash",
        org.apache.spark.sql.graft.SimhashFunctions.simhashOfTokens(
          col("toks"), scheme.producerBits))
    // bits < producer width masks to the low-bits signature (hd is then
    // measured on the masked value, same as the batch twin); full-width
    // schemes add no plan node
    if (scheme.bits == scheme.producerBits) full
    else full.withColumn("simhash", expr(s"simhash & ${scheme.sigMask}"))
  }

  /** The whole in-flight pipeline over ANY streaming `documents`-shaped
    * DataFrame (needs `doc_id`, `text`): fingerprint → C(n,2) chunk-pair
    * postings → per-bucket stateful matcher, at a declared
    * [[SimhashBanding.Scheme]]. Returns the append-only pair stream —
    * shared by the oracle query and the kill-restart soak (phase E). */
  def pairs(s: SparkSession, docs: DataFrame,
      scheme: SimhashBanding.Scheme = SimhashBanding.Default,
      hdMax: Int = 6): DataFrame = {
    import s.implicits._
    scheme.requireCovers(hdMax)
    // same TwS discipline as aggTws/joinTws (ADVICE r17): batch callers
    // need the state coordinator warmed; streaming callers fail fast on a
    // non-RocksDB provider instead of dying late inside the first batch
    TwsOps.ensureStateCoordinator(s)
    if (docs.isStreaming) TwsOps.requireRocksDb(s, "NearDupStream.pairs")
    val stream = withSimhash(docs, scheme)
      .select(col("doc_id"), col("simhash"),
        explode(expr(s"array(${scheme.pairEntriesExpr})")).as("ch"))
      .select(col("ch.i").as("i"), col("ch.j").as("j"), col("ch.v").as("v"),
        col("doc_id").as("doc"), col("simhash").as("sh"))
      .as[BandRow]
    implicit val outEnc = Encoders.product[NearDupPair]
    stream
      .groupByKey(r => (r.i, r.j, r.v))
      .transformWithState(new SimhashBucketProcessor(scheme, hdMax),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  val qTwsSimhashDedup: Q = Q(
    "q_tws_simhash_dedup",
    (s, dir) => TwsOps.withRocksDb(s) {
      StreamingOps.withStatePartitions(s, 8) {
      import s.implicits._
      val out = pairs(s, StreamingOps.streamTable(s, dir, "documents"))
      StreamingOps.runToMemory(s, out, "append", "graft_tws_simhash")
        .orderBy($"doc_a", $"doc_b")
    }},
    // Identical answer to the batch twin q_simhash_banded — the oracle is
    // shared verbatim: single-chunk banding + DISTINCT finds the same pair
    // set the chunk-pair route finds without the DISTINCT.
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |         unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
           |  FROM documents),
           |hashed AS (
           |  SELECT doc_id,
           |         CAST(('0x' || substr(md5(tok), 1, 14)) AS BIGINT) AS h
           |  FROM toks),
           |bits AS (
           |  SELECT doc_id, j,
           |         sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS bal
           |  FROM hashed CROSS JOIN (SELECT unnest(range(56)) AS j) r
           |  GROUP BY 1, 2),
           |sh AS (
           |  SELECT doc_id,
           |         CAST(sum(CASE WHEN bal > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
           |  FROM bits GROUP BY 1),
           |chunks AS (
           |  SELECT doc_id, simhash, c, (simhash >> (c * 7)) & 127 AS v
           |  FROM sh CROSS JOIN (SELECT unnest(range(8)) AS c) r)
           |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hd
           |FROM chunks a JOIN chunks b
           |  ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
           |ORDER BY doc_a, doc_b""".stripMargin))

  val all: Seq[Q] = Seq(qTwsSimhashDedup)
}
