package graft.dsl

import org.apache.spark.sql.{Column, Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** DataStream-style fluent API (reference §2.2: flink-streaming-java/.../
  * datastream/DataStream.java — map:570, flatMap:607, filter:718, union:205,
  * keyBy:275; KeyedStream.java — reduce:634, process:354) as a thin zero-cost
  * wrapper over Dataset/KeyValueGroupedDataset. Works identically on bounded
  * and streaming Datasets — the same unification the reference's
  * Table/DataStream split aims at, supplied here by Spark itself.
  */
final class GraftStream[T](val ds: Dataset[T]) extends AnyVal {
  def map[U: Encoder](f: T => U): GraftStream[U] = new GraftStream(ds.map(f))
  def flatMap[U: Encoder](f: T => IterableOnce[U]): GraftStream[U] =
    new GraftStream(ds.flatMap(f))
  def filter(f: T => Boolean): GraftStream[T] = new GraftStream(ds.filter(f))
  def union(other: GraftStream[T]): GraftStream[T] = new GraftStream(ds.union(other.ds))
  def keyBy[K: Encoder](f: T => K): GraftKeyedStream[K, T] =
    new GraftKeyedStream(ds.groupByKey(f))
  /** side-output split (reference OutputTag): predicate partitions the stream. */
  def split(pred: T => Boolean): (GraftStream[T], GraftStream[T]) =
    (filter(pred), filter(t => !pred(t)))

  /** True single-pass side output (reference ProcessFunction.Context#output
    * + OutputTag.java): ONE flatMap pass classifies every record as main
    * (Left) or side (Right); the tagged intermediate is persisted on bounded
    * inputs so the two downstream views share that single pass — the
    * one-operator-two-outputs shape Flink gets from its dataflow graph. On
    * unbounded inputs persist is illegal; consume both views inside one
    * foreachBatch (persist the batch there) for the same guarantee. */
  def processWithSideOutput[M: Encoder, S: Encoder](f: T => Either[M, S])(
      implicit et: Encoder[(Option[M], Option[S])])
      : (GraftStream[M], GraftStream[S]) = {
    val tagged = ds.map(t => f(t) match {
      case Left(m)  => (Option(m), Option.empty[S])
      case Right(s) => (Option.empty[M], Option(s))
    })
    val shared = if (ds.isStreaming) tagged else tagged.persist()
    (new GraftStream(shared.flatMap(_._1)), new GraftStream(shared.flatMap(_._2)))
  }

  /** Custom partitioning (reference DataStream#partitionCustom:412): places
    * every record on the partition `partitionOf` names — the escape hatch
    * Spark's hash/range repartition doesn't offer. Drops to the RDD layer
    * (the only place Spark exposes physical placement); bounded inputs only. */
  def partitionCustom(numPartitions: Int, partitionOf: T => Int)(
      implicit e: Encoder[T], ct: scala.reflect.ClassTag[T]): GraftStream[T] = {
    require(!ds.isStreaming, "partitionCustom is a bounded-input operation")
    val n = numPartitions
    val rdd = ds.rdd
      .map(t => (partitionOf(t), t))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = n
        override def getPartition(key: Any): Int = {
          val p = key.asInstanceOf[Int] % n
          if (p < 0) p + n else p
        }
      })
      .values
    new GraftStream(ds.sparkSession.createDataset(rdd))
  }

  /** Round-robin rebalance (reference DataStream#rebalance:368). */
  def rebalance(numPartitions: Int): GraftStream[T] =
    new GraftStream(ds.repartition(numPartitions))

  /** connect (reference DataStream#connect:236 → ConnectedStreams): pair
    * this stream with another ahead of a keyed CoProcessFunction. */
  def connect[B](other: GraftStream[B]): GraftConnectedStreams[T, B] =
    new GraftConnectedStreams(ds, other.ds)

  /** iterate + closeWith (reference DataStream#iterate:520): run `body` with
    * a feedback edge — output rows satisfying `feedbackCond` re-enter the
    * body until the edge drains. Bounded inputs; the loop is closed through
    * a file-backed feedback source, one round per micro-batch
    * (`streaming/IterateStream`). */
  def iterate(body: Dataset[T] => Dataset[T], feedbackCond: Column,
      name: String = "dsl", maxRounds: Int = 1000)(
      implicit e: Encoder[T]): GraftStream[T] =
    new GraftStream(graft.streaming.IterateStream.iterate(
      ds.sparkSession, ds.toDF(), df => body(df.as[T]).toDF(),
      feedbackCond, name, maxRounds).as[T])
}

/** ConnectedStreams (reference ConnectedStreams.java / CoProcessFunction
  * .java): two typed inputs sharing keyed state. The union is tagged, keyed,
  * and processed by one flatMapGroupsWithState — processElement1/2 see the
  * shared per-key state exactly as the reference's co-operator does. */
final class GraftConnectedStreams[A, B](left: Dataset[A], right: Dataset[B]) {

  /** Key both inputs and co-process them. `orderOf` gives the deterministic
    * processing order across the two inputs within a batch (the reference
    * leaves cross-input order to arrival; a micro-batch must pick one).
    * Callbacks are pure: (key, element, state) → (newState, emitted). */
  def keyedCoProcess[K, S, U](
      keyL: A => K, keyR: B => K,
      orderL: A => Long, orderR: B => Long,
      mode: OutputMode = OutputMode.Append)(
      onLeft: (K, A, Option[S]) => (Option[S], Seq[U]),
      onRight: (K, B, Option[S]) => (Option[S], Seq[U]))(
      implicit ek: Encoder[K], es: Encoder[S], eu: Encoder[U],
      etag: Encoder[(Option[A], Option[B])],
      ektag: Encoder[(K, Long, Option[A], Option[B])]): Dataset[U] = {
    val tagged =
      left.map(a => (keyL(a), orderL(a), Option(a), Option.empty[B]))(ektag)
        .union(right.map(b => (keyR(b), orderR(b), Option.empty[A], Option(b)))(ektag))
    tagged.groupByKey(_._1)
      .flatMapGroupsWithState(mode, GroupStateTimeout.NoTimeout) {
        (key: K, it: Iterator[(K, Long, Option[A], Option[B])],
         state: GroupState[S]) =>
          var st = state.getOption
          val out = Seq.newBuilder[U]
          it.toSeq.sortBy(_._2).foreach {
            case (_, _, Some(a), _) =>
              val (s2, o) = onLeft(key, a, st); st = s2; out ++= o
            case (_, _, _, Some(b)) =>
              val (s2, o) = onRight(key, b, st); st = s2; out ++= o
            case _ => ()
          }
          st match {
            case Some(s) => state.update(s)
            case None => if (state.exists) state.remove()
          }
          out.result().iterator
      }
  }
}

final class GraftKeyedStream[K, T](val kv: KeyValueGroupedDataset[K, T]) {
  /** KeyedStream#reduce — rolling reduce per key (batch: full reduce). */
  def reduce(f: (T, T) => T)(implicit e: Encoder[(K, T)]): Dataset[(K, T)] =
    kv.reduceGroups(f)
  def mapGroups[U: Encoder](f: (K, Iterator[T]) => U): Dataset[U] = kv.mapGroups(f)
  def flatMapGroups[U: Encoder](f: (K, Iterator[T]) => IterableOnce[U]): Dataset[U] =
    kv.flatMapGroups((k: K, it: Iterator[T]) => f(k, it).iterator)
  /** KeyedProcessFunction-equivalent (reference KeyedProcessFunction.java):
    * stateful per-key processing; on streams, state persists across
    * micro-batches. */
  def process[S: Encoder, U: Encoder](mode: OutputMode)(
      f: (K, Iterator[T], GroupState[S]) => Iterator[U]): Dataset[U] =
    kv.flatMapGroupsWithState(mode, GroupStateTimeout.NoTimeout)(f)
}

object GraftStream {
  def apply[T](ds: Dataset[T]): GraftStream[T] = new GraftStream(ds)
}
