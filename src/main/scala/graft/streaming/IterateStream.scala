package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming iteration with a feedback edge (reference DataStream#iterate
  * flink-streaming-java/.../datastream/DataStream.java:520 +
  * IterativeStream#closeWith — the body's output rows selected by the
  * feedback condition re-enter the body's input; the rest leave the loop).
  *
  * Structured Streaming has no feedback edge in the dataflow graph, so the
  * loop is closed through storage: the body runs per micro-batch, feedback
  * rows are appended as new files to the SOURCE directory (the file-stream
  * source picks them up in the next listing), and exit rows are appended to
  * the output directory. One feedback hop therefore costs one micro-batch —
  * the micro-batch analogue of the reference's per-record feedback channel,
  * with the same at-least-one-pass-per-round semantics its synchronous
  * superstep degenerates to.
  *
  * Scale posture: feedback state lives in files, not executor memory, so loop
  * width is unbounded; each round is a full linear pass over the shrinking
  * frontier (rows leave the loop as soon as the condition releases them).
  * At 100 TB the same layout holds — the feedback dir is an object-store
  * prefix and rounds are self-compacting because emitted rows never return.
  */
object IterateStream {

  /** Move every `part-*` file under `from` into `toDir` with a deterministic
    * `prefix` — the feedback-routing primitive, with two durability
    * properties a micro-batch RETRY needs:
    *
    *  - IDEMPOTENT: files a previous attempt of the same round already moved
    *    (same prefix) are swept before re-moving, so a re-executed batch
    *    lands exactly one copy of its rows, never two;
    *  - DEVICE-PORTABLE: same-filesystem renames use ATOMIC_MOVE; a
    *    cross-device scratch layout (or an object-store mount without rename
    *    atomicity) falls back to copy+delete, which the stale-prefix sweep
    *    keeps duplicate-free.
    *
    * Directory streams are closed (try/finally) — Files.list leaks an fd per
    * call otherwise. Returns true iff at least one file moved. */
  private[graft] def moveParts(from: java.nio.file.Path,
      toDir0: java.nio.file.Path, prefix: String): Boolean = {
    import java.nio.file.{Files, StandardCopyOption}
    if (!Files.isDirectory(from)) false
    else {
      val toDir = Files.createDirectories(toDir0)
      val stale = Files.list(toDir)
      try {
        val sit = stale.iterator()
        while (sit.hasNext) {
          val f = sit.next()
          if (f.getFileName.toString.startsWith(prefix)) Files.delete(f)
        }
      } finally stale.close()
      val ls = Files.list(from)
      var moved = false
      try {
        val it = ls.iterator()
        while (it.hasNext) {
          val f = it.next()
          if (f.getFileName.toString.startsWith("part-")) {
            val dest = toDir.resolve(prefix + f.getFileName.toString)
            try Files.move(f, dest, StandardCopyOption.ATOMIC_MOVE)
            catch {
              case _: java.nio.file.AtomicMoveNotSupportedException =>
                Files.copy(f, dest, StandardCopyOption.REPLACE_EXISTING)
                Files.delete(f)
            }
            moved = true
          }
        }
      } finally ls.close()
      moved
    }
  }

  /** Run `body` over seed ∪ feedback until the feedback edge drains.
    *
    * @param body     transformation applied to every micro-batch (the loop body)
    * @param feedback rows of `body`'s output satisfying this re-enter the loop;
    *                 all others are emitted
    * @return the bounded DataFrame of all emitted (non-feedback) rows
    */
  def iterate(
      spark: SparkSession,
      seed: DataFrame,
      body: DataFrame => DataFrame,
      feedback: Column,
      name: String,
      maxRounds: Int = 1000): DataFrame = {
    val base = Tables.scratch(s"iterate/$name-${java.util.UUID.randomUUID()}")
    val srcDir = s"$base/loop"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    seed.write.mode("overwrite").parquet(srcDir)
    var rounds = 0 // foreachBatch runs on the driver; plain var is safe
    val stream = spark.readStream.schema(seed.schema).parquet(srcDir)
    val q = StreamingOps.startQuery(spark, stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // ONE job per round: the step output is written once, partitioned by
        // the feedback flag; routing to the loop vs the output is then pure
        // filesystem renames (same-device moves, no Spark job). partitionBy
        // keeps __fb out of the data files, so moved files match seed.schema.
        // A null feedback condition routes to the exit (coalesce false).
        // mode(overwrite): a micro-batch RETRY re-executes foreachBatch with
        // the same batchId — the fresh write replaces the failed attempt's
        // staged dir instead of erroring on it
        val staged = s"$base/stage/round-$batchId"
        val tw0 = System.nanoTime()
        body(batch)
          .withColumn("__fb", coalesce(feedback, lit(false)))
          .write.mode("overwrite").partitionBy("__fb").parquet(staged)
        val twMs = (System.nanoTime() - tw0) / 1e6
        def moveInto(fromSub: String, to: String): Boolean =
          moveParts(java.nio.file.Paths.get(staged, fromSub),
            java.nio.file.Paths.get(to), f"round-$batchId%06d-")
        if (sys.env.contains("SPARK_GRAFT_ITERATE_DEBUG"))
          System.err.println(f"[iterate:$name] round=$batchId " +
            f"inParts=${batch.rdd.getNumPartitions} writeMs=$twMs%.0f")
        // Empty rounds write no part files, so a drained feedback edge moves
        // nothing into the source dir and the loop terminates — the
        // empty-append tail-chase is structurally impossible here.
        val fedBack = moveInto("__fb=true", srcDir)
        moveInto("__fb=false", outDir)
        if (fedBack) {
          // Non-drain guard (same contract as IterateOps.iterateDelta's
          // NonConvergedException): a feedback edge that never empties
          // would otherwise block processAllAvailable forever.
          rounds += 1
          if (rounds > maxRounds)
            throw new IllegalStateException(
              s"streaming iterate '$name' did not drain: feedback still " +
                s"non-empty after $maxRounds rounds — raise maxRounds or " +
                "fix the loop body so rows eventually leave the feedback edge")
        }
      }, ckpt)
    try {
      // processAllAvailable blocks until the source has nothing new — and
      // feedback files written during batch N ARE new for batch N+1, so this
      // returns exactly when a round produces no feedback (loop converged).
      q.processAllAvailable()
    } finally {
      q.stop()
      // only out/ outlives the query (the returned DataFrame reads it
      // lazily); the seed, every round's feedback files, the staging tree
      // and the checkpoint are dead — and the scratch root is RAM-backed
      // tmpfs when available, so leaking a dataset-sized tree per
      // invocation would exhaust it across bench runs (the repo-wide
      // post-stop cleanup convention)
      Seq(srcDir, ckpt, s"$base/stage").foreach { d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
      }
    }
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(outDir)))
      spark.read.schema(seed.schema).parquet(outDir)
    else // every row fed back until maxRounds=∞ convergence emitted nothing
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], seed.schema)
  }

  /** q_stream_iterate: iterated halving over lineitem quantities — each row
    * loops ⌊log₂ q⌋ rounds through the feedback edge before exiting with its
    * round count. Chosen because the oracle is exactly expressible as a
    * recursive CTE with the same per-round step, so the feedback plumbing
    * (not just the arithmetic) is what the hash check certifies.
    */
  val qStreamIterate: Q = Q(
    "q_stream_iterate",
    (s, dir) => {
      val seed = Tables.t(s, dir, "lineitem")
        .select(
          col("l_orderkey").as("ok"),
          col("l_linenumber").as("ln"),
          floor(col("l_quantity")).cast("long").as("n"),
          lit(0).as("iters"))
      val body = (df: DataFrame) =>
        df.select(
          col("ok"), col("ln"),
          when(col("n") > 1, floor(col("n") / 2).cast("long")).otherwise(col("n")).as("n"),
          when(col("n") > 1, col("iters") + 1).otherwise(col("iters")).as("iters"))
      iterate(s, seed, body, col("n") > 1, "halving")
    },
    Some("""WITH RECURSIVE it AS (
      SELECT l_orderkey AS ok, l_linenumber AS ln,
             CAST(FLOOR(l_quantity) AS BIGINT) AS n, 0 AS iters
      FROM lineitem
      UNION ALL
      SELECT ok, ln, n // 2, iters + 1 FROM it WHERE n > 1
    )
    SELECT ok, ln, n, iters FROM it WHERE n <= 1"""))

  val all: Seq[Q] = Seq(qStreamIterate)
}
