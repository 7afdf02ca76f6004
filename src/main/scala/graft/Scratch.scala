package graft

import org.apache.spark.sql.SparkSession

/** Throwaway profiling harness (not part of the driver contract). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // extra session confs for A/B sweeps, e.g.
    // SPARK_GRAFT_SCRATCH_CONF="spark.sql.codegen.cache.maxEntries=5000;spark.sql.adaptive.enabled=false"
    val extraConf = sys.env.getOrElse("SPARK_GRAFT_SCRATCH_CONF", "")
      .split(";").map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }
    val builder = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.t(spark, sfDir, "documents").count()
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scratch] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s  rows=$n")
    }
    args.headOption.getOrElse("simhash") match {
      case "overhead" =>
        // Decompose the per-query fixed-cost floor of the sub-second batch
        // queries: wall = build (DF construction incl. registerAll) +
        // parse/analysis/optimization/planning (tracker phases) + execution
        // (AQE re-plans + codegen compile + job/task scheduling). Janino
        // compile time comes from the global CodegenMetrics histogram delta;
        // job/task counts from a listener.
        import org.apache.spark.metrics.source.CodegenMetrics
        import org.apache.spark.scheduler._
        val jobCount = new java.util.concurrent.atomic.AtomicInteger
        val taskCount = new java.util.concurrent.atomic.AtomicInteger
        val taskTimeMs = new java.util.concurrent.atomic.AtomicLong
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit = { jobCount.incrementAndGet(); () }
          override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
            taskCount.incrementAndGet()
            if (t.taskInfo != null) taskTimeMs.addAndGet(t.taskInfo.duration)
            ()
          }
        })
        val names = args.drop(1).headOption
          .map(_.split(",").toSeq)
          .getOrElse(Seq("q_tpcds_q67_shape", "q_tpcds_q88_shape", "q_tpcds_q59_shape",
            "q_tpch_q3", "q_agg_q1", "q_topn", "q_window_tumble", "q_grouping_id"))
        println(f"${"query"}%-32s ${"wall"}%7s ${"build"}%7s ${"parse"}%6s ${"ana"}%6s ${"opt"}%6s ${"plan"}%6s ${"exec"}%7s ${"cgenMs"}%7s ${"nCompile"}%8s ${"jobs"}%5s ${"tasks"}%6s ${"taskMs"}%7s")
        for (r <- 1 to 2; name <- names) {
          val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val cgSum0 = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
          val j0 = jobCount.get; val tk0 = taskCount.get; val tt0 = taskTimeMs.get
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, sfDir)
          val t1 = System.nanoTime()
          df.count()
          val t2 = System.nanoTime()
          Thread.sleep(50) // let the listener bus drain task-end events
          val ph = df.queryExecution.tracker.phases
          def phMs(k: String): Long = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(-1L)
          val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
          val cgSum = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum - cgSum0
          println(f"$name#$r%-31s ${(t2 - t0) / 1e9}%7.3f ${(t1 - t0) / 1e9}%7.3f ${phMs("parsing")}%6d ${phMs("analysis")}%6d ${phMs("optimization")}%6d ${phMs("planning")}%6d ${(t2 - t1) / 1e9}%7.3f $cgSum%7d $cgN%8d ${jobCount.get - j0}%5d ${taskCount.get - tk0}%6d ${taskTimeMs.get - tt0}%7d")
        }
      case "ssjab" =>
        // Stream-stream join family A/B (r20 verdict what's-wrong #1): the
        // 6 SSHJ queries timed alone, then with the bucketed twins
        // interleaved, two passes each — is the driver-observed regression
        // interference from the twins or just the family's variance band?
        val family = Seq("q_stream_outer_join", "q_stream_full_outer_join",
          "q_stream_right_outer_join", "q_stream_semi_join",
          "q_stream_anti_join", "q_stream_interval_join")
        val twins = Seq("q_stream_outer_join_bucketed", "q_stream_interval_join_bucketed")
        def runSet(tag: String, names: Seq[String]): Unit =
          names.foreach(n => time(s"$n$tag")(SparkEntry.queries(n)(spark, sfDir).count()))
        runSet("@warm", family.take(1))
        runSet("@alone1", family)
        runSet("@alone2", family)
        val interleaved = family.flatMap {
          case n @ "q_stream_outer_join" => Seq(n, twins.head)
          case n @ "q_stream_interval_join" => Seq(n, twins.last)
          case n => Seq(n)
        }
        runSet("@twins1", interleaved)
        runSet("@twins2", interleaved)
      case "simhash" =>
        time("q_simhash")(SparkEntry.queries("q_simhash")(spark, sfDir).count())
        time("q_simhash_pairs")(SparkEntry.queries("q_simhash_pairs")(spark, sfDir).count())
        time("q_simhash_banded")(SparkEntry.queries("q_simhash_banded")(spark, sfDir).count())
        time("q_simhash_banded#2")(SparkEntry.queries("q_simhash_banded")(spark, sfDir).count())
      case "stages" =>
        import org.apache.spark.sql.functions._
        val docs = Tables.t(spark, sfDir, "documents")
        time("tokens+md5")(docs.select(col("doc_id"),
          explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("tok"))
          .select(graft.functions.FlinkFunctions.md5Hash31(col("tok")).as("h")).count())
        time("simhash raw #1")(operators.DedupOps.simhash(docs).count())
        time("simhash raw #2")(operators.DedupOps.simhash(docs).count())
      case "streamprof" =>
        import org.apache.spark.sql.functions._
        val t0 = System.nanoTime()
        val agg = streaming.StreamingOps.streamTable(spark, sfDir, "events")
          .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val q = streaming.StreamingOps.startQuery(spark,
          agg.writeStream.format("memory").queryName("sprof")
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
          s"/dev/shm/graft-ckpt/sprof-${System.nanoTime()}")
        q.awaitTermination()
        println(f"[scratch] total ${(System.nanoTime() - t0) / 1e9}%.3f s")
        q.recentProgress.foreach { p =>
          println(s"[scratch] batch ${p.batchId} rows=${p.numInputRows} " +
            s"durations=${p.durationMs}")
        }
      case "stream" =>
        def trio(tag: String): Unit = {
          time(s"q_stream_tumble$tag")(SparkEntry.queries("q_stream_tumble")(spark, sfDir).count())
          time(s"q_stream_topn$tag")(SparkEntry.queries("q_stream_topn")(spark, sfDir).count())
          time(s"q_stream_session$tag")(SparkEntry.queries("q_stream_session")(spark, sfDir).count())
        }
        trio("#1")
        trio("#2")
      case "clusters" =>
        time("q_minhash_lsh")(SparkEntry.queries("q_minhash_lsh")(spark, sfDir).count())
        time("q_dedup_clusters")(SparkEntry.queries("q_dedup_clusters")(spark, sfDir).count())
        time("q_dedup_clusters#2")(SparkEntry.queries("q_dedup_clusters")(spark, sfDir).count())
      case "ssjprof" =>
        import org.apache.spark.sql.functions._
        streaming.StreamingOps.withStatePartitions(spark, 8) {
          val t0 = System.nanoTime()
          def side(t: String, a: String) = streaming.StreamingOps.streamTable(spark, sfDir, "events")
            .filter(col("event_type") === t)
            .select(col("event_id").as(s"${a}_id"), col("user_id").as(s"${a}_uid"),
              col("ts").as(s"${a}_ts"))
            .withWatermark(s"${a}_ts", "0 seconds")
          val joined = side("purchase", "p").join(side("click", "c"),
            expr("p_uid = c_uid AND c_ts >= p_ts AND c_ts <= p_ts + INTERVAL 10 MINUTES"),
            "leftOuter")
          val q = streaming.StreamingOps.startQuery(spark,
            joined.select(col("p_id"), col("c_id")).writeStream
              .format("memory").queryName("ssjprof").outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
            streaming.StreamingOps.freshCheckpoint("ssjprof"))
          q.awaitTermination()
          println(f"[scratch] ssj total ${(System.nanoTime() - t0) / 1e9}%.3f s rows=${spark.table("ssjprof").count()}")
          q.recentProgress.foreach { p =>
            println(s"[scratch] batch ${p.batchId} rows=${p.numInputRows} durations=${p.durationMs} state=${p.stateOperators.map(o => s"rows=${o.numRowsTotal} commit=${o.commitTimeMs}ms").mkString}")
          }
        }
      case "stateparts" =>
        def runTumble(tag: String): Unit =
          time(s"tumble$tag")(SparkEntry.queries("q_stream_tumble")(spark, sfDir).count())
        def runHop(tag: String): Unit =
          time(s"hop$tag")(SparkEntry.queries("q_stream_hop")(spark, sfDir).count())
        runTumble("@32-warmup")
        runTumble("@32")
        runHop("@32")
        streaming.StreamingOps.withStatePartitions(spark, 8) {
          runTumble("@8")
          runHop("@8")
        }
        runTumble("@32b")
        streaming.StreamingOps.withStatePartitions(spark, 8) { runTumble("@8b") }
      case "cdcprof" =>
        import org.apache.spark.sql.functions._
        import graft.streaming.{ChangelogAgg, UpsertSink}
        import graft.streaming.ChangelogAgg.AggChange
        import sources.CdcFormats
        import spark.implicits._
        streaming.StreamingOps.withStatePartitions(spark, 8) {
          val feed = CdcFormats.writeDebeziumFeedPhased(spark, sfDir)
          val t0 = System.nanoTime()
          val raw = spark.readStream.option("maxFilesPerTrigger", CdcFormats.PhaseFiles)
            .text(s"$feed/*/")
          val changes = CdcFormats.debezium(raw, CdcFormats.feedSchema).select(
            col("o_orderpriority"), col("o_orderkey"), col("kind"), col("o_totalprice"))
            .as[(String, Long, String, Double)]
            .map { case (prio, k, kind, price) =>
              val phase = kind match {
                case "+I" => 0L; case "-U" => 1L; case "+U" => 2L; case _ => 3L
              }
              AggChange[String](prio, k * 4 + phase, kind,
                math.round(price * 10000).toDouble)
            }
          val agg = ChangelogAgg.agg(changes).toDF()
          val store = new UpsertSink.InMemoryStore()
          val ckpt = streaming.StreamingOps.freshCheckpoint("cdcprof")
          val q = streaming.StreamingOps.startQuery(spark,
            UpsertSink.foreachBatchChangelog(agg, "kind", Seq("key"), store)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()), ckpt)
          q.awaitTermination()
          println(f"[scratch] cdc-stream total ${(System.nanoTime() - t0) / 1e9}%.3f s")
          q.recentProgress.foreach { p =>
            println(s"[scratch] batch ${p.batchId} rows=${p.numInputRows} durations=${p.durationMs}")
          }
          store.close()
        }
      case "shexpr" =>
        import org.apache.spark.sql.functions._
        val docs = Tables.t(spark, sfDir, "documents")
        val toks = docs.withColumn("toks",
          split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " "))
        def legacy(w: Int) = {
          val tokHash =
            if (w == 56) "CAST(conv(substr(md5(t), 1, 14), 16, 10) AS BIGINT)"
            else "(shiftleft(CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT), 32) | " +
              "CAST(conv(substr(md5(t), 9, 8), 16, 10) AS BIGINT))"
          expr(
            s"""aggregate(zip_with(
               |    aggregate(transform(toks, t -> $tokHash), array_repeat(0, $w),
               |      (acc, h) -> zip_with(acc, sequence(0, ${w - 1}),
               |        (a, j) -> a + IF(((h >> j) & 1) = 1, 1, -1))),
               |    sequence(0, ${w - 1}),
               |    (b, j) -> IF(b > 0, shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))),
               |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
        }
        def fast(w: Int) = org.apache.spark.sql.graft.SimhashFunctions
          .simhashOfTokens(col("toks"), w)
        for (r <- 1 to 2; w <- Seq(56, 64)) {
          time(s"legacy$w#$r")(toks.select(legacy(w).as("s")).agg(sum("s")).count())
          time(s"expr$w#$r")(toks.select(fast(w).as("s")).agg(sum("s")).count())
        }
        // the old batch plan: explode + md5Hash + ObjectHashAggregate
        val oldBatch = {
          val hashed = docs.select(col("doc_id"),
            explode(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("tok"))
            .select(col("doc_id"), graft.functions.FlinkFunctions.md5Hash56(col("tok")).as("h"))
          hashed.groupBy(col("doc_id"))
            .agg(expr("sum(h)").as("s")) // stand-in shuffle-shaped agg
        }
        time("oldBatchShape")(oldBatch.count())
        time("newBatch#1")(operators.DedupOps.simhash(docs).count())
        time("newBatch#2")(operators.DedupOps.simhash(docs).count())
      case "triple" =>
        import org.apache.spark.sql.functions._
        val scheme = operators.SimhashBanding.Triple
        val sh0 = operators.DedupOps.simhashWideM(spark, sfDir)
        time("store")(sh0.count())
        val sh = sh0.withColumn("simhash", expr(s"simhash & ${scheme.sigMask}"))
        val posts = sh.select(col("doc_id"), col("simhash"),
          explode(expr(s"array(${scheme.bandEntriesExpr})")).as("ch"))
          .select(col("doc_id"), col("simhash"),
            col("ch.b").as("bnd"), col("ch.v").as("v"))
        time("posts#1")(posts.count())
        time("posts#2")(posts.count())
        val joined = posts.as("a")
          .join(posts.as("b"),
            col("a.bnd") === col("b.bnd") && col("a.v") === col("b.v") &&
              col("a.doc_id") < col("b.doc_id"))
        time("join-candidates")(joined.count())
        time("full#1")(SparkEntry.queries("q_simhash_banded_triple")(spark, sfDir).count())
        time("full#2")(SparkEntry.queries("q_simhash_banded_triple")(spark, sfDir).count())
        time("wide-full")(SparkEntry.queries("q_simhash_banded_wide")(spark, sfDir).count())
        val df2 = SparkEntry.queries("q_simhash_banded_triple")(spark, sfDir)
        df2.count()
        println("[scratch] executed plan (tail):")
        println(df2.queryExecution.executedPlan.toString.linesIterator
          .take(40).mkString("\n"))
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        time("full-nocodegen")(SparkEntry.queries("q_simhash_banded_triple")(spark, sfDir).count())
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    spark.stop()
  }
}
