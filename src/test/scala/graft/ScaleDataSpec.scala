package graft

/** The growth-gate synthesizer ([[ScaleData]]): the scaled tree must grow
  * every fact table exactly `factor`x while preserving intra-replica join
  * cardinality, and must perturb content columns enough that the scaled
  * corpus does not change any operator's complexity class (verbatim text
  * copies would be cross-replica near-duplicates; identical vectors would
  * pile into the same IVF cell). */
class ScaleDataSpec extends GraftSpec {

  private lazy val outDir = {
    val d = owned(Tables.scratch(s"scale-data-spec/${java.util.UUID.randomUUID()}"))
    ScaleData.synthesize(spark, sfDir, d, factor = 3)
    d
  }

  test("every fact table grows exactly factor-x; dimensions stay verbatim") {
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings"))
      assert(spark.read.parquet(s"$outDir/$t.parquet").count() ==
        3 * Tables.t(spark, sfDir, t).count(), t)
    for (t <- Seq("region", "nation"))
      assert(spark.read.parquet(s"$outDir/$t.parquet").count() ==
        Tables.t(spark, sfDir, t).count(), t)
  }

  test("join cardinality grows linearly: orders-lineitem matches stay intra-replica") {
    val src = Tables.t(spark, sfDir, "lineitem")
      .join(Tables.t(spark, sfDir, "orders"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey")).count()
    val big = spark.read.parquet(s"$outDir/lineitem.parquet")
      .join(spark.read.parquet(s"$outDir/orders.parquet"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey")).count()
    assert(big == 3 * src, s"expected ${3 * src}, got $big — a cross-replica " +
      "key collision would make join growth super-linear")
  }

  test("document text is perturbed per replica (no cross-replica duplicates), length-preserving") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    // doc_id mod KeyShift recovers the source id; its 3 replicas must have
    // 3 DISTINCT texts of the SAME length
    val bySrc = docs
      .groupBy(($"doc_id" % ScaleData.KeyShift).as("src_id"))
      .agg(org.apache.spark.sql.functions.countDistinct($"text").as("texts"),
        org.apache.spark.sql.functions.countDistinct(
          org.apache.spark.sql.functions.length($"text")).as("lens"))
    assert(bySrc.filter($"texts" =!= 3).count() == 0,
      "each source doc must yield 3 distinct replica texts")
    assert(bySrc.filter($"lens" =!= 1).count() == 0,
      "the Caesar rotation must preserve text length")
  }

  test("embedding replicas decorrelate and re-key their IVF cell") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$outDir/embeddings.parquet")
    val srcLabels = Tables.t(spark, sfDir, "embeddings")
      .select($"label").distinct().count()
    assert(emb.select($"label").distinct().count() == 3 * srcLabels,
      "cell count must scale with the corpus (a retrained index has more cells)")
    // rotation preserves the norm and (for these vectors) changes direction
    val pair = emb
      .filter($"vec_id" % ScaleData.KeyShift === 7)
      .select(($"vec_id" / ScaleData.KeyShift).cast("int").as("rep"),
        org.apache.spark.sql.functions.expr(
          "aggregate(embedding, 0.0D, (a, x) -> a + cast(x as double) * x)")
          .as("norm2"),
        $"embedding")
      .collect()
    assert(pair.length == 3)
    assert(pair.map(_.getDouble(1)).distinct.length == 1 ||
      pair.map(r => math.round(r.getDouble(1) * 1e4)).distinct.length == 1,
      "rotation must preserve the vector norm")
    assert(pair.map(_.getSeq[Float](2)).distinct.length == 3,
      "replica vectors must differ (identical copies would pile into one cell)")
  }

  test("past the 26-rotation cycle (factor > 26) texts stay distinct and vectors stay dim-sized") {
    import spark.implicits._
    val d = owned(Tables.scratch(s"scale-data-spec30/${java.util.UUID.randomUUID()}"))
    ScaleData.synthesize(spark, sfDir, d, factor = 30)
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val bySrc = docs.groupBy(($"doc_id" % ScaleData.KeyShift).as("src_id"))
      .agg(org.apache.spark.sql.functions.countDistinct($"text").as("texts"))
    assert(bySrc.filter($"texts" =!= 30).count() == 0,
      "every replica past the rotation cycle must still carry distinct text")
    assert(docs.filter(org.apache.spark.sql.functions.length($"text") =!=
      $"n_chars").count() == 0, "n_chars must track the perturbed text")
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    assert(emb.filter(org.apache.spark.sql.functions.size($"embedding") =!= 64)
      .count() == 0, "rotation by rep mod dim must preserve the vector length")
    val one = emb.filter($"vec_id" % ScaleData.KeyShift === 7)
      .select($"embedding").collect().map(_.getSeq[Float](0))
    assert(one.length == 30 && one.distinct.length >= 27,
      "only dim-cycle collisions may repeat a vector (none at 30 < 64)")
    // Same-rotation replicas (rep and rep+26) must share ZERO tokens, not
    // just differ somewhere: one differing token leaves SimHash within
    // hd<=6 and the near-dup pair count quadratic in factor (the r17
    // 1000x-rung artifact). rep=1 and rep=27 share rotation 1.
    val srcId = docs.select(($"doc_id" % ScaleData.KeyShift).as("s"))
      .limit(1).collect()(0).getLong(0)
    def toks(rep: Int): Set[String] = docs
      .filter($"doc_id" === srcId + rep.toLong * ScaleData.KeyShift)
      .select($"text").collect()(0).getString(0).split(" ").toSet
    assert(toks(1).intersect(toks(27)).isEmpty,
      "same-rotation replicas must share no tokens past the cycle")
  }

  test("synthesis is skipped on re-run (completion marker)") {
    val before = new java.io.File(s"$outDir/lineitem.parquet").lastModified()
    ScaleData.synthesize(spark, sfDir, outDir, factor = 3)
    assert(new java.io.File(s"$outDir/lineitem.parquet").lastModified() == before)
  }

  test("IVF label re-key offset clears every source label (no cross-replica cell collisions)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$outDir/embeddings.parquet")
    val src = Tables.t(spark, sfDir, "embeddings")
    val srcCells = src.select(countDistinct($"label")).head().getLong(0)
    assert(emb.select(countDistinct($"label")).head().getLong(0) == 3 * srcCells,
      "an IVF index retrained on a 3x corpus must have 3x cells")
  }

  test("growth-gate checksum materializer evaluates the pruning-susceptible families") {
    // ScaleGrowth now times EVERY query through bit_xor(xxhash64(all
    // output columns)) — r15 caught count() pruning map-only projections,
    // r18 caught it pruning unconsumed Window nodes (q_over_rows' counted
    // plan had no Window at all). This guards the wiring over the two
    // known-susceptible families — an unhashable column type added to one
    // of these queries would otherwise only fail at gate time, far from
    // the edit.
    import org.apache.spark.sql.functions.{col, expr, xxhash64}
    val pruningSusceptible = Seq(
      // pure projections (the r15 family)
      "q_pii_mask", "q_token_count", "q_quality_score", "q_json_extract",
      "q_parse_url", "q_scalar_math", "q_scalar_str", "q_scalar_hash",
      "q_collections", "q_flink_fns", "q_lang_id", "q_quality_repetition",
      "q_explode_tokens", "q_udtf_flatmap", "q_media_resize",
      // unconsumed-window projections (the r18 family)
      "q_over_rows", "q_over_range_frame", "q_over_navigation", "q_over_rank")
    for (name <- pruningSusceptible) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(expr("bit_xor(h)")).head()
      assert(!r.isNullAt(0), s"$name produced no rows to checksum")
    }
  }

  test("the r18 window-pruning caveat is real: count() drops an unconsumed Window") {
    // pins the REASON the gate checksums instead of counting — if a Spark
    // upgrade stops pruning here, the checksum is merely redundant, but if
    // this assert ever fires the gate comment's premise needs re-checking
    val counted = SparkEntry.queries("q_over_rows")(spark, sfDir)
      .groupBy().count().queryExecution.executedPlan.toString
    assert(!counted.contains("Window"),
      "count() no longer prunes the Window — re-evaluate the gate's timing note")
  }
}
