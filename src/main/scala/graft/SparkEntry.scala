package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a named
  * query; `oracleSql` carries the DuckDB-equivalent SQL for the driver's
  * correctness gate (column names are aligned on both sides — the compare
  * sorts columns by name before hashing).
  */
object SparkEntry {

  private val modules: Seq[Q] =
    operators.Relational.all ++
      operators.RelationalSql.all ++
      operators.TpchSql.all ++
      operators.TpcdsShapes.all ++
      operators.TpcdsShapes2.all ++
      operators.GraphOps.all ++
      operators.TemporalSql.all ++
      operators.TemporalFunction.all ++
      operators.GroupWindowSql.all ++
      operators.LateralSql.all ++
      operators.GraftSql.all ++
      operators.HiveDialect.all ++
      operators.Scalars.all ++
      operators.Scalars2.all ++
      operators.TypeParity.all ++
      operators.TimeWindows.all ++
      operators.DedupOps.all ++
      operators.SimilarityOps.all ++
      operators.TextOps.all ++
      operators.Multimodal.all ++
      operators.LookupJoin.all ++
      operators.CoGroupOps.all ++
      operators.SketchOps.all ++
      operators.SkewOps.all ++
      operators.BucketedOps.all ++
      operators.TriggerWindows.all ++
      cep.CepOps.all ++
      cep.CepTws.all ++
      cep.MatchRecognize.all ++
      streaming.StreamingOps.all ++
      streaming.ChangelogJoin.all ++
      streaming.ChangelogAgg.all ++
      streaming.StatefulOps.all ++
      streaming.IterateStream.all ++
      streaming.QueryableState.all ++
      streaming.TwsOps.all ++
      streaming.SessionTws.all ++
      streaming.DedupSql.all ++
      streaming.BucketedStreamJoin.all ++
      streaming.NearDupStream.all ++
      streaming.WatermarkIdleness.all ++
      streaming.PartitionCommit.all ++
      sources.CdcFormats.all ++
      sources.DataGen.all ++
      sources.SourceApi.all ++
      dsl.DslOps.all ++
      dsl.TableApiOps.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.qAggQ1.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Deliberately-unscalable oracle baselines for the banded/bucketed/
    * bounded scale paths. They stay in `queries` (the correctness gate needs
    * them) but the bench reports them separately — a 100 TB deployment runs
    * the scalable twins (q_simhash_banded, q_cosine_topk_bucketed, q_ann_ivf,
    * q_ngram_jaccard_capped, and star-CC q_dedup_clusters) instead. The
    * first three are O(n^2); the iterateDelta CC is O(diameter) rounds with
    * a fixed per-round driver-loop cost (round-6 verdict: 7.8x under a
    * loaded driver with an unchanged plan). */
  val calibrationQueries: Set[String] =
    Set("q_cosine_topk", "q_simhash_pairs", "q_ngram_jaccard",
      "q_dedup_clusters_iterate")
}
