package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator (SURVEY.md §2 inventory +
  * the training-data extensions) to a DataFrame program over the testdata
  * tables; `oracleSql` gives the DuckDB-runnable ANSI-SQL equivalent
  * (omitted only for ops whose semantics aren't SQL-expressible — those
  * get a rows-only check plus ScalaTest coverage).
  */
object SparkEntry {

  private val registry: Seq[(Map[String, Q], Map[String, String])] = Seq(
    (ops.CoreOps.queries, ops.CoreOps.oracleSql),
    (ops.SynapseId.queries, ops.SynapseId.oracleSql),
    (ops.Offsets.queries, ops.Offsets.oracleSql),
    (ops.Rle.queries, ops.Rle.oracleSql),
    (ops.FileOrder.queries, ops.FileOrder.oracleSql),
    (ops.EnumLibrary.queries, ops.EnumLibrary.oracleSql),
    (io.SchemaSidecar.queries, io.SchemaSidecar.oracleSql),
    (ops.Intervals.queries, ops.Intervals.oracleSql),
    (ops.CsrIndex.queries, ops.CsrIndex.oracleSql),
    (ops.JoinOps.queries, ops.JoinOps.oracleSql),
    (ops.SetWindowOps.queries, ops.SetWindowOps.oracleSql),
    (pipelines.TouchToParquet.queries, pipelines.TouchToParquet.oracleSql),
    (ops.ScalarFuncs.queries, ops.ScalarFuncs.oracleSql),
    (ops.Salting.queries, ops.Salting.oracleSql),
    (ops.Reshape.queries, ops.Reshape.oracleSql),
    (ops.AnalyticsQueries.queries, ops.AnalyticsQueries.oracleSql),
    (ops.ZOrder.queries, ops.ZOrder.oracleSql),
    (ops.Hilbert.queries, ops.Hilbert.oracleSql),
    (ops.Layout.queries, ops.Layout.oracleSql),
    (plans.TopKPerKey.queries, plans.TopKPerKey.oracleSql),
    (ext.TextAnalysis.queries, ext.TextAnalysis.oracleSql),
    (ext.BpeTrain.queries, ext.BpeTrain.oracleSql),
    (ext.UnigramLm.queries, ext.UnigramLm.oracleSql),
    (ext.Fim.queries, ext.Fim.oracleSql),
    (ext.StoragePlan.queries, ext.StoragePlan.oracleSql),
    (ext.Dedup.queries, ext.Dedup.oracleSql),
    (ext.DedupCluster.queries, ext.DedupCluster.oracleSql),
    (ext.Quality.queries, ext.Quality.oracleSql),
    (ext.BackoffLm.queries, ext.BackoffLm.oracleSql),
    (ext.ParagraphDedup.queries, ext.ParagraphDedup.oracleSql),
    (ext.FilterEnsemble.queries, ext.FilterEnsemble.oracleSql),
    (ext.Curate.queries, ext.Curate.oracleSql),
    (ext.SimSearch.queries, ext.SimSearch.oracleSql),
    (ext.NegMining.queries, ext.NegMining.oracleSql),
    (ext.ProductQuant.queries, ext.ProductQuant.oracleSql),
    (ext.KMeans.queries, ext.KMeans.oracleSql),
    (ext.SemDedup.queries, ext.SemDedup.oracleSql),
    (ext.PageRank.queries, ext.PageRank.oracleSql),
    (ext.Hits.queries, ext.Hits.oracleSql),
    (ext.GraphOps.queries, ext.GraphOps.oracleSql),
    (ext.KCore.queries, ext.KCore.oracleSql),
    (ext.EditDistJoin.queries, ext.EditDistJoin.oracleSql),
    (ext.Bm25.queries, ext.Bm25.oracleSql),
    (ext.Winnow.queries, ext.Winnow.oracleSql),
    (ext.Itemsets.queries, ext.Itemsets.oracleSql),
    (ext.Cohort.queries, ext.Cohort.oracleSql),
    (ext.Attribution.queries, ext.Attribution.oracleSql),
    (ext.Growth.queries, ext.Growth.oracleSql),
    (ext.Drift.queries, ext.Drift.oracleSql),
    (ext.RankStats.queries, ext.RankStats.oracleSql),
    (ext.Rfm.queries, ext.Rfm.oracleSql),
    (ext.Stats.queries, ext.Stats.oracleSql),
    (ext.Collocations.queries, ext.Collocations.oracleSql),
    (ext.TextRank.queries, ext.TextRank.oracleSql),
    (ext.Markov.queries, ext.Markov.oracleSql),
    (ext.RankFusion.queries, ext.RankFusion.oracleSql),
    (ext.RecSys.queries, ext.RecSys.oracleSql),
    (ext.Preference.queries, ext.Preference.oracleSql),
    (ext.Pii.queries, ext.Pii.oracleSql),
    (ext.Curriculum.queries, ext.Curriculum.oracleSql),
    (ext.Dsir.queries, ext.Dsir.oracleSql),
    (ext.WordPiece.queries, ext.WordPiece.oracleSql),
    (ext.Doremi.queries, ext.Doremi.oracleSql),
    (ext.DataValue.queries, ext.DataValue.oracleSql),
    (ext.NbFilter.queries, ext.NbFilter.oracleSql),
    (ext.RewardOps.queries, ext.RewardOps.oracleSql),
    (ext.BinaryQuant.queries, ext.BinaryQuant.oracleSql),
    (ext.Sessionize.queries, ext.Sessionize.oracleSql),
    (ext.LinkPred.queries, ext.LinkPred.oracleSql),
    (ext.Timeseries.queries, ext.Timeseries.oracleSql),
    (ext.DataQuality.queries, ext.DataQuality.oracleSql),
    (ops.Selection.queries, ops.Selection.oracleSql),
    (ext.PpJoin.queries, ext.PpJoin.oracleSql),
    (ext.RandomWalk.queries, ext.RandomWalk.oracleSql),
    (ops.Checksum.queries, ops.Checksum.oracleSql),
    (ext.Sampling.queries, ext.Sampling.oracleSql),
    (ext.Agreement.queries, ext.Agreement.oracleSql),
    (ext.Uplift.queries, ext.Uplift.oracleSql),
    (ext.Survival.queries, ext.Survival.oracleSql),
    (ext.Sq8.queries, ext.Sq8.oracleSql),
    (ext.Bootstrap.queries, ext.Bootstrap.oracleSql),
    (ext.CorpusStats.queries, ext.CorpusStats.oracleSql),
    (ext.Calibration.queries, ext.Calibration.oracleSql),
    (ext.ClassifierEval.queries, ext.ClassifierEval.oracleSql),
    (ext.Fairness.queries, ext.Fairness.oracleSql),
    (ext.Multimodal.queries, ext.Multimodal.oracleSql),
    (ext.LmStats.queries, ext.LmStats.oracleSql),
    (ext.Abtest.queries, ext.Abtest.oracleSql),
    (pipelines.SonataH5.queries, pipelines.SonataH5.oracleSql),
    (streaming.StreamingOps.queries, streaming.StreamingOps.oracleSql)
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.CoreOps.queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] = registry.iterator.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = registry.iterator.map(_._2).reduce(_ ++ _)
}
