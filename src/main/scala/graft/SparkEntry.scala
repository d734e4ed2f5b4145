package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registered query surface (SURVEY.md §7).
  *
  * `queries` aggregates every implemented operator's named query;
  * `oracleSql` carries the DuckDB-dialect equivalent for the hash-compare
  * correctness gate (omitted for non-SQL-expressible ops → rows-only check).
  *
  * One rule joins the two: an oracle key with no hand-written body runs
  * its oracle text through the engine's SQL front door,
  * `(s, d) => HeavyEngine(s, d).sql(<oracle text>)` — the reference has
  * one query entry point, SQL text handed to `sql_execute`
  * (`ThriftHandler/DBHandler.cpp:1285`). The same text then runs on Spark
  * and on DuckDB, so changing such a query means editing its oracle
  * string, and that string must stay valid in both dialects. A module
  * keeps a DataFrame body only where the body is the feature under test
  * (Stage, driver-side values, graft operators, sources, streaming, ML,
  * DDL, or an approximate or arbitrary-value aggregate whose oracle can
  * only emit a literal or another aggregate in its place) or has a
  * measured advantage, noted next to it.
  */
object SparkEntry {

  private val modules: Seq[(Seq[(String, (SparkSession, String) => DataFrame)],
      Seq[(String, String)])] = Seq(
    (operators.Relational.queries, operators.Relational.oracles),
    (operators.Windows.queries, operators.Windows.oracles),
    (operators.Arrays.queries, operators.Arrays.oracles),
    (operators.TextAnalysis.queries, operators.TextAnalysis.oracles),
    (operators.Dedup.queries, operators.Dedup.oracles),
    (operators.TableFunctions.queries, operators.TableFunctions.oracles),
    (operators.Geo.queries, operators.Geo.oracles),
    (operators.Multimodal.queries, operators.Multimodal.oracles),
    (operators.ApproxAggs.queries, operators.ApproxAggs.oracles),
    (operators.SqlSurface.queries, operators.SqlSurface.oracles),
    (operators.DdlDml.queries, operators.DdlDml.oracles),
    (operators.MLFunctions.queries, operators.MLFunctions.oracles),
    (operators.RangeJoin.queries, operators.RangeJoin.oracles),
    (operators.AsofJoin.queries, operators.AsofJoin.oracles),
    (operators.SkewJoin.queries, operators.SkewJoin.oracles),
    (operators.NullSemantics.queries, operators.NullSemantics.oracles),
    (operators.AnnIvf.queries, operators.AnnIvf.oracles),
    (operators.TaxiParity.queries, operators.TaxiParity.oracles),
    (operators.FlightsParity.queries, operators.FlightsParity.oracles),
    (operators.SyntheticParity.queries, operators.SyntheticParity.oracles),
    (operators.TpcH.queries, operators.TpcH.oracles),
    (operators.LogsParity.queries, operators.LogsParity.oracles),
    (operators.HptParity.queries, operators.HptParity.oracles),
    (operators.Dsir.queries, operators.Dsir.oracles),
    (operators.Retrieval.queries, operators.Retrieval.oracles),
    (operators.DataOps.queries, operators.DataOps.oracles),
    (operators.ProductAnalytics.queries, operators.ProductAnalytics.oracles),
    (operators.MixturePlanning.queries, operators.MixturePlanning.oracles),
    (operators.Similarity.queries, operators.Similarity.oracles),
    (operators.WebCorpus.queries, operators.WebCorpus.oracles),
    (operators.Profiling.queries, operators.Profiling.oracles),
    (operators.OpsDiagnostics.queries, operators.OpsDiagnostics.oracles),
    (operators.GraphAnalytics.queries, operators.GraphAnalytics.oracles),
    (operators.AnalyticsExtras.queries, operators.AnalyticsExtras.oracles),
    (operators.OpsAnalytics.queries, operators.OpsAnalytics.oracles),
    (operators.Experimentation.queries, operators.Experimentation.oracles),
    (operators.SysTelemetry.queries, operators.SysTelemetry.oracles),
    (operators.Assoc.queries, operators.Assoc.oracles),
    (operators.Forecast.queries, operators.Forecast.oracles),
    (operators.TextMining.queries, operators.TextMining.oracles),
    (operators.Mining.queries, operators.Mining.oracles),
    (operators.Causal.queries, operators.Causal.oracles),
    (operators.Synopsis.queries, operators.Synopsis.oracles),
    (operators.Decomp.queries, operators.Decomp.oracles),
    (operators.Layout.queries, operators.Layout.oracles),
    (operators.MlOps.queries, operators.MlOps.oracles),
    (operators.Snapshots.queries, operators.Snapshots.oracles),
    (operators.Audits.queries, operators.Audits.oracles),
    (operators.Graphs.queries, operators.Graphs.oracles),
    (operators.Bom.queries, operators.Bom.oracles),
    (operators.Ledger.queries, operators.Ledger.oracles),
    (operators.Curves.queries, operators.Curves.oracles),
    (operators.Patterns.queries, operators.Patterns.oracles),
    (operators.Inference.queries, operators.Inference.oracles),
    (operators.NetworkFlows.queries, operators.NetworkFlows.oracles),
    (operators.RankStats.queries, operators.RankStats.oracles),
    (operators.Temporal.queries, operators.Temporal.oracles),
    (operators.Behavior.queries, operators.Behavior.oracles),
    (operators.Econ.queries, operators.Econ.oracles),
    (operators.Hygiene.queries, operators.Hygiene.oracles),
    (operators.Signals.queries, operators.Signals.oracles),
    (operators.Monitor.queries, operators.Monitor.oracles),
    (operators.Market.queries, operators.Market.oracles),
    (operators.Portfolio.queries, operators.Portfolio.oracles),
    (operators.Sketches.queries, operators.Sketches.oracles),
    (operators.Motifs.queries, operators.Motifs.oracles),
    (operators.Bloom.queries, operators.Bloom.oracles),
    (operators.Correlate.queries, operators.Correlate.oracles),
    (operators.Extremes.queries, operators.Extremes.oracles),
    (operators.Stationarity.queries, operators.Stationarity.oracles),
    (operators.Spectral.queries, operators.Spectral.oracles),
    (operators.Audits2.queries, operators.Audits2.oracles),
    (operators.DistanceStats.queries, operators.DistanceStats.oracles),
    (operators.Lattice.queries, operators.Lattice.oracles),
    (operators.Payback.queries, operators.Payback.oracles),
    (operators.Sequential.queries, operators.Sequential.oracles),
    (operators.Tails.queries, operators.Tails.oracles),
    (operators.Anova.queries, operators.Anova.oracles),
    (operators.Diagnostics.queries, operators.Diagnostics.oracles),
    (operators.Venn.queries, operators.Venn.oracles),
    (operators.Attribution.queries, operators.Attribution.oracles),
    (operators.Filters.queries, operators.Filters.oracles),
    (operators.TextModels.queries, operators.TextModels.oracles),
    (operators.Planner.queries, operators.Planner.oracles),
    (operators.Bootstrap.queries, operators.Bootstrap.oracles),
    (operators.Phonetic.queries, operators.Phonetic.oracles),
    (operators.Communities.queries, operators.Communities.oracles),
    (operators.Outliers.queries, operators.Outliers.oracles),
    (operators.Normalize.queries, operators.Normalize.oracles),
    (operators.ProcessMining.queries, operators.ProcessMining.oracles),
    (operators.RankTests.queries, operators.RankTests.oracles),
    (operators.Advisor.queries, operators.Advisor.oracles),
    (operators.Commerce.queries, operators.Commerce.oracles),
    (operators.EvalMetrics.queries, operators.EvalMetrics.oracles),
    (operators.DataQuality.queries, operators.DataQuality.oracles),
    (operators.OpsIntegrity.queries, operators.OpsIntegrity.oracles),
    (sources.Sources.queries, sources.Sources.oracles),
    (streaming.StreamingIngest.queries, streaming.StreamingIngest.oracles)
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_agg_basic")(spark, "/root/testdata/sf0.001")

  /** Queries whose oracle text is their only implementation. */
  lazy val sqlBodied: Set[String] =
    oracleSql.keySet -- modules.flatMap(_._1).map(_._1)

  /** One entry per implemented operator from SURVEY.md §2: the
    * hand-written bodies plus, for every `sqlBodied` key, its oracle
    * text through `HeavyEngine.sql`. Building the map starts no Spark.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = modules.flatMap(_._1) ++ sqlBodied.toSeq.sorted.map { name =>
      val text = oracleSql(name)
      name -> ((s: SparkSession, d: String) => HeavyEngine(s, d).sql(text))
    }
    require(all.map(_._1).distinct.size == all.size,
      "duplicate query ids: " + all.groupBy(_._1).collect {
        case (k, vs) if vs.size > 1 => k
      }.mkString(", "))
    all.toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    modules.flatMap(_._2).toMap
}
