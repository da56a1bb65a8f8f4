package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analytics, Corpus, DataChecks, Dedup, EventOps, Geo, Graph, HypoTests, IncrementalAgg, IncrementalCorpus, IncrementalJoin, Insights, MaterializedView, MediaOps, MlEval, MlPrep, Olap, Quant, Relational, Scd, SearchIndex, SeqPattern, Similarity, Sketches, Temporal, TextOps, TextProfile, TextRank}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Full catalog: relational core + LLM-pipeline + events operators. */
  val all: Seq[Q] =
    Relational.catalog ++ Olap.catalog ++ TextOps.catalog ++
      TextRank.catalog ++ Dedup.catalog ++ Similarity.catalog ++
      EventOps.catalog ++ Temporal.catalog ++ MediaOps.catalog ++
      Graph.catalog ++ Scd.catalog ++ Corpus.catalog ++
      IncrementalAgg.catalog ++ IncrementalJoin.catalog ++
      MaterializedView.catalog ++ DataChecks.catalog ++ SearchIndex.catalog ++
      Analytics.catalog ++ HypoTests.catalog ++ Insights.catalog ++
      Geo.catalog ++ Sketches.catalog ++ MlPrep.catalog ++
      MlEval.catalog ++ SeqPattern.catalog ++ IncrementalCorpus.catalog ++
      Quant.catalog ++ TextProfile.catalog ++
      graft.sources.v2.SeqDataSource.catalog ++
      graft.sources.TableLog.catalog ++
      graft.sources.RoundTrip.catalog

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q07_star_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check).
    */
  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
