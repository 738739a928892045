package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each operator family contributes its `queries` (DataFrame programs)
  * and `oracles` (equivalent DuckDB SQL) from its own file under
  * graft.operators; this object is just the union. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * One full Lloyd round (assign → per-cluster sum/count → mean) — the
    * reference's entire per-iteration pipeline, run by the engine's
    * Lloyd kernel as one job over the corpus; the means come back as a
    * local frame. */
  def entry(spark: SparkSession): DataFrame =
    KMeansQueries.kmUpdate(spark, "/root/testdata/sf0.001")

  private def modules = Seq[(Map[String, (SparkSession, String) => DataFrame],
                             Map[String, String])](
    (KMeansQueries.queries, KMeansQueries.oracles),
    (RelationalQueries.queries, RelationalQueries.oracles),
    (FunctionQueries.queries, FunctionQueries.oracles),
    (Dedup.queries, Dedup.oracles),
    (Similarity.queries, Similarity.oracles),
    (AnnIndex.queries, AnnIndex.oracles),
    (TextAnalysis.queries, TextAnalysis.oracles),
    (Multimodal.queries, Multimodal.oracles),
    (Jpeg.queries, Jpeg.oracles),
    (Gif.queries, Gif.oracles),
    (Archives.queries, Archives.oracles),
    (Warc.queries, Warc.oracles),
    (Adpcm.queries, Adpcm.oracles),
    (Avi.queries, Avi.oracles),
    (Pipeline.queries, Pipeline.oracles),
    (Events.queries, Events.oracles))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
