package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one name per implemented operator (SURVEY.md §2 +
  * LLM-pipeline extensions) to a `(session, sfDir) => DataFrame`;
  * `oracleSql` holds the DuckDB-equivalent SQL for every
  * SQL-expressible query (same column names, same ORDER BY, same
  * rounding — the driver hash-compares values after sorting columns by
  * name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Scan → broadcast join → grouped agg → top-k: the operator
    * shape of the reference's recommendation pipeline B
    * (recommender.py:146-176) on the driver testdata.
    */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.topK(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Relational.queries ++ ops.Relational2.queries ++
      ops.Relational3.queries ++ ops.TextAnalysis.queries ++
      ops.Curation.queries ++
      ops.Dedup.queries ++ ops.Similarity.queries ++ ops.Events.queries ++
      ops.Graph.queries ++
      ops.Multimodal.queries ++ ops.Udfs.queries ++ ops.Skew.queries ++
      sources.Sources.queries ++
      streaming.EventStream.queries ++ streaming.DedupStream.queries ++
      recommend.AlsPipeline.queries

  /** Runs a query result the way every timed path consumes it and
    * returns its row count. The noop write evaluates every output
    * column and keeps the final sort, so the plan that runs is the
    * plan the query returns; `count()` would let Catalyst prune joins
    * against key-unique aggregates, windows, UDFs and sorts. The row
    * count is observed on the same pass.
    *
    * Streaming queries return their drained result through a
    * `graft_stream_*` memory-sink view, and nothing else drops those:
    * across repeated sweeps the retained results fill the driver heap.
    * The write has consumed this result, so the views are dropped here.
    */
  def consume(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    val spark = df.sparkSession
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    obs.get("rows").asInstanceOf[Long]
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (ALS train/predict, randomSplit, LSH) → driver records a weaker
    * rows-only check.
    */
  def oracleSql: Map[String, String] =
    ops.Relational.oracle ++ ops.Relational2.oracle ++
      ops.Relational3.oracle ++ ops.TextAnalysis.oracle ++
      ops.Curation.oracle ++
      ops.Dedup.oracle ++ ops.Similarity.oracle ++ ops.Events.oracle ++
      ops.Graph.oracle ++
      ops.Multimodal.oracle ++ ops.Udfs.oracle ++ ops.Skew.oracle ++
      sources.Sources.oracle ++
      streaming.EventStream.oracle ++ streaming.DedupStream.oracle ++
      recommend.AlsPipeline.oracle
}
