package graftbench

/** The benchmark's workloads. Each is a fixed list of registered
  * `SparkEntry.queries` names.
  *
  * `cold` workloads time one pass in a fresh JVM, so first-touch
  * costs (scratch artifact builds, codegen, JIT) land in the timed
  * phase. They run their queries in list order, as a job runs its
  * stages; which query pays a shared first-touch build is then the
  * same in every run. The warm workload runs an untimed pass first
  * (counted in set-up), then two timed passes (more only if the run's
  * seconds are not yet used up), in an order the seed shuffles, as an
  * analyst re-issues queries.
  */
final case class Workload(
    name: String,
    cold: Boolean,
    streamWarmup: Boolean,
    queries: Seq[String]) {

  /** Timed passes a run makes at least: the phase is fixed work, so
    * every run's metrics pool the same number of samples.
    */
  def passes: Int = if (cold) 1 else 2
}

object Workloads {

  /** Once-per-corpus pipeline job: graph loops and the dedup /
    * similarity families, whose first touch builds shared scratch
    * artifacts (co-order edges, MinHash signatures, ANN indexes).
    */
  val PipelineCold: Workload = Workload("pipeline-cold", cold = true,
    streamWarmup = false, Seq(
      "graph_pagerank", "graph_triangles", "graph_common_neighbors",
      "dedup_exact", "dedup_fingerprint", "sim_ann_ivf", "sim_knn_brute",
      "sim_centroid_classify"))

  /** Long-lived interactive session: relational, SQL, event and text
    * queries re-issued against warm codegen, JIT and artifacts.
    * `rel_join_multi_agg` is not among them: it rounds a sum with four
    * decimals of exact value to two, so on an exact half-cent tie
    * Spark (HALF_UP) and its DuckDB oracle disagree, which happens on
    * about one generated corpus in twelve (16 of seeds 1000-1199).
    */
  val AnalystWarm: Workload = Workload("analyst-warm", cold = false,
    streamWarmup = false, Seq(
      "rel_join_hinted", "rel_window", "rel_topk", "sql_api_q3",
      "events_funnel", "events_sessionize", "text_tfidf"))

  /** Many small writes: bounded stream drains that commit state and
    * checkpoints, plus lake-layout writes and format round trips.
    */
  val StreamIngest: Workload = Workload("stream-ingest", cold = true,
    streamWarmup = true, Seq(
      "stream_tumbling_window", "stream_sessionize", "stream_rocksdb_window",
      "stream_tws_totals", "stream_foreachbatch", "src_compaction",
      "src_zorder_export"))

  val all: Seq[Workload] = Seq(PipelineCold, AnalystWarm, StreamIngest)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** The pass order: list order when cold, else a seeded shuffle. */
  def order(w: Workload, seed: Long): Seq[String] =
    if (w.cold) w.queries else new scala.util.Random(seed).shuffle(w.queries)
}
