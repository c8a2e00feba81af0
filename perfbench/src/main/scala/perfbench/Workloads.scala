package perfbench

/** The benchmark's workloads: registered query names, each with the
  * module that implements it (the `operators.<Module>_s` grouping).
  * Every workload runs a subset of its family sized so that one run
  * (set-up, a cold pass, the timed warm passes and the oracle dump)
  * stays within the benchmark's time budget; `excluded` records the
  * queries left out and why.
  */
object Workloads {
  val all: Map[String, Seq[(String, String)]] = Map(
    // The paper's dataflow and the relational operators it subsumes:
    // scan, shuffle, combiner and per-query driver overhead.
    "mapreduce_sql" -> Seq(
      "q_wordcount" -> "TextAnalysis",
      "q_mapreduce_wordcount" -> "MapReduceJob",
      "q_inverted_index" -> "TextAnalysis",
      "q_join_agg" -> "Relational",
      "q_tpch_q5" -> "Relational"),
    // The LLM curation path: bound by the text kernels and eager pins.
    "text_curation" -> Seq(
      "q_containment" -> "Dedup",
      "q_simhash" -> "Dedup",
      "q_text_quality" -> "TextAnalysis"),
    // Stored-index writes and serving: the cold pass writes layouts
    // and commits, warm passes read them; streaming micro-batches.
    "index_lifecycle" -> Seq(
      "q_delta_knn_ivf" -> "Similarity",
      "q_retract_knn_ivf" -> "Similarity",
      "q_stream_tumbling" -> "EventStreams"))

  val excluded: Map[String, String] = Map(
    "q_text_wordcount" ->
      "reads the reference text corpus directory, which a checkout does not hold")
}
