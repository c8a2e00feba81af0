package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: print `.explain("formatted")` for named queries to files
  * under an output dir (arg 0), one `<query>.txt` each — the plan
  * evidence the optimization rounds commit under plans/rNN/. Bench
  * session shape (same confs), so the plans match what the bench runs.
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = LocalSession.sfDir
    val outDir = args.head
    new java.io.File(outDir).mkdirs()
    val spark = LocalSession.build()
    // checkpoint=false twins of the operators whose registered entries
    // localCheckpoint (their registered plans collapse to RDD scans —
    // these pseudo-names expose the dataflow under audit instead)
    val noCp: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "x_containment_nocp" -> ((s, d) => graft.operators.Dedup
        .containmentPairsNoCheckpointForAudit(graft.tables.Tables.documents(s, d))),
      "x_lexical_cosine_nocp" -> ((s, d) => graft.operators.Dedup
        .lexicalCosineOn(graft.tables.Tables.documents(s, d), checkpoint = false)),
      // one graph-ANN beam hop on the pre-checkpoint dataflow (the
      // registered entries checkpoint per hop, collapsing the plan)
      "x_beam_hop_nocp" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val e = graft.tables.Tables.embeddings(s, d)
        val edges = graft.operators.Similarity.graphAnnEdges(s, e)
        val corpus = e.select(col("vec_id").as("n_id"), col("embedding"))
        val queries = e.filter(col("vec_id") < graft.operators.Similarity.NumQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val beam = corpus.filter(col("n_id") < graft.operators.Similarity.GraphEntries)
          .crossJoin(queries)
          .select(col("q_id"), col("n_id"),
            org.apache.spark.sql.functions.lit(0.0).as("sim"))
          .localCheckpoint()
        graft.operators.Similarity.beamExpand(edges.localCheckpoint(),
          corpus, queries, beam)
      }),
      "x_delta_lexical_nocp" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val docs = graft.tables.Tables.documents(s, d)
        // force the stored quadruple, then audit the unpinned serve
        graft.operators.Dedup.deltaLexicalCosine(s, d)
        val root = graft.sources.Scratch.corpusDir(s, "lex_index", d)
        graft.operators.Dedup.deltaLexicalCosineFrom(
          s.read.parquet(s"$root/tf"), s.read.parquet(s"$root/norms"),
          s.read.parquet(s"$root/shingles"), s.read.parquet(s"$root/df"),
          docs, checkpoint = false)
      }),
      "x_delta2_bm25_nocp" -> ((s, d) => graft.operators.Retrieval
        .delta2Bm25NoCheckpointForAudit(s, d)))
    args.drop(1).foreach { name =>
      val plan =
        try noCp.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      val w = new java.io.PrintWriter(s"$outDir/$name.txt")
      try w.println(plan) finally w.close()
      println(s"explained $name -> $outDir/$name.txt")
    }
    spark.stop()
  }
}
