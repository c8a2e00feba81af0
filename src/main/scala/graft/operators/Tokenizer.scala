package graft.operators

import graft.functions.TextFunctions
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training over the documents corpus — the
  * vocabulary-learning stage of an LLM data pipeline, expressed in the
  * reference's own dataflow (scan → tokenize → count → reduce; the
  * word-count skeleton of lib/mr_apps/word_count.ex:1-14 is literally
  * round 0 of BPE).
  *
  * Scale shape (the part that matters at 100 TB): BPE statistics are
  * computed over word TYPES weighted by corpus counts, never over raw
  * tokens — so the one corpus-scale operation is the initial
  * word-count shuffle (vocabulary-bounded output, ~10M rows for a web
  * corpus), and every merge round after that runs on the vocabulary
  * table alone. Each learned rule is O(1) driver/model state (the
  * k-means-centroids precedent), collected per round to drive the next
  * round's merge. [[BpeMerges]] demo rounds keep the full-recount form
  * declarative and oracle-checkable; a production 32k-merge run would
  * swap the per-round full recount for incremental pair-delta updates
  * (the standard single-node trainer over the same distributed word
  * counts) — the corpus-side contract is identical.
  *
  * Determinism: pair counts are exact longs; the argmax orders by
  * (count DESC, t1 ASC, t2 ASC) — a total order over [a-z]+ symbols,
  * so Spark and the DuckDB oracle pick identical rules every round.
  *
  * Encoding trick that makes the merge exact in BOTH engines: a word's
  * symbol sequence is rendered with per-token delimiters, `hello` →
  * `|h||e||l||l||o|`. Merging pair (t1,t2) is then the plain string
  * replace `|t1||t2|` → `|t1t2|`: each token carries its own
  * delimiters, so there is no shared-boundary miss on adjacent
  * occurrences (`|a||b||a||b|` → `|ab||ab|` in one pass), no
  * false sub-token match (`|ab|` never contains `|a||b|`), and
  * left-to-right non-overlapping `replace` — the same semantics in
  * Spark and DuckDB — is exactly the BPE greedy merge.
  */
object Tokenizer {

  /** Merge rounds learned by [[bpeMerges]] (demo-scale; see scaladoc). */
  val BpeMerges = 8

  /** One learned rule: (round, left symbol, right symbol, corpus pair count). */
  final case class BpeRule(merge_round: Long, t1: String, t2: String, pair_count: Long)

  /** The corpus vocabulary: lowercased reference-tokenizer words with
    * exact counts — the single corpus-scale shuffle of the trainer.
    */
  private[graft] def vocabOn(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .select(lower(col("tok")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  private[graft] def vocab(spark: SparkSession, dir: String): DataFrame =
    vocabOn(Tables.documents(spark, dir))

  /** One round's weighted adjacent-pair counts over a sequence table —
    * exposed for the plan audit (map-side partial aggregation is the
    * property that keeps a round one vocabulary-sized shuffle).
    */
  private[graft] def pairCounts(seqs: DataFrame): DataFrame = {
    val toks = seqs.select(col("cnt"),
      split(trim(col("seq"), "|"), "\\|\\|").as("toks"))
    // sequence(1, 0) is DESCENDING in Spark, not empty — guard <2
    // (the wordBigrams lesson, TextAnalysis.scala)
    val positions = when(size(col("toks")) >= 2,
      sequence(lit(1), size(col("toks")) - 1))
      .otherwise(array().cast("array<int>"))
    toks
      .select(col("cnt"), explode(transform(positions, i => struct(
        element_at(col("toks"), i).as("t1"),
        element_at(col("toks"), i + 1).as("t2")))).as("p"))
      .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
      .agg(sum(col("cnt")).as("pc"))
  }

  /** A fresh round-0 sequence table (`word`, `seq`, `cnt`). */
  private[graft] def initialSeqsOn(docs: DataFrame): DataFrame =
    // chars are [a-z] by the tokenizer, so '|' is free to delimit
    vocabOn(docs)
      .withColumn("seq", regexp_replace(col("word"), "(.)", "|$1|"))

  private[graft] def initialSeqs(spark: SparkSession, dir: String): DataFrame =
    initialSeqsOn(Tables.documents(spark, dir))

  /** Run [[BpeMerges]] rounds of pair-count → argmax → merge over the
    * vocabulary, returning the learned rules and the final
    * symbol-sequence table (`word`, `seq`, `cnt`).
    */
  private def learnOn(docs: DataFrame): (Seq[BpeRule], DataFrame) = {
    // reused by every round's pair count AND re-read by the merge —
    // without the persist each round would re-run the corpus scan
    var seqs = initialSeqsOn(docs).persist()
    val rules = (1 to BpeMerges).map { r =>
      val best = pairCounts(seqs)
        .orderBy(col("pc").desc, col("t1"), col("t2"))
        .limit(1)
        .head() // O(1) model state per round, like a k-means centroid set
      val (t1, t2, pc) = (best.getString(0), best.getString(1), best.getLong(2))
      val merged = seqs.withColumn("seq",
        replace(col("seq"), lit(s"|$t1||$t2|"), lit(s"|$t1$t2|"))).persist()
      // materialize the child FROM the parent's cache before dropping
      // it — unpersisting first re-derives every later round from the
      // corpus scan (8 scans instead of 1; the 400k probe paid 4.7×)
      merged.count()
      seqs.unpersist()
      seqs = merged
      BpeRule(r.toLong, t1, t2, pc)
    }
    (rules, seqs)
  }

  /** The learned merge table: one row per round — the tokenizer's
    * model artifact (round, pair, merged symbol, corpus pair count).
    */
  def bpeMergesOn(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val (rules, seqs) = learnOn(docs)
    seqs.unpersist()
    mergesFrom(rules.toDF())
  }

  private def mergesFrom(rules: DataFrame): DataFrame =
    rules
      .select(col("merge_round"), col("t1"), col("t2"),
        concat(col("t1"), col("t2")).as("merged"), col("pair_count"))
      .orderBy(col("merge_round"))

  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    mergesFrom(materializedBpeModel(spark, dir)._1)

  /** Trained model (rules + final sequence table) materialized once
    * per (session, corpus): q_bpe_merges, q_bpe_tokenize AND the
    * streaming deploy ([[learnRules]]) all need the same [[learnOn]]
    * output, and until round 16 each re-ran the full training loop —
    * the q_knn_graph_auto double-build shape, paid three times.
    * Training is deterministic (exact long counts, total-order argmax
    * tie-break), so the read-back is value-identical to retraining
    * and every consumer stays under its oracle.
    */
  private[graft] def materializedBpeModel(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val root = graft.sources.Scratch.corpusDir(spark, "bpe_model", dir)
    val rulesPath = s"$root/rules"
    val seqsPath = s"$root/seqs"
    graft.sources.Scratch.materializeOnce(spark, root) {
      val (rules, seqs) = learnOn(Tables.documents(spark, dir))
      // the final seq table is still persisted from the last round —
      // the write drains cached blocks, not a retrain
      seqs.write.mode("overwrite").parquet(seqsPath)
      seqs.unpersist()
      rules.toDF().write.mode("overwrite").parquet(rulesPath)
    }
    (spark.read.parquet(rulesPath), spark.read.parquet(seqsPath))
  }

  /** Apply the learned merges corpus-wide: per-document word and
    * BPE-token counts. The application is one corpus scan joined to
    * the vocabulary's final token counts — the word→n_tokens map is a
    * broadcast dimension (vocabulary-bounded; at real scale this is
    * the classic big-fact × dim-table shape).
    */
  def bpeTokenizeOn(spark: SparkSession, docs: DataFrame): DataFrame = {
    val (_, seqs) = learnOn(docs)
    val out = tokenizeWith(seqs, docs)
      // force while the final seq table is still cached (the BM25
      // try/finally pattern), then release the cache
      .localCheckpoint()
    seqs.unpersist()
    out
  }

  private def tokenizeWith(seqs: DataFrame, docs: DataFrame): DataFrame = {
    val tokCounts = seqs.select(col("word"),
      size(split(trim(col("seq"), "|"), "\\|\\|")).cast("long").as("n_tok"))
    val docWords = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("word"))
    docWords.join(broadcast(tokCounts), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  def bpeTokenize(spark: SparkSession, dir: String): DataFrame =
    // model read-back is a vocabulary-sized FileScan — no cache dance
    tokenizeWith(materializedBpeModel(spark, dir)._2,
      Tables.documents(spark, dir))

  /** Hand back just the learned rules — the "deploy the tokenizer"
    * entry point for streaming application (reads the shared model).
    */
  def learnRules(spark: SparkSession, dir: String): Seq[BpeRule] = {
    import spark.implicits._
    materializedBpeModel(spark, dir)._1.as[BpeRule]
      .collect().sortBy(_.merge_round).toSeq
  }

  /** Column expression applying learned merges to ONE lowercased word:
    * render the per-token-delimited sequence, then fold the rules in
    * order as plain `replace`s — a pure scalar function of (word,
    * rules), so it runs anywhere a projection runs (including a
    * stateless streaming map with the rules inlined as literals).
    */
  def applyMergesExpr(word: org.apache.spark.sql.Column,
                      rules: Seq[BpeRule]): org.apache.spark.sql.Column =
    rules.foldLeft(regexp_replace(word, "(.)", "|$1|")) { (c, rule) =>
      replace(c, lit(s"|${rule.t1}||${rule.t2}|"), lit(s"|${rule.t1}${rule.t2}|"))
    }

  /** Token count of one word under the learned merges (long). */
  def tokenCountExpr(word: org.apache.spark.sql.Column,
                     rules: Seq[BpeRule]): org.apache.spark.sql.Column =
    size(split(trim(applyMergesExpr(word, rules), "|"), "\\|\\|")).cast("long")
}
