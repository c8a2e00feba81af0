package graft.operators

import graft.functions.TextFunctions._
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Text-analysis surface over the documents table: the reference's
  * word-count application generalized (word_count.ex:3-13), plus the
  * LLM-pipeline text operators (quality scoring, language ID, token
  * counting, fingerprinting). All tokenization uses the reference's
  * `[^a-zA-Z]` delimiter semantics via [[graft.functions.TextFunctions]].
  */
object TextAnalysis {

  /** THE reference query: word count with the exact semantics of
    * lib/mr_apps/word_count.ex:3-13 — split on non-letters, drop
    * empties, uppercase, count per word — over the documents corpus.
    * Plan shape: scan → generate(explode) → partial agg → shuffle →
    * final agg → sort; the partial aggregation is the map-side combine
    * of the MapReduce paper §4.3.
    */
  def wordCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(upperTokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("word"))

  /** Inverted index (MapReduce paper §2.3 application #5): distinct
    * word → document postings, exploded to scalar rows.
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(upperTokens(col("text"))).as("word"))
      .distinct()
      .orderBy(col("word"), col("doc_id"))

  /** Token counting: whitespace tokens and a BPE-ish regex token count
    * (letters runs / digit runs / single punctuation), per source.
    */
  /** BPE-ish pre-tokenizer classes: letter runs, digit runs, or single
    * non-space punctuation — the shape of a byte-pair-encoding
    * pre-split (a real tokenizer would then merge within these).
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("source"),
        size(tokens(col("text"))).as("n_words"),
        size(filter(split(col("text"), "\\s+"), t => length(t) > 0)).as("n_ws"),
        regexp_count(col("text"), lit(BpeTokenPattern)).as("n_bpe"))
      .groupBy(col("source"))
      .agg(
        sum(col("n_words")).as("total_words"),
        sum(col("n_ws")).as("total_ws_tokens"),
        sum(col("n_bpe")).as("total_bpe_tokens"),
        round(avg(col("n_words")), 4).as("avg_words_per_doc"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("source"))

  /** Linear quality-classifier decision threshold: 3.2 in 2^20
    * fixed-point (calibrated to the fixture median so the keep flag
    * splits the corpus non-trivially).
    */
  val QualityModelThresholdFp = 3355443L

  /** Model-BASED quality filtering — the fastText-classifier stage of
    * a CCNet-style pipeline, distinct from [[textQuality]]'s raw
    * features and [[corpusFilter]]'s rule cascade: a linear scorer
    * with fixed interpretable weights
    *   score = 3·stopword_ratio + 2·alpha_ratio + 2·unique_token_ratio
    *           + mean_word_len/10,
    * keep ⇔ score > 3.2. (A trained model would ship learned weights;
    * the dataflow — per-doc featurize → dot with a broadcast-constant
    * weight vector → threshold — is identical, map-only, no shuffle.)
    *
    * Exactness: each FEATURE quantizes to 2^20 fixed-point right after
    * its division(s) (identical IEEE trees on both engines), then the
    * weighted sum and the threshold compare are integer arithmetic —
    * the linear model crosses the gate as exact longs.
    */
  def qualityModel(spark: SparkSession, dir: String): DataFrame =
    qualityModelOn(Tables.documents(spark, dir))

  def qualityModelOn(docs: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val fp = (c: org.apache.spark.sql.Column) => round(c * lit(1048576.0)).cast("long")
    val nToks = greatest(size(col("toks")), lit(1))
    val alphaChars = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
    val swr = size(filter(col("toks"), t => t.isInCollection(stop))).cast("double") / nToks
    val alpha = alphaChars / greatest(length(col("text")), lit(1))
    val uniq = size(array_distinct(col("toks"))).cast("double") / nToks
    val mwl10 = (alphaChars / nToks) / lit(10)
    val scoreFp = lit(3) * col("swr_fp") + lit(2) * col("alpha_fp") +
      lit(2) * col("uniq_fp") + col("mwl_fp")
    docs
      .select(col("doc_id"), col("text"),
        transform(tokens(col("text")), t => lower(t)).as("toks"))
      .select(col("doc_id"), fp(swr).as("swr_fp"), fp(alpha).as("alpha_fp"),
        fp(uniq).as("uniq_fp"), fp(mwl10).as("mwl_fp"))
      .select(col("doc_id"), scoreFp.as("score_fp"),
        (scoreFp.cast("double") / lit(1048576.0)).as("score"),
        (scoreFp > lit(QualityModelThresholdFp)).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: length, mean word length, stopword ratio,
    * alpha-character ratio — the standard cheap pre-filters of an LLM
    * data pipeline, one scan, no shuffle until the final sort.
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("text_len"),
        size(toks).cast("long").as("n_words"),
        round(
          size(filter(toks, t => lower(t).isInCollection(stop))).cast("double") /
            greatest(size(toks), lit(1)), 4).as("stopword_ratio"),
        round(
          length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
            greatest(length(col("text")), lit(1)), 4).as("alpha_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic language ID: stopword-list hits per candidate language,
    * argmax with deterministic tie-break on language name. The lists
    * are tiny n-gram/stopword heuristics — the real discriminator at
    * scale would be a fastText-style model; the dataflow (per-doc
    * scoring, no shuffle) is identical.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val langs: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "of", "and", "to", "is"),
      "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
      "es" -> Seq("el", "la", "de", "y", "es", "un"),
      "fr" -> Seq("le", "la", "de", "et", "est", "un"))
    val toks = transform(tokens(col("text")), t => lower(t))
    val scored = langs.foldLeft(Tables.documents(spark, dir).select(col("doc_id"), col("text"))) {
      case (df, (l, words)) =>
        df.withColumn(s"hits_$l",
          size(filter(toks, t => t.isInCollection(words))))
    }
    val best = langs.map { case (l, _) => struct(col(s"hits_$l").as("h"), lit(l).as("l")) }
    scored
      .select(col("doc_id"),
        greatest(best: _*).getField("l").as("pred_lang"),
        greatest(best: _*).getField("h").cast("long").as("hits"))
      .orderBy(col("doc_id"))
  }

  // PII redaction patterns — valid and equivalent in BOTH Java regex
  // (Spark codegen regexp_replace/regexp_count) and RE2 (the DuckDB
  // oracle): no backreferences, no lookaround.
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\(\\d{3}\\) \\d{3}-\\d{4}"
  private[graft] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction — the standard curation scrub stage (emails, phone
    * numbers, IPv4 addresses → typed placeholder tokens) plus per-doc
    * redaction counts for audit. The synthetic corpus is letters-only,
    * so deterministic synthetic PII derived from doc_id is injected
    * first (email always; phone on doc_id % 3 = 0; IP on doc_id % 2 =
    * 0) — the oracle performs the identical injection, so the gate's
    * hash match proves the regex REDACTION semantics byte-for-byte on
    * text that actually contains matches. Map-only: per-row codegen'd
    * regexp work, no shuffle — at 100 TB this pass rides the same scan
    * as any other per-document transform.
    */
  def redactPii(spark: SparkSession, dir: String): DataFrame = {
    val injected = concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" call (555) 010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string")))
        .otherwise(lit("")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), injected.as("raw"))
      .select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>").as("redacted"),
        regexp_count(col("raw"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_count(col("raw"), lit(Ipv4Re)).cast("long").as("n_ips"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF: top-3 terms per document by (tf/len)·ln(N/df). The whole
    * pipeline is three keyed aggregations (term counts, doc lengths,
    * document frequencies) plus one scalar N — each a single shuffle
    * with map-side partial aggregation; no driver-side collection (N
    * rides along as a broadcast 1-row cross join). Ranking orders on the
    * ROUNDED score with a term tie-break so rank boundaries cannot flip
    * on a last-ulp ln() difference between engines.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tok = docs.select(col("doc_id"),
      explode(transform(tokens(col("text")), t => lower(t))).as("word"))
    val tf = tok.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
    val docLen = tf.groupBy(col("doc_id")).agg(sum(col("cnt")).as("tot"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count_distinct(col("doc_id")).as("n_docs"))
    val score = round(
      (col("cnt").cast("double") / col("tot")) *
        log(col("n_docs").cast("double") / col("df")), 6)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word"))
    tf.join(docLen, "doc_id")
      .join(dfreq, "word")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("word"), score.as("tfidf"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Word bigram counts (lowercased reference tokens) — the n-gram
    * generalization of word count; the shuffle key is the bigram, with
    * map-side combine as usual.
    */
  def wordBigrams(spark: SparkSession, dir: String): DataFrame = {
    // Bind the token array to a real column FIRST: referencing the
    // tokenizer expression inside the pairing lambda would re-tokenize
    // the document once per element (HOFs inline their argument
    // expressions; O(tokens²) regex work per doc).
    // sequence(1, 0) yields a DESCENDING [1,0] in Spark, not empty —
    // guard docs with <2 tokens explicitly.
    val positions = when(size(col("toks")) >= 2,
      sequence(lit(1), size(col("toks")) - 1))
      .otherwise(array().cast("array<int>"))
    val bigrams = transform(positions,
      i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1)))
    Tables.documents(spark, dir)
      .select(transform(tokens(col("text")), t => lower(t)).as("toks"))
      .select(explode(bigrams).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 3)
      .orderBy(col("bigram"))
  }

  /** PMI collocation mining — which bigrams are PHRASES rather than
    * chance co-occurrences ("new york" vs "of the"): the pointwise
    * mutual information of each bigram with count ≥ 3, in LIFT (ratio)
    * form, lift = P(w1 w2) / (P(w1)·P(w2))
    *      = c_12 · N_uni² / (N_big · c_1 · c_2).
    * Lift > 1 marks genuine collocations; the flipped sort surfaces
    * glue-word pairs. The standard phrase-vocabulary induction step
    * (word2vec-phrases / tokenizer-merge mining) over a corpus.
    *
    * Gate-exact by the ratio form: counts multiply as exact longs on
    * both sides (all products < 2⁵³ at gate scale) and the score is
    * ONE correctly-rounded IEEE division — log-PMI would put libm's
    * last ulp between the engines. At 100 TB the long products
    * overflow (N_uni² alone): promote the two products to doubles
    * first (each exact until counts pass 2⁵³) and keep the single
    * division; the ordering this operator exists for is unaffected.
    *
    * Scale shape: tokenize once, feed BOTH count aggregations (narrow
    * recompute — same measured trade as [[lmTypicalityOn]]'s unpersisted
    * pipeline); unigram and bigram counts are map-side-combined
    * shuffles on their keys; the scoring join keys the count-≥3
    * survivors (vocabulary-sized, not corpus-sized) against the
    * unigram table twice; the two grand totals broadcast as one row.
    */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame =
    pmiCollocationsOn(Tables.documents(spark, dir))

  def pmiCollocationsOn(docs: DataFrame): DataFrame = {
    val positions = when(size(col("toks")) >= 2,
      sequence(lit(1), size(col("toks")) - 1))
      .otherwise(array().cast("array<int>"))
    val pairsArr = transform(positions,
      i => struct(element_at(col("toks"), i).as("w1"),
        element_at(col("toks"), i + 1).as("w2")))
    val toksDf = docs
      .select(transform(tokens(col("text")), t => lower(t)).as("toks"))
    val uni = toksDf.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val pairs = toksDf.select(explode(pairsArr).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_cnt"))
    // both grand totals derive from the unigram/pair tables (tiny
    // relative to the corpus), not from a third corpus scan
    val totals = uni.agg(sum(col("cnt")).as("n_uni"))
      .crossJoin(pairs.agg(sum(col("pair_cnt")).as("n_big")))
    pairs.filter(col("pair_cnt") >= 3)
      .join(uni.select(col("tok").as("w1"), col("cnt").as("cnt_w1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("cnt").as("cnt_w2")), "w2")
      .crossJoin(broadcast(totals))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
        col("pair_cnt"),
        ((col("pair_cnt") * col("n_uni") * col("n_uni")).cast("double") /
          (col("n_big") * col("cnt_w1") * col("cnt_w2")).cast("double")).as("lift"))
      .orderBy(col("bigram"))
  }

  /** Corpus-statistics quality score — the STATISTICAL member of the
    * quality-filter family (q_text_quality is heuristic ratios, this is
    * a bigram language model fit to the corpus itself): for every
    * document, how typical its word sequences are of the corpus,
    * measured as the mean corpus frequency of its bigrams. Gibberish
    * and OCR noise sink (their bigrams appear nowhere else); templated
    * boilerplate tops the flipped sort — both standard pre-training
    * screens.
    *
    * Gate-exact by construction: counts and their per-doc sums are
    * integers (order-independent in every engine) and the one double
    * is a single division, exactly rounded IEEE in both Spark and
    * DuckDB — no log/exp whose libm last-ulp could diverge.
    *
    * Scale shape: the bigram vocabulary is a groupBy with map-side
    * combine; the per-doc score is one join of (doc_id, bigram) against
    * it keyed on the bigram. Keys stay strings here for oracle
    * portability; at 100 TB ride rolling-hash longs instead (the
    * decontamination trick) and the plan is two narrow hash shuffles.
    */
  def lmTypicality(spark: SparkSession, dir: String): DataFrame =
    lmTypicalityOn(Tables.documents(spark, dir))

  /** Operator form over any (doc_id, text) relation. checkpoint=false
    * exists for plan audits only (the checkpointed plan is a bare RDD
    * scan that hides the dataflow under audit).
    */
  def lmTypicalityOn(docs: DataFrame, checkpoint: Boolean = true): DataFrame = {
    val positions = when(size(col("toks")) >= 2,
      sequence(lit(1), size(col("toks")) - 1))
      .otherwise(array().cast("array<int>"))
    val bigrams = transform(positions,
      i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1)))
    // NOT persisted: both consumers re-derive the narrow tokenize →
    // bigram-explode pipeline, which stays fused in codegen and
    // pipelines into each branch's shuffle — same measured trade as
    // decontaminationWith (persisting the corpus-scale exploded rows
    // costs more than computing them twice; at 100 TB the cache would
    // spill an exploded corpus copy to executor disks)
    val docBigrams = docs
      .select(col("doc_id"),
        transform(tokens(col("text")), t => lower(t)).as("toks"))
      .select(col("doc_id"), explode(bigrams).as("bigram"))
    locally {
      val vocab = docBigrams.groupBy(col("bigram"))
        .agg(count(lit(1)).as("cnt"))
      val scored = docBigrams.join(vocab, "bigram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("cnt")).as("freq_sum"))
        .select(col("doc_id"), col("n_bigrams"), col("freq_sum"),
          (col("freq_sum").cast("double") / col("n_bigrams").cast("double"))
            .as("avg_freq"))
      // materialize the tiny per-doc result so downstream consumers
      // don't re-run the corpus passes
      (if (checkpoint) scored.localCheckpoint() else scored)
        .orderBy(col("doc_id"))
    }
  }

  /** Exact heavy hitters (words with frequency ≥ 1% of all tokens) via
    * the two-pass sketch pattern: pass 1 runs a Misra-Gries summary
    * (200 counters; guarantees a SUPERSET of every item above n/200 —
    * no false negatives) as a mergeable typed Aggregator; pass 2
    * exactly counts only the broadcast candidates and applies the true
    * threshold. Result is EXACT — the oracle is a plain HAVING query —
    * but pass 1 never shuffles more than 200 counters per partition,
    * the shape that replaces a full groupBy over a huge key space when
    * only the head matters.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    import graft.functions.TypedAggregators.MisraGries
    val words = Tables.documents(spark, dir)
      .select(explode(upperTokens(col("text"))).as("word")).as[String]
    val candidates = words.groupByKey(_ => true)
      .agg(new MisraGries(200).toColumn.name("cands"))
      .flatMap(_._2).toDF("word")
    // Pass 2 fuses the exact candidate counts AND the corpus total into
    // ONE scan: non-candidate tokens collapse onto a single null key, so
    // the shuffle carries ≤ 201 keys after map-side combine and the
    // total is the sum over that tiny aggregate (a global window over
    // ≤ 201 rows — not over the corpus).
    val counts = words.toDF("word")
      .join(broadcast(candidates.withColumn("is_cand", lit(true))), Seq("word"), "left")
      .groupBy(when(col("is_cand"), col("word")).as("cword"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy()))
      .filter(col("cword").isNotNull &&
        col("cnt").cast("double") >= col("total") * 0.01)
      .select(col("cword").as("word"), col("cnt"))
      .orderBy(col("word"))
  }

  /** The reference's LITERAL input surface, driver-graded: word count
    * over the text-file directory the reference itself processes
    * (master.ex:112-120 lists the dir, worker.ex:105-111 reads files,
    * word_count.ex:3-13 tokenizes). Reads the line-oriented splittable
    * form ([[graft.sources.TextSources.lines]]) — newline is a
    * `[^a-zA-Z]` delimiter, so per-line tokenization equals whole-file
    * tokenization. The sf dir parameter is unused: this is a fixed
    * source-surface query (the corpus does not scale with sf).
    */
  val ReferenceCorpusDir = "/root/reference/priv/resources"

  def textDirWordCount(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TextSources.lines(spark, ReferenceCorpusDir)
      .select(explode(upperTokens(col("line"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("word"))

  /** Per-file corpus stats over the WHOLE-FILE read path (the exact
    * shape the reference mapper receives, worker.ex:105-111): token
    * count, distinct vocabulary, longest token per file.
    */
  def textDirStats(spark: SparkSession, dir: String): DataFrame =
    graft.sources.TextSources.wholeFiles(spark, ReferenceCorpusDir)
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
        explode(upperTokens(col("content"))).as("word"))
      .groupBy(col("fname"))
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("word")).as("n_distinct"),
        max(length(col("word"))).cast("long").as("max_word_len"))
      .orderBy(col("fname"))

  /** Repetition scoring (the Gopher/MassiveText duplicate-n-gram
    * filter): fraction of repeated word 4-grams per document — a high
    * ratio flags boilerplate/looping text that an LLM pipeline drops.
    * One narrow pass (array ops per row, no shuffle until the sort).
    * The ratio is emitted as the raw IEEE division (no round()):
    * identical arithmetic in the oracle makes it bit-stable.
    */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame = {
    val positions = when(size(col("toks")) >= 4,
      sequence(lit(1), size(col("toks")) - 3))
      .otherwise(array().cast("array<int>"))
    val grams = transform(positions, i => concat_ws(" ",
      element_at(col("toks"), i), element_at(col("toks"), i + 1),
      element_at(col("toks"), i + 2), element_at(col("toks"), i + 3)))
    Tables.documents(spark, dir)
      .select(col("doc_id"), transform(tokens(col("text")), t => lower(t)).as("toks"))
      .select(col("doc_id"), grams.as("grams"))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct"))
      .withColumn("dup_frac",
        (col("n_grams") - col("n_distinct")).cast("double") /
          greatest(col("n_grams"), lit(1L)))
      .orderBy(col("doc_id"))
  }

  /** Composite corpus-curation filter: every document classified
    * keep-or-reject with its FIRST failing rule (fixed precedence, the
    * C4/Gopher-style filter cascade of a training-data pipeline):
    * too_short (< 30 words) → low_alpha (alphabetic chars < 81% —
    * markup/numeric debris) → low_stopword (stopwords < 2% of tokens —
    * non-prose) → repetitive (duplicated 4-grams > 1%) → keep. One
    * narrow per-row pass, no shuffle until the output sort; thresholds
    * compare RAW double ratios (identical IEEE division in both
    * engines), never rounded ones.
    */
  def corpusFilter(spark: SparkSession, dir: String): DataFrame =
    corpusReasons(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_words"), col("reason"))
      .orderBy(col("doc_id"))

  /** The corpus-filter decision WITH the document text still in flight
    * (doc_id, text, n_words, reason) — the form a downstream pipeline
    * stage consumes (keep-docs feed dedup/decontamination/packing
    * without re-joining the corpus scan). [[corpusFilter]] is its
    * graded projection.
    */
  private[graft] def corpusReasons(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val positions = when(size(col("ltoks")) >= 4,
      sequence(lit(1), size(col("ltoks")) - 3))
      .otherwise(array().cast("array<int>"))
    val grams = transform(positions, i => concat_ws(" ",
      element_at(col("ltoks"), i), element_at(col("ltoks"), i + 1),
      element_at(col("ltoks"), i + 2), element_at(col("ltoks"), i + 3)))
    docs
      .select(col("doc_id"), col("text"), toks.as("toks"),
        transform(toks, t => lower(t)).as("ltoks"))
      .select(col("doc_id"), col("text"), col("toks"), grams.as("grams"))
      .select(
        col("doc_id"),
        col("text"),
        size(col("toks")).cast("long").as("n_words"),
        when(size(col("toks")) < 30, "too_short")
          .when(length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
            greatest(length(col("text")), lit(1)) < 0.81, "low_alpha")
          .when(size(filter(col("toks"), t => lower(t).isInCollection(stop))).cast("double") /
            greatest(size(col("toks")), lit(1)) < 0.02, "low_stopword")
          .when((size(col("grams")) - size(array_distinct(col("grams")))).cast("double") /
            greatest(size(col("grams")), lit(1)) > 0.01, "repetitive")
          .otherwise("keep").as("reason"))
  }

  /** Token-budget sequence packing: assign documents to fixed-budget
    * training sequences by exclusive running token count, packed WITHIN
    * deterministic shards (packing is inherently sequential, so the
    * scalable form shards first — each shard's window sorts only its
    * own slice; no global single-partition window). A document starting
    * inside budget-window k joins sequence k; re-runs and re-shards
    * reproduce the same packing because shard and order derive from
    * doc_id alone. Returns per-sequence stats.
    */
  def packSequences(spark: SparkSession, dir: String,
                    budget: Int = 2048, shards: Int = 8): DataFrame =
    packSequencesOn(Tables.documents(spark, dir), budget, shards)

  /** Operator form over any (doc_id, text) relation — what a curation
    * pipeline calls on its CLEANED corpus, not the raw table. Sharding
    * derives from doc_id alone, so it is insensitive to the id gaps a
    * filtered corpus has.
    */
  def packSequencesOn(docs: DataFrame,
                      budget: Int = 2048, shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum_excl", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("seq_id", floor(col("cum_excl") / budget).cast("long"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("shard"), col("seq_id"))
  }

  /** Fixed-window chunking with stride: every document's token stream
    * cut into `size`-token chunks starting every `stride` tokens
    * (overlap = size - stride) — the standard context-window prep step
    * between cleaning and packing (overlapping windows preserve
    * cross-boundary context; dedup-by-chunk-hash then drops the
    * redundant tails). Entirely narrow per-row work (sequence + slice
    * over the bound token array — one generate, no shuffle until the
    * output sort); chunk identity is the portable rolling hash so a
    * downstream exact-dedup over chunks shuffles 8-byte keys.
    */
  def chunkDocuments(spark: SparkSession, dir: String,
                     chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(stride >= 1 && chunkSize >= stride,
      s"bad chunk geometry ($chunkSize, $stride)")
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // one start per stride step; greatest(...) guards the empty doc
      // (sequence(1, 0) yields DESCENDING [1, 0], not empty)
      .withColumn("start",
        explode(sequence(lit(1), greatest(size(col("toks")), lit(1)), lit(stride))))
      // chunk identity = TWO independent polynomials (~60-bit composite;
      // one 30-bit hash alone would silently report distinct-content
      // chunks as copies at the 10^8-chunk scale — birthday collisions
      // neither engine could catch since both compute the same hash)
      .select(col("doc_id"),
        ((col("start") - 1) / stride).cast("long").as("chunk_idx"),
        size(slice(col("toks"), col("start"), lit(chunkSize))).cast("long").as("n_tokens"),
        rollingFingerprint(concat_ws(" ", slice(col("toks"), col("start"), lit(chunkSize))))
          .as("chunk_hash"),
        rollingFingerprint2(concat_ws(" ", slice(col("toks"), col("start"), lit(chunkSize))))
          .as("chunk_hash2"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Document fingerprinting: (a) md5-based 32-bit content fingerprint
    * (engine-portable, oracle-checked) and (b) rolling polynomial hash
    * computed with the higher-order aggregate builtin.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5Hash32(normalized(col("text"))).as("fp_md5"),
        rollingFingerprint(col("text")).as("fp_rolling"))
      .orderBy(col("doc_id"))

  /** Winnowing parameters (Schleimer et al. 2003, the MOSS selection):
    * k-gram size [[WinnowK]] and window [[WinnowW]] guarantee that any
    * shared substring of ≥ WinnowW + WinnowK − 1 characters between
    * two documents shares at least one selected fingerprint, while the
    * expected density is 2/(WinnowW+1) of positions — the sublinear
    * fingerprint index the stride-1 substring machinery trades
    * completeness for.
    */
  val WinnowK = 8
  val WinnowW = 8

  /** Robust-winnowing fingerprint selection: per position the k-gram
    * rolling hash (ONE Rabin-Karp pass —
    * [[graft.functions.TextFunctions.rollingWindowFingerprint]]), then
    * each length-[[WinnowW]] window of consecutive hashes selects its
    * minimum, RIGHTMOST on ties (min over struct(h, −pos), the robust
    * rule that keeps the expected density at 2/(W+1) instead of
    * re-selecting on every slide), deduplicated. Output
    * (doc_id, pos, fp) is the standard sublinear near-dup index: at
    * corpus scale only the winnowed ~2n/(W+1) keys enter the
    * dedup/index shuffles instead of every position, and the selection
    * itself is one per-doc window pass over codegen-hashed longs.
    * Fully deterministic → full oracle gate.
    */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprintsOn(Tables.documents(spark, dir))

  def winnowFingerprintsOn(docs: DataFrame): DataFrame =
    winnowSelect(docs).orderBy(col("doc_id"), col("pos"))

  /** The selection without the presentation sort — [[winnowPairsOn]]
    * consumes this (a sort feeding straight into distinct/joins is
    * wasted work). Winnowing is a pure PER-DOCUMENT function, so the
    * whole selection runs as a stateless map: one Rabin-Karp pass for
    * the hashes, one monotonic-deque pass for the rightmost-window-min
    * positions ([[org.apache.spark.sql.graft.ArrayMathExpressions
    * .WinnowSelectExpr]] — O(n), codegen, already-distinct output) —
    * no shuffle at all before the consumer; the DuckDB oracle proves
    * the deque against the per-window struct-min re-derivation.
    */
  private def winnowSelect(docs: DataFrame): DataFrame = {
    val k = WinnowK
    val w = WinnowW
    docs
      .filter(length(col("text")) >= k + w - 1) // at least one full window
      .select(col("doc_id"),
        graft.functions.TextFunctions.rollingWindowFingerprint(col("text"), k).as("hs"))
      .select(col("doc_id"), col("hs"),
        explode(org.apache.spark.sql.graft.ArrayMathExpressions
          .winnowSelectCol(col("hs"), w)).as("pos"))
      .select(col("doc_id"), col("pos"),
        element_at(col("hs"), col("pos").cast("int")).as("fp"))
  }

  /** [[winnowPairsOn]]'s bounds: fingerprints appearing in more than
    * [[WinnowMaxDf]] documents are dropped before pairing (MOSS's
    * common-code elimination — corpus-wide boilerplate grams would
    * otherwise fan into df² pairs per key); a pair reports when its
    * distinct shared fingerprints cover ≥ [[WinnowOverlapPct]]% of the
    * SMALLER document's fingerprint set (containment — scale-free
    * where a raw shared count is corpus-density-dependent: on this
    * fixture background pairs sit at ~6% containment, planted
    * near-dups above 50%), with [[WinnowMinShared]] as the tiny-doc
    * floor.
    */
  val WinnowMaxDf = 50
  val WinnowMinShared = 3
  val WinnowOverlapPct = 50

  /** MOSS-style match detection over the winnowed index: document
    * pairs whose distinct shared fingerprints contain ≥ half of the
    * smaller side's fingerprint set — the decision layer over
    * [[winnowFingerprintsOn]], and the fourth near-dup family next to
    * MinHash set-resemblance, embedding cosine, and lexical tf-cosine
    * (winnowing matches LOCALIZED verbatim runs ≥ W+k−1 chars, which
    * set-level resemblance dilutes away on long documents). Scale
    * shape: pair enumeration happens only inside a fingerprint's
    * posting list, df-capped at [[WinnowMaxDf]] — ≤ C(df,2) pairs per
    * key, the bounded inverted-index join every plagiarism/near-dup
    * service runs — over an index that is already only ~2/(W+1) of
    * corpus positions; the per-doc size table joins the (already
    * aggregated) pair counts, never the postings.
    */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairsOn(Tables.documents(spark, dir))

  def winnowPairsOn(docs: DataFrame): DataFrame = {
    // four consumers (df filter, both self-join sides, sizes) — the
    // winnowed index is the ~2/(W+1)-density artifact a service
    // materializes anyway, so checkpoint it once instead of replaying
    // the explode + window selection per branch
    val (fps, sizes, dfq) = winnowIndexOf(docs)
    winnowPairsFromIndex(fps, sizes, dfq)
  }

  /** The MOSS pair chain over an EXPLICIT index triple — the shared
    * tail of the full build ([[winnowPairsOn]]) and the retracted
    * index ([[retractWinnowPairs]]): both run the identical df-cap +
    * posting-list join + containment rule, which is why the retraction
    * entry shares the full entry's oracle over the surviving docs.
    */
  private def winnowPairsFromIndex(fps: DataFrame, sizes: DataFrame,
      dfq: DataFrame): DataFrame = {
    val keepKeys = dfq
      .filter(col("df") >= 2 && col("df") <= WinnowMaxDf)
      .select(col("fp"))
    val kept = fps.join(keepKeys, Seq("fp"), "left_semi")
    val shared = kept.select(col("fp"), col("doc_id").as("id_a"))
      .join(kept.select(col("fp"), col("doc_id").as("id_b")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
    // exact long arithmetic for the threshold (100·shared ≥ pct·min);
    // the reported containment double is one correctly-rounded
    // division on identical inputs in both engines
    shared
      .join(sizes.select(col("doc_id").as("id_a"), col("n_fps").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_fps").as("nb")), "id_b")
      .filter(col("n_shared") * 100 >= least(col("na"), col("nb")) * WinnowOverlapPct)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("n_shared").cast("double") / least(col("na"), col("nb")).cast("double"))
          .as("containment"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** RETRACTION — winnow-index maintenance under DELETION (the
    * [[graft.operators.Retrieval.retractBm25]] discipline on the
    * fingerprint family): a tombstone id set is removed from the
    * stored (postings, sizes, df) triple with NO text read — postings
    * and sizes drop by anti-join, df subtracts the deleted docs' own
    * posting counts (derived from the stored postings restricted to
    * the tombstones — negative word-keyed delta-apply). A fingerprint
    * whose union df falls back INTO the kept range (base df 51,
    * deletions bring it to ≤ 50) correctly re-enters pair enumeration,
    * and one falling below 2 correctly leaves — both drifts are the
    * rebuild's own values, so the retracted index scores EQUAL a full
    * rebuild over corpus-minus-tombstones and the graded entry shares
    * q_winnow_pairs' oracle over the surviving docs. Fixture
    * tombstones: stored doc_ids ≡ 7 (mod 10).
    */
  def retractWinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val root = ensureWinnowIndex(spark, dir, docs)
    val sizes = graft.sources.Scratch.readParquetOnce(spark, s"$root/sizes")
    retractWinnowPairsFrom(graft.sources.Scratch.readParquetOnce(spark, s"$root/postings"),
      sizes, graft.sources.Scratch.readParquetOnce(spark, s"$root/df"),
      sizes.filter(col("doc_id") % 10 === 7).select(col("doc_id")))
  }

  /** The retraction body on explicit stored tables — exposed so the
    * spec can prove retracted == rebuilt on arbitrary tombstone sets.
    */
  private[graft] def retractWinnowPairsFrom(basePost: DataFrame,
      baseSizes: DataFrame, baseDf: DataFrame,
      tombstones: DataFrame): DataFrame = {
    val tomb = tombstones.toDF("doc_id").localCheckpoint()
    val deadPost = basePost.join(tomb, Seq("doc_id"), "left_semi")
    val fps = basePost.join(tomb, Seq("doc_id"), "left_anti")
    val sizes = baseSizes.join(tomb, Seq("doc_id"), "left_anti")
    // negative delta-apply; fully-dead fingerprints drop (df = 0 rows
    // exist in no rebuild), keeping retracted == rebuilt table-for-table
    val dfq = baseDf
      .unionByName(deadPost.groupBy(col("fp"))
        .agg((-count(lit(1))).as("df")))
      .groupBy(col("fp")).agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)
    winnowPairsFromIndex(fps, sizes, dfq)
  }

  /** INCREMENTAL winnow near-dup — [[winnowPairsOn]]'s daily-ingest
    * form, the fingerprint family's delta (fourth and last near-dup
    * family to get one, after MinHash, media hashes, and substring):
    * prior ingests persist the winnowed index a service materializes
    * anyway — the (doc_id, fp) postings, per-doc fingerprint counts,
    * and the per-fp document frequencies — and a new batch asks which
    * pairs TOUCHING IT clear the MOSS containment rule. Existing-vs-
    * existing pairs are never re-enumerated.
    *
    * Exactness: a pair touching the batch can only share fingerprints
    * the batch side holds, so the df-cap decision needs union df ONLY
    * for the batch's fingerprints — maintained by one delta-apply
    * (df_union = stored df + batch df, the q_delta_bm25 merge shape on
    * the winnow index). A fingerprint pushed PAST [[WinnowMaxDf]] by
    * the batch correctly drops out of every reported pair, and one
    * pulled INTO the kept range (stored df 1, union 2) correctly
    * enters — both drifts are the full recompute's own values, so the
    * output EQUALS [[winnowPairsOn]] over the whole corpus restricted
    * to batch-touching pairs (oracle = the full chain + the
    * q_delta_dedup restriction; spec pins the algebra on an arbitrary
    * mod-3 split, not just the fixture rule).
    *
    * Scale shape: per-ingest work is the batch's map-only winnow
    * selection, a batch-keyed df aggregate, and df-capped posting
    * joins — the batch's kept keys probe the stored postings through
    * a size-driven join (at 100 TB the postings are bucketed by fp,
    * so the probe prunes to the batch vocabulary, and a small probe
    * vocabulary broadcasts on its measured size — never forced: with
    * the md5 rule the batch is corpus-proportional); pair enumeration stays inside
    * ≤ [[WinnowMaxDf]] posting lists. The stored tables enter through
    * narrow column scans only; batch text is the only text read.
    */
  def deltaWinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val root = ensureWinnowIndex(spark, dir, docs)
    deltaWinnowPairsFrom(graft.sources.Scratch.readParquetOnce(spark, s"$root/postings"),
      graft.sources.Scratch.readParquetOnce(spark, s"$root/sizes"),
      graft.sources.Scratch.readParquetOnce(spark, s"$root/df"), docs)
  }

  /** Materialize (once per corpus) the stored winnow index triple over
    * the md5-rule base split — ONE stored index shared by the ingest
    * ([[deltaWinnowPairs]]) and retraction ([[retractWinnowPairs]])
    * lifecycle stages.
    */
  private def ensureWinnowIndex(spark: SparkSession, dir: String,
      docs: DataFrame): String = {
    val root = graft.sources.Scratch.corpusDir(spark, "winnow_index", dir)
    graft.sources.Scratch.materializeOnce(spark, root) {
      val (fps, sizes, dfq) =
        winnowIndexOf(docs.filter(!graft.operators.Dedup.deltaIsNew))
      fps.write.mode("overwrite").parquet(s"$root/postings")
      sizes.write.mode("overwrite").parquet(s"$root/sizes")
      dfq.write.mode("overwrite").parquet(s"$root/df")
    }
    root
  }

  /** Recompute-index form (specs, probes): derives the stored tables
    * inline from the md5 rule — value-identical to the stored path.
    */
  def deltaWinnowPairsOn(docs: DataFrame): DataFrame = {
    val (fps, sizes, dfq) =
      winnowIndexOf(docs.filter(!graft.operators.Dedup.deltaIsNew))
    deltaWinnowPairsFrom(fps, sizes, dfq, docs)
  }

  /** ONE derivation of the stored winnow index triple
    * (postings, per-doc sizes, per-fp df) — shared by the stored-table
    * writer and the recompute form so the spec-pinned
    * stored == recompute identity has no drift surface. The postings
    * frame is pinned: three consumers would otherwise re-run the
    * selection.
    */
  private def winnowIndexOf(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val fps = winnowSelect(docs)
      .select(col("doc_id"), col("fp")).distinct().localCheckpoint()
    (fps,
      fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps")),
      fps.groupBy(col("fp")).agg(count(lit(1)).as("df")))
  }

  /** MULTI-INGEST commit layout for the winnow index — the
    * [[graft.operators.Retrieval.delta2Bm25]] discipline on the
    * fingerprint triple: each ingest lands as its own commit directory
    * (batch postings + sizes whole-row, df as PARTIAL counts summed at
    * read); prior commits never rewritten. Fixture commits: c0 = md5
    * buckets [0,6), c1 = buckets {6,7}; buckets {8,9} arrive live.
    */
  private def ensureWinnowCommits(spark: SparkSession, dir: String,
      docs: DataFrame): String = {
    val root = graft.sources.Scratch.corpusDir(spark, "winnow_multi", dir)
    val bucket = pmod(graft.functions.TextFunctions.md5Hash32(col("text")), lit(10))
    graft.sources.Scratch.materializeOnce(spark, root) {
      // disjoint md5 splits, no dependency — concurrent builds
      // (guide §2.6; each commit alone under-fills the cores)
      graft.sources.Scratch.inParallel(
        () => writeWinnowCommit(spark, s"$root/c0", docs.filter(bucket < 6)),
        () => writeWinnowCommit(spark, s"$root/c1",
          docs.filter(bucket >= 6 && bucket < 8)))
    }
    root
  }

  private def writeWinnowCommit(spark: SparkSession, cdir: String,
      batch: DataFrame): Unit = {
    val (fps, sizes, dfq) = winnowIndexOf(batch)
    fps.write.mode("overwrite").parquet(s"$cdir/postings")
    sizes.write.mode("overwrite").parquet(s"$cdir/sizes")
    dfq.write.mode("overwrite").parquet(s"$cdir/df")
  }

  /** Union a commit list into one logical index triple (df partials
    * sum by fingerprint — docs are disjoint across commits, so each
    * partial counts distinct docs).
    */
  private def readWinnowCommits(spark: SparkSession, root: String,
      commits: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    // ONE multi-path scan per table kind (the round-22 readBm25Commits
    // treatment: a FileScan + union branch per commit re-listed and
    // re-planned N identically-shaped scans per query); commit grouping
    // is value-irrelevant (df partials are associative sums over
    // disjoint doc sets) and the probe/verify tail is join+agg with
    // total-order tie-breaks, so scan order never shows in results
    def u(sub: String): DataFrame =
      graft.sources.Scratch.readParquetMultiOnce(spark,
        commits.map(c => s"$root/$c/$sub"))
    (u("postings"), u("sizes"),
      u("df").groupBy(col("fp")).agg(sum(col("df")).as("df")))
  }

  /** COMPOUNDING — the winnow probe after TWO stored ingests plus a
    * live third: delta(delta(base, b1), b2) must find exactly the full
    * chain's batch-touching pairs, so the graded entry shares
    * q_delta_winnow_pairs' oracle verbatim (stored side covers md5
    * buckets 0–7 either way; what changed is that it now arrives as
    * two merged commits instead of one monolith).
    */
  def delta2WinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val root = ensureWinnowCommits(spark, dir, docs)
    val (fps, sizes, dfq) = readWinnowCommits(spark, root, Seq("c0", "c1"))
    deltaWinnowPairsFrom(fps, sizes, dfq, docs)
  }

  /** COMPACTION — all N winnow commits folded into ONE stored triple
    * (off the query path; values never change, only layout), then the
    * FULL MOSS chain served from the compacted index: equals the
    * whole-corpus q_winnow_pairs result, whose oracle it shares
    * verbatim — the gate certifies the fold end-to-end.
    */
  def compactWinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bucket = pmod(graft.functions.TextFunctions.md5Hash32(col("text")), lit(10))
    // c2's md5 split is disjoint from c0/c1 — build concurrently with
    // them on a cold session (corpusDir is the same root
    // ensureWinnowCommits returns; per-key memo locks keep a
    // concurrently-running delta2 coherent)
    val root = graft.sources.Scratch.corpusDir(spark, "winnow_multi", dir)
    graft.sources.Scratch.inParallel(
      () => { ensureWinnowCommits(spark, dir, docs); () },
      () => graft.sources.Scratch.materializeOnce(spark, s"$root/c2") {
        writeWinnowCommit(spark, s"$root/c2", docs.filter(bucket >= 8))
      })
    val cpath = s"$root/compacted"
    graft.sources.Scratch.materializeOnce(spark, cpath) {
      val (fps, sizes, dfq) =
        readWinnowCommits(spark, root, Seq("c0", "c1", "c2"))
      fps.write.mode("overwrite").parquet(s"$cpath/postings")
      sizes.write.mode("overwrite").parquet(s"$cpath/sizes")
      dfq.write.mode("overwrite").parquet(s"$cpath/df")
    }
    winnowPairsFromIndex(graft.sources.Scratch.readParquetOnce(spark, s"$cpath/postings"),
      graft.sources.Scratch.readParquetOnce(spark, s"$cpath/sizes"),
      graft.sources.Scratch.readParquetOnce(spark, s"$cpath/df"))
  }

  /** The stored-index probe: batch membership = docs absent from the
    * stored sizes table (production's "not yet ingested" — equals the
    * fixture's md5 rule because the index was built from it).
    * checkpoint=false exists for plan audits only (the lexicalCosineOn
    * convention): the pinned frames otherwise hide the ingest dataflow
    * behind RDD scans.
    */
  private[graft] def deltaWinnowPairsFrom(basePost: DataFrame,
      baseSizes: DataFrame, baseDf: DataFrame, docs: DataFrame,
      checkpoint: Boolean = true): DataFrame = {
    def pin(df: DataFrame): DataFrame =
      if (checkpoint) df.localCheckpoint() else df
    // DEGENERATE-DOC CAVEAT on "absent == not yet ingested": a base
    // doc too short to yield ANY fingerprint has no sizes row, so this
    // anti-join reclassifies it as batch on every ingest. Harmless for
    // pair output (a zero-fingerprint doc forms no pairs and shifts no
    // df), but the membership invariant diverges from the md5 rule for
    // such docs — a store needing exact membership would keep an
    // explicit ingested-doc_id table instead of inferring from index
    // rows.
    val batchDocs = docs.join(baseSizes.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    // the only text pass: the batch's map-only winnow selection
    val bfps = pin(winnowSelect(batchDocs)
      .select(col("doc_id"), col("fp")).distinct())
    val bSizes = bfps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
    // union df for the batch's fingerprints only (a batch-touching
    // pair can't share anything else): stored df delta-applied
    val keep = bfps.groupBy(col("fp")).agg(count(lit(1)).as("dfb"))
      .join(baseDf.withColumnRenamed("df", "dfa"), Seq("fp"), "left")
      .select(col("fp"),
        (coalesce(col("dfa"), lit(0L)) + col("dfb")).as("df"))
      .filter(col("df") >= 2 && col("df") <= WinnowMaxDf)
      .select(col("fp"))
    val keptB = pin(bfps.join(keep, Seq("fp"), "left_semi"))
    // size-driven probe of the stored postings: with the md5 rule the
    // batch is corpus-PROPORTIONAL (~20%), so a forced broadcast of
    // `keep` re-creates the driver-collect abort the lexicalCosine
    // probe exposed; a genuinely small key set still broadcasts on
    // its measured size, and the stored side (parquet, accurate
    // stats) is never a build side
    val basePruned = basePost
      .join(keep, Seq("fp"), "left_semi")
    val ne = keptB.select(col("fp"), col("doc_id").as("bid"))
      .join(basePruned.select(col("fp"), col("doc_id").as("aid")), "fp")
      .select(least(col("aid"), col("bid")).as("id_a"),
        greatest(col("aid"), col("bid")).as("id_b"),
        lit("new_existing").as("pair_type"))
    val nn = keptB.select(col("fp"), col("doc_id").as("a"))
      .join(keptB.select(col("fp"), col("doc_id").as("b")), "fp")
      .filter(col("a") < col("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"),
        lit("new_new").as("pair_type"))
    val shared = ne.unionByName(nn)
      .groupBy(col("id_a"), col("id_b"), col("pair_type"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
    // sizes: narrow stored column ∪ batch counts, joined by the tiny
    // aggregated pair list (broadcasts into both fetches)
    val sizes = baseSizes.unionByName(bSizes)
    shared
      .join(sizes.select(col("doc_id").as("id_a"), col("n_fps").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_fps").as("nb")), "id_b")
      .filter(col("n_shared") * 100 >= least(col("na"), col("nb")) * WinnowOverlapPct)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("n_shared").cast("double") / least(col("na"), col("nb")).cast("double"))
          .as("containment"),
        col("pair_type"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** C4/CCNet-style boilerplate removal: the corpus-wide "most common
    * lines" cleanup, reshaped for the fixture's unlined prose as
    * non-overlapping [[BoilerplateWindow]]-word segments. Any segment
    * occurring ≥ [[BoilerplateMinCount]] times ACROSS THE CORPUS
    * (navigation chrome, cookie banners, duplicated headers) is
    * stripped from every document, and the cleaned text is REASSEMBLED
    * — the output is a usable corpus, not a report (the flag-only twin
    * is [[graft.operators.Dedup.chunkDedup]]).
    *
    * Scale shape: segmenting is a narrow per-row explode; the count is
    * one hash shuffle on the segment string with map-side combine (the
    * wordCount shape — skew-safe because a segment's partial counts
    * combine before the shuffle); the verdict joins back on the
    * segment key, and reassembly is one shuffle by doc_id with a
    * bounded per-doc buffer (segments of ONE document, ordered by
    * seg_idx — the same sort_array(collect_list) rebuild as the
    * k-means centroids). Documents whose every segment was boilerplate
    * survive with empty clean_text (left join from the corpus), so
    * downstream length filters see them instead of losing rows.
    */
  val BoilerplateWindow = 4
  val BoilerplateMinCount = 3

  def removeBoilerplate(spark: SparkSession, dir: String): DataFrame =
    removeBoilerplateOn(Tables.documents(spark, dir))

  /** Operator form over any (doc_id, text) relation. */
  def removeBoilerplateOn(docs: DataFrame): DataFrame = {
    val w = BoilerplateWindow
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0L), ceil(size(col("tk")).cast("double") / w).cast("long") - 1),
          i => concat_ws(" ", slice(col("tk"), (i * w + 1).cast("int"), lit(w))))))
      .select(col("doc_id"), col("pos").as("seg_idx"), col("col").as("seg"))
    val common = segs.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= BoilerplateMinCount)
    val kept = segs.join(common.select(col("seg")), Seq("seg"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("seg_idx"), col("seg")))).as("parts"),
        count(lit(1)).as("n_kept"))
      .select(col("doc_id"), col("n_kept"),
        concat_ws(" ", transform(col("parts"), p => p.getField("seg"))).as("clean_text"))
    val totals = segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_segs"))
    docs.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        (coalesce(col("n_segs"), lit(0L)) - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }
}
