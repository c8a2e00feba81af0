package graft.operators

import graft.functions.TextFunctions.tokens
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Retrieval and data-selection operators over the documents corpus:
  * BM25 ranked retrieval, hybrid lexical+embedding rank fusion (RRF),
  * and DSIR-style importance weighting for training-data selection.
  *
  * The reference engine's text surface is a word-count MapReduce
  * (reference lib/map_reduce/word_count.ex:1-15); these are the
  * retrieval-side generalizations of the same tokenize→shuffle-by-term
  * dataflow: the inverted postings table (doc_id, term, tf) built here
  * is exactly the reference's map output re-keyed by term.
  *
  * Determinism discipline (the repo's cross-engine gate rules):
  * per-term double scores are quantized to 2^20 fixed-point LONGS
  * (round-half-away on both engines — the q_kmeans precedent) and
  * summed exactly; the only unquantized doubles that cross the gate
  * are single correctly-rounded divisions of exact integers.
  */
object Retrieval {

  /** BM25 parameters (the Robertson defaults). */
  val Bm25K1 = 1.2
  val Bm25B  = 0.75
  /** Results returned per query. */
  val TopK = 10
  /** Ranking depth of each source list entering the RRF fusion. */
  val FusionDepth = 20
  /** RRF rank-decay constant (Cormack et al.'s k=60). */
  val RrfK = 60
  /** 2^20 fixed-point scale for cross-engine-exact score sums. */
  val Fp = 1048576.0

  /** The benchmark query set: multi-term keyword queries phrased over
    * the corpus vocabulary. Literal and tiny — at any scale this side
    * is a broadcast.
    */
  val QueryTerms: Seq[(Int, String)] = Seq(
    1 -> "hash", 1 -> "join", 1 -> "batch",
    2 -> "window", 2 -> "agg", 2 -> "stream",
    3 -> "vector", 3 -> "scan", 3 -> "filter",
    4 -> "sort", 4 -> "merge", 4 -> "order")

  /** The (doc_id, word, tf) postings table over lowercased reference
    * tokens — the shared input of every operator here. One wide
    * shuffle keyed by (doc_id, word) with map-side combine; at 100 TB
    * this is the term-partitioned inverted index a search tier would
    * materialize once and reuse.
    */
  private[graft] def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(transform(tokens(col("text")), t => lower(t))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 ranked retrieval: score = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1−b+b·dl/avgdl)), idf = ln(1 + (N−df+0.5)/(df+0.5)),
    * top-[[TopK]] docs per query.
    *
    * Scale shape: the postings build is the only corpus-wide shuffle
    * (persisted — three consumers: doc lengths, doc frequencies, and
    * the probe join); the 12-row query set is broadcast so the probe
    * is shuffle-free on the query side; corpus stats (N, Σdl) reduce
    * to one row and broadcast. Per-term scores quantize to 2^20
    * fixed-point longs BEFORE the per-(query,doc) sum, so the gate
    * compares exact integers; the ln() ulp risk is confined to one
    * rounding per (term,doc), the q_tfidf-precedented exposure.
    */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25On(Tables.documents(spark, dir))

  /** Eagerly materializes the query-bounded result via
    * localCheckpoint so the postings cache can be released before the
    * frame is consumed. The postings are persisted: three consumers
    * read them (the round-12 A/B kept the persist over recomputing the
    * shuffle per consumer).
    */
  def bm25On(docs: DataFrame): DataFrame = {
    val tf = postings(docs).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val stats = dl.agg(sum(col("dl")).as("tot_dl"), count(lit(1)).as("n_docs"))
      bm25ScoreAll(tf, dl, dfreq, stats)
    } finally { tf.unpersist(); () }
  }

  /** The shared BM25 scoring tail over explicit index relations —
    * postings (doc_id, word, tf), doc lengths (doc_id, dl), document
    * frequencies (word, df), corpus stats as ONE row of exact longs
    * (tot_dl, n_docs) — factored out so the full build ([[bm25On]])
    * and the incremental index ([[deltaBm25]]'s stored-table merge)
    * run the IDENTICAL arithmetic: every input to the fixed-point
    * term score is an associative long sum, which is exactly why the
    * delta-maintained index scores equal to a full rebuild and the
    * two entries share one oracle.
    */
  private def bm25ScoreAll(tf: DataFrame, dl: DataFrame, dfreq: DataFrame,
      statsRaw: DataFrame): DataFrame = {
    import tf.sparkSession.implicits._
    import graft.functions.TypedAggregators.{TopK => TopKAgg}
    // long total / long count: avgdl is ONE exact-input division
    val stats = statsRaw
      .select((col("tot_dl").cast("double") / col("n_docs").cast("double")).as("avgdl"),
        col("n_docs"))
    val q = QueryTerms.toDF("query_id", "word")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    // literals spelled as decimal constants (2.2 = k1+1, 0.25 = 1−b)
    // so the oracle SQL parses the IDENTICAL doubles — no
    // Scala-side constant arithmetic crosses the gate
    val tfPart = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(Bm25K1) * (lit(0.25) + lit(Bm25B) * (col("dl").cast("double") / col("avgdl"))))
    val termFp = round(idf * tfPart * lit(Fp)).cast("long")
    val scored = broadcast(q)
      .join(tf, "word")
      .join(dfreq, "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(termFp).as("score_fp"))
    // per-query rank through the bounded top-K AGGREGATOR, not a
    // rank window: queries are few and their candidate sets can be
    // corpus-sized, so a query_id-partitioned window serializes the
    // corpus through |Q| tasks — the aggregator ships ≤K rows per
    // partition per query map-side (score_fp < 2^53, Double-exact;
    // largest-first with doc_id tie-break = the oracle's ordering)
    val out = scored
      .select(col("query_id"), col("score_fp").cast("double").as("v"), col("doc_id"))
      .as[(Int, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, v, id) => (v, id) }
      .agg(new TopKAgg(TopK).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("doc_id"), (col("col._1") / lit(Fp)).as("score"))
    out.localCheckpoint().orderBy(col("query_id"), col("rank"))
  }

  /** INCREMENTAL BM25 — postings-index MAINTENANCE under ingest, the
    * retrieval family's delta form (the last text family without one):
    * prior ingests left a STORED four-table index over the base corpus
    * — postings (doc_id, word, tf), doc lengths (doc_id, dl), document
    * frequencies (word, df), corpus stats (tot_dl, n_docs) — and a new
    * batch is absorbed as ONE tokenization pass over the batch text
    * plus pure delta-applies: batch postings/lengths APPEND (doc sets
    * are disjoint, so per-doc rows never collide), df merges by
    * word-keyed long addition (the q_incremental_agg merge shape),
    * stats merge as two long sums. The base text is NEVER re-read —
    * only its narrow stored tables are scanned — so ingest cost is
    * O(batch tokens) plus index-sized merges, never corpus
    * tokenization (probed flat-in-base; ScalingProbe delta_bm25).
    *
    * Every maintained quantity is an associative long sum, so the
    * merged index EQUALS the full rebuild's field-for-field and the
    * graded entry shares q_bm25's oracle on the whole corpus verbatim
    * (the incremental path changes WORK, never results — the
    * q_delta_image_dup_clusters precedent). Split rule is doc_id
    * mod 10 (< 8 base, ≥ 8 batch — [[graft.operators.Dedup.deltaShardAssign]]'s
    * id-derived convention: a retrieval index ingests by id, not by
    * content hash). At 100 TB the stored postings table would be
    * bucketed by word so the query probe prunes to the probe
    * vocabulary's buckets; here the probe join streams the read-back.
    */
  def deltaBm25(spark: SparkSession, dir: String): DataFrame =
    deltaBm25Over(spark, dir, Seq(8))

  /** Serve the chain stored at `cuts` ([[bm25Commits]]) with the live
    * batch — the docs whose doc_id mod 10 is at or past the last cut —
    * delta-applied on top.
    */
  private[graft] def deltaBm25Over(spark: SparkSession, dir: String,
      cuts: Seq[Int]): DataFrame = {
    val (tf, dl, dfq, stats) = readBm25Commits(spark, bm25Commits(spark, dir, cuts))
    deltaBm25From(tf, dl, dfq, stats,
      Tables.documents(spark, dir).filter(col("doc_id") % 10 >= cuts.last))
  }

  /** RETRACTION — BM25 index maintenance under DELETION, the missing
    * half of the index lifecycle (ingest grows a corpus; takedowns,
    * licensing changes, and opt-outs shrink it): a tombstone set of
    * doc_ids is removed from the stored four-table index with NO text
    * read at all — every delta the removal needs is already IN the
    * index. Postings and doc lengths drop by doc_id anti-join; document
    * frequencies subtract the deleted docs' per-word posting counts
    * (derived from the stored postings restricted to the tombstones —
    * the word-keyed long delta-apply of [[deltaBm25From]] with negative
    * contributions); corpus stats subtract the deleted docs' length sum
    * and count. Every maintained field is an associative long sum, so
    * the retracted index EQUALS a full rebuild over corpus-minus-
    * tombstones field-for-field and the graded entry shares q_bm25's
    * oracle restricted to the surviving docs (retraction changes WORK,
    * never results — the ingest-side precedent, mirrored).
    *
    * Scale shape: tombstones are an id list (broadcastable when small,
    * shuffled anti-joins otherwise — Spark picks by size); the index
    * tables enter through narrow column scans; cost is O(index rows of
    * the deleted docs) + index-sized anti-joins, never corpus
    * tokenization. The reference's only retraction is the master
    * reclaiming a dead worker's job for the backlog (reference
    * lib/map_reduce/master.ex:85-108); this is that idea generalized to
    * the data plane. Fixture tombstones: stored doc_ids ≡ 7 (mod 10) —
    * an id rule, the way production takedown lists arrive.
    */
  def retractBm25(spark: SparkSession, dir: String): DataFrame = {
    val (tf, dl, dfq, stats) = readBm25Commits(spark, bm25Commits(spark, dir, Seq(8)))
    retractBm25From(tf, dl, dfq, stats,
      dl.filter(col("doc_id") % 10 === 7).select(col("doc_id")))
  }

  /** The retraction body on explicit stored tables — exposed so the
    * spec can prove retracted == rebuilt on arbitrary tombstone sets.
    */
  private[graft] def retractBm25From(storedTf: DataFrame, storedDl: DataFrame,
      storedDf: DataFrame, storedStats: DataFrame,
      tombstones: DataFrame): DataFrame = {
    // the tombstone id list: four consumers (two anti-joins, two
    // semi-joins) — pin it
    val tomb = tombstones.toDF("doc_id").localCheckpoint()
    // the deleted docs' own index rows are the ONLY delta source —
    // retraction never touches text
    val deadTf = storedTf.join(tomb, Seq("doc_id"), "left_semi")
    val deadDl = storedDl.join(tomb, Seq("doc_id"), "left_semi")
    val tf = storedTf.join(tomb, Seq("doc_id"), "left_anti")
    val dl = storedDl.join(tomb, Seq("doc_id"), "left_anti")
    // df delta-apply with NEGATIVE contributions; words whose every
    // posting died drop out entirely (df = 0 rows exist in a rebuild's
    // table for no word), keeping retracted == rebuilt field-for-field
    val dfreq = storedDf
      .unionByName(deadTf.groupBy(col("word"))
        .agg((-count(lit(1))).as("df")))
      .groupBy(col("word")).agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)
    // stats delta-apply: two negative long additions
    val stats = storedStats
      .unionByName(deadDl.agg((-sum(col("dl"))).as("tot_dl"),
        (-count(lit(1))).as("n_docs")))
      .agg(sum(col("tot_dl")).as("tot_dl"), sum(col("n_docs")).as("n_docs"))
    bm25ScoreAll(tf, dl, dfreq, stats)
  }

  /** The merge body on explicit stored tables — exposed so the spec
    * can prove maintained == rebuilt on arbitrary splits.
    */
  private[graft] def deltaBm25From(storedTf: DataFrame, storedDl: DataFrame,
      storedDf: DataFrame, storedStats: DataFrame,
      batch: DataFrame): DataFrame = {
    // the ingest's only wide work: one tokenization pass over the
    // batch text (three consumers — postings append, df delta, dl
    // delta — so pin it)
    val batchTf = postings(batch).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val batchDl = batchTf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val tf = storedTf.unionByName(batchTf)
      val dl = storedDl.unionByName(batchDl)
      // df delta-apply: word-keyed long addition over (stored ∪ batch)
      val dfreq = storedDf
        .unionByName(batchTf.groupBy(col("word")).agg(count(lit(1)).as("df")))
        .groupBy(col("word")).agg(sum(col("df")).as("df"))
      // stats delta-apply: two long additions
      val stats = storedStats
        .unionByName(batchDl.agg(sum(col("dl")).as("tot_dl"),
          count(lit(1)).as("n_docs")))
        .agg(sum(col("tot_dl")).as("tot_dl"), sum(col("n_docs")).as("n_docs"))
      bm25ScoreAll(tf, dl, dfreq, stats)
    } finally { batchTf.unpersist(); () }
  }

  // ——— multi-ingest commit layout (compounding + compaction) ———

  /** The BM25 index as ONE commit chain ([[graft.sources.Commits.chain]])
    * — the LSM-style append discipline: every ingest lands as its OWN
    * commit holding batch-sized postings/dl plus PARTIAL df/stats
    * contributions; prior commits are never rewritten. Commit
    * `[lo, hi)` holds the docs with doc_id mod 10 in that range (an
    * id-derived split — a retrieval index ingests by id, not by
    * content hash). Every maintained field is an associative long sum
    * over disjoint doc sets, so ANY commit grouping scores
    * identically: delta(delta(base, b1), b2) == full(base ∪ b1 ∪ b2),
    * which is what lets the single-ingest ([[deltaBm25]], cuts
    * `Seq(8)`), two-commit ([[delta2Bm25]], `Seq(6, 8)`) and folded
    * ([[compactBm25]], `Seq(6, 8, 10)`) entries share q_bm25's
    * whole-corpus oracle VERBATIM. Chains sharing a prefix share its
    * commits.
    */
  private[graft] def bm25Commits(spark: SparkSession, dir: String,
      cuts: Seq[Int]): Seq[String] = {
    val docs = Tables.documents(spark, dir)
    graft.sources.Commits.chain(spark, dir, "documents", "bm25", cuts) { (lo, hi, path) =>
      writeBm25Commit(spark, path,
        docs.filter(col("doc_id") % 10 >= lo && col("doc_id") % 10 < hi))
    }
  }

  /** ONE ingest's append-only commit: the batch's postings and doc
    * lengths (whole rows — doc sets are disjoint across commits) plus
    * its PARTIAL df/stats contributions, to be summed at read. Cost is
    * one tokenization pass over the BATCH — never a rewrite of any
    * prior commit.
    */
  private def writeBm25Commit(spark: SparkSession, cdir: String,
      batch: DataFrame): Unit = {
    val tfB = postings(batch).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the postings write materializes the pinned tfB; the dl and df
      // rollups then read the cache and have no dependency on each
      // other — run them concurrently; stats reads the dl files last
      tfB.write.mode("overwrite").parquet(s"$cdir/postings")
      graft.sources.Scratch.inParallel(
        () => tfB.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
          .write.mode("overwrite").parquet(s"$cdir/dl"),
        () => tfB.groupBy(col("word")).agg(count(lit(1)).as("df"))
          .write.mode("overwrite").parquet(s"$cdir/df"))
      graft.sources.Scratch.readParquetOnce(spark, s"$cdir/dl")
        .agg(sum(col("dl")).as("tot_dl"), count(lit(1)).as("n_docs"))
        .write.mode("overwrite").parquet(s"$cdir/stats")
    } finally { tfB.unpersist(); () }
  }

  /** Read a commit list back as one logical four-table index:
    * postings/lengths append, df/stats partials sum (word-keyed long
    * addition — the [[deltaBm25From]] merge, generalized to N sides).
    * A single commit (or a fold) is read as stored, with no summing
    * stage.
    */
  private[graft] def readBm25Commits(spark: SparkSession,
      commits: Seq[String]): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // ONE multi-path scan per table kind (guide §6; round-22 — a
    // separate FileScan + union branch PER COMMIT re-listed and
    // re-planned N scans of identically-shaped files per query):
    // every commit writes the same schema, so the N commit directories
    // are one parquet relation. Commit grouping is value-irrelevant
    // (associative long sums over disjoint doc sets), and the scoring
    // tail is joins + aggregations with total-order tie-breaks.
    def u(sub: String): DataFrame =
      graft.sources.Scratch.readParquetMultiOnce(spark, commits.map(c => s"$c/$sub"))
    if (commits.size == 1) (u("postings"), u("dl"), u("df"), u("stats"))
    else (u("postings"), u("dl"),
      u("df").groupBy(col("word")).agg(sum(col("df")).as("df")),
      u("stats").agg(sum(col("tot_dl")).as("tot_dl"),
        sum(col("n_docs")).as("n_docs")))
  }

  /** COMPOUNDING under the gate — the index after TWO stored ingests
    * plus a live third: the chain cut at 6/10 and 8/10 is read back
    * merged and the final batch (doc_id mod 10 in {8, 9})
    * delta-applies on top, so the graded entry proves
    * delta(delta(base, b1), b2) == full rebuild — associativity as a
    * hash-matched result, not an argument. Shares q_bm25's
    * whole-corpus oracle verbatim.
    */
  def delta2Bm25(spark: SparkSession, dir: String): DataFrame =
    deltaBm25Over(spark, dir, Seq(6, 8))

  /** COMPACTION — the closing lifecycle stage of the commit chain:
    * per-ingest commits accumulate small files until a fold (off the
    * query path) consolidates all N into ONE four-table index; values
    * never change, only layout, so serving over the compacted tables
    * shares q_bm25's oracle verbatim and must equal [[delta2Bm25]]
    * row-for-row. The fold itself is the summed read-back written
    * once — index-sized, no text.
    */
  def compactBm25(spark: SparkSession, dir: String): DataFrame =
    compactBm25Over(spark, dir, Seq(6, 8, 10))

  /** Serve the fold of the chain stored at `cuts` (ending at 10). */
  private[graft] def compactBm25Over(spark: SparkSession, dir: String,
      cuts: Seq[Int]): DataFrame = {
    val commits = bm25Commits(spark, dir, cuts)
    val fold = graft.sources.Scratch.slotOnce(spark, dir, "documents",
        graft.sources.Commits.foldSlot("bm25", cuts, "fold")) { path =>
      val (tf, dl, dfq, stats) = readBm25Commits(spark, commits)
      tf.write.mode("overwrite").parquet(s"$path/postings")
      dl.write.mode("overwrite").parquet(s"$path/dl")
      dfq.write.mode("overwrite").parquet(s"$path/df")
      stats.write.mode("overwrite").parquet(s"$path/stats")
    }
    val (tf, dl, dfq, stats) = readBm25Commits(spark, Seq(fold))
    bm25ScoreAll(tf, dl, dfq, stats)
  }

  /** Default phrase for the graded [[phraseSearch]] entry — present in
    * the synthetic corpus (5 occurrences at sf0.001 AND at sf0.01, so both
    * the spec fixture and the driver gate exercise non-empty results).
    * [[graft.SparkEntry.oracleSql]] interpolates THESE terms into the
    * DuckDB twin, so editing the phrase cannot desynchronize the gate.
    */
  val PhraseQuery: Seq[String] = Seq("small", "query", "line")

  /** Exact phrase search over POSITIONAL postings — the attribution /
    * quotation-lookup primitive (find every (document, offset) where
    * the words appear consecutively). The corpus tokenizes in ONE
    * map-only pass into (doc_id, pos, tok) postings pruned to the
    * phrase's terms, eagerly materialized (localCheckpoint) so the
    * per-term adjacency self-joins all read the tiny pruned table
    * instead of re-scanning the corpus once per term — at 100 TB a
    * phrase query touches the corpus once and then O(Σ df(term))
    * posting rows, where the equivalent window formulation (lead(tok)
    * OVER doc order) would shuffle EVERY posting. Each adjacency step
    * is an equi-join on (doc_id, pos - offset), so candidate starts
    * die at the first non-matching term. Output is the (doc_id, pos)
    * start-position list, fully integer, ordered — gate-exact.
    */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame =
    phraseSearchOn(Tables.documents(spark, dir), PhraseQuery)

  def phraseSearchOn(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    // one corpus scan; the pruned result is term-bounded and shared by
    // every adjacency join below (checkpoint over persist so the
    // blocks die with the RDD — the q_image_neardup precedent)
    val postings = docs
      .select(col("doc_id"),
        posexplode(filter(split(lower(col("text")), "[^a-z]"), t => t =!= ""))
          .as(Seq("pos", "tok")))
      .filter(col("tok").isin(phrase: _*))
      .localCheckpoint()
    val base = postings.filter(col("tok") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.drop(1).foldLeft(base) { case (acc, (w, i)) =>
      acc.join(
        postings.filter(col("tok") === w)
          .select(col("doc_id").as("d2"), (col("pos") - i).as("p2")),
        col("doc_id") === col("d2") && col("pos") === col("p2"))
        .select(col("doc_id"), col("pos"))
    } // pos explicitly widened to BIGINT for oracle type parity
      // (posexplode emits int; DuckDB's generate_subscripts arithmetic
      // emits BIGINT — the q_dpp_join cast-for-parity convention)
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Fixture phrase BATCH for [[phraseBatch]] — deliberately diverse:
    * the single-phrase fixture itself, a repeated-term phrase (one
    * posting row must anchor BOTH term slots), a high-frequency
    * 2-gram, a rare 3-gram, a 4-gram absent at sf0.001 but present at
    * sf0.01 (per-phrase empties must not drop the others), and a
    * phrase of tokens outside the corpus vocabulary (its postings
    * prune to nothing). [[graft.SparkEntry.oracleSql]] interpolates
    * these terms into the DuckDB twin, so editing the batch cannot
    * desynchronize the gate.
    */
  val PhraseBatch: Seq[(Long, Seq[String])] = Seq(
    1L -> PhraseQuery,
    2L -> Seq("table", "table"),
    3L -> Seq("data", "stream"),
    4L -> Seq("spark", "window", "part"),
    5L -> Seq("scan", "group", "big", "vector"),
    6L -> Seq("no", "such", "phrase", "here"))

  def phraseBatch(spark: SparkSession, dir: String): DataFrame =
    phraseBatchOn(spark, Tables.documents(spark, dir), PhraseBatch)

  /** BATCH exact phrase search — the attribution / decontamination
    * workload shape: thousands of phrases against one corpus. The
    * corpus tokenizes ONCE into postings pruned to the UNION of all
    * phrases' terms (still one map-only scan + localCheckpoint, the
    * [[phraseSearchOn]] contract), and instead of L−1 adjacency
    * self-joins PER phrase, every (phrase term, slot) probes the
    * postings in ONE join and matches resolve by a plain keyed COUNT
    * of filled slots per candidate anchor: posting (doc, p, tok)
    * joined to phrase slot (qid, i, tok) anchors start = p − i; a
    * probe row is keyed by (qid, doc, anchor, slot) and its source
    * position is determined by anchor + slot, so rows can never
    * repeat — plain count equals the number of filled slots (no
    * countDistinct, and unlike the distinct form it partial-aggregates
    * map-side), and an anchor counting all `len` slots is a match (a
    * phrase with repeated terms fills multiple slots from one posting
    * row — correct by construction). Total cost: one corpus scan + one
    * O(Σ_q Σ_i df(term_qi)) join + one keyed count — per
    * added phrase the increment is its own df joins, NOT a corpus
    * rescan (probed by ScalingProbe `phrase_batch`). Anchors from
    * stray tokens die in the count filter; a phrase absent from the
    * corpus contributes zero rows without disturbing the batch.
    */
  def phraseBatchOn(spark: SparkSession, docs: DataFrame,
      phrases: Seq[(Long, Seq[String])]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_._2.nonEmpty),
      "every phrase needs at least one term")
    import spark.implicits._
    val slots = phrases.flatMap { case (qid, terms) =>
      terms.zipWithIndex.map { case (w, i) => (qid, i.toLong, w) }
    }.toDF("query_id", "slot", "tok")
    val lens = phrases.map { case (qid, terms) =>
      (qid, terms.size.toLong) }.toDF("query_id", "phrase_len")
    val vocab = phrases.flatMap(_._2).distinct
    val postings = docs
      .select(col("doc_id"),
        posexplode(filter(split(lower(col("text")), "[^a-z]"), t => t =!= ""))
          .as(Seq("pos", "tok")))
      .filter(col("tok").isin(vocab: _*))
      .localCheckpoint()
    // count(*) not countDistinct: a probe row is keyed by (query_id,
    // doc_id, anchor, slot) and the source posting position is
    // DETERMINED by anchor + slot, so the tuple can never repeat —
    // plain count is exact and, unlike the distinct form, partial-
    // aggregates map-side (the Σ df probe volume collapses to anchor
    // counts per partition before the shuffle)
    postings
      .join(broadcast(slots), "tok") // phrase table: broadcast by size
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("slot")).cast("long").as("pos"), col("slot"))
      .filter(col("pos") >= 0)
      .groupBy(col("query_id"), col("doc_id"), col("pos"))
      .agg(count(lit(1)).as("n_slots"))
      .join(broadcast(lens), "query_id")
      .filter(col("n_slots") === col("phrase_len"))
      .select(col("query_id"), col("doc_id"), col("pos"))
      .orderBy(col("query_id"), col("doc_id"), col("pos"))
  }

  /** Window size for the graded [[proximitySearch]] entry: consecutive
    * terms may sit up to this many positions apart (gap ≤ k, order
    * preserved) — NEAR/k with ordered semantics.
    */
  val ProximityK = 3

  /** Ordered proximity search (NEAR/k): the phrase's terms must appear
    * in order with each consecutive gap in (0, k]. Exactly
    * [[phraseSearchOn]]'s adjacency join with the equality on
    * `pos + i` relaxed to a BAND predicate (p_prev < p_next ≤
    * p_prev + k) — candidate chains still die at the first term with
    * no in-window successor, and the posting table is the same pruned
    * single-scan build. Emits the START position of each ordered
    * chain, DISTINCT because multiple in-window successor chains can
    * share a start. Cost is the same Σ df(term) posting volume with a
    * k-bounded fan-out per adjacency step.
    */
  def proximitySearch(spark: SparkSession, dir: String): DataFrame =
    proximitySearchOn(Tables.documents(spark, dir), PhraseQuery, ProximityK)

  def proximitySearchOn(docs: DataFrame, phrase: Seq[String],
      k: Int): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    require(k >= 1, "window must be at least 1")
    val postings = docs
      .select(col("doc_id"),
        posexplode(filter(split(lower(col("text")), "[^a-z]"), t => t =!= ""))
          .as(Seq("pos", "tok")))
      .filter(col("tok").isin(phrase: _*))
      .localCheckpoint()
    val base = postings.filter(col("tok") === phrase.head)
      .select(col("doc_id"), col("pos").as("start"), col("pos").as("prev"))
    phrase.drop(1).foldLeft(base) { case (acc, w) =>
      acc.join(
        postings.filter(col("tok") === w)
          .select(col("doc_id").as("d2"), col("pos").as("p2")),
        col("doc_id") === col("d2") &&
          col("p2") > col("prev") && col("p2") <= col("prev") + k)
        .select(col("doc_id"), col("start"), col("p2").as("prev"))
    }
      .select(col("doc_id"), col("start").cast("long").as("pos"))
      .distinct()
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Fixture batch for the graded [[proximityBatch]] entry — the
    * [[PhraseBatch]] diversity discipline: the single-proximity
    * fixture itself, a high-df 2-gram, a repeated-term pair (one
    * posting row must serve both slots ACROSS positions — under the
    * band predicate the second `table` matches any later in-window
    * `table`, not the same position), a 3-term chain, and a phrase
    * whose tokens are outside the corpus vocabulary (prunes to
    * nothing without disturbing the batch).
    */
  val ProximityBatch: Seq[(Long, Seq[String])] = Seq(
    1L -> PhraseQuery,
    2L -> Seq("data", "stream"),
    3L -> Seq("table", "table"),
    4L -> Seq("spark", "window", "part"),
    5L -> Seq("no", "such", "phrase", "here"))

  def proximityBatch(spark: SparkSession, dir: String): DataFrame =
    proximityBatchOn(spark, Tables.documents(spark, dir),
      ProximityBatch, ProximityK)

  /** BATCH ordered proximity search — [[phraseBatchOn]]'s trick
    * applied to NEAR/k: N phrase probes against one corpus through
    * ONE postings build pruned to the union vocabulary. The
    * phrase-batch slot-count resolver does NOT carry over (an anchor
    * no longer determines its later positions — gaps vary), so
    * resolution is a FRONTIER of partial ordered chains advanced one
    * slot per round: round i extends every live chain by the postings
    * tagged slot i of its own phrase under the band predicate
    * (prev < p ≤ prev + k), phrases exit the frontier at their own
    * length, and chains die at the first term with no in-window
    * successor. maxLen (≤ a few words) rounds of equi-band joins on
    * (query_id, doc_id) — NEVER a per-phrase corpus rescan: per added
    * phrase the increment is its own Σ df(term) posting rows riding
    * the shared joins (probed vs the single-probe baseline by
    * ScalingProbe `proximity` / `proximity_batch` — the per-phrase
    * loop's cost is N × the single probe). Output: DISTINCT
    * (query_id, doc_id, start), gate-exact integers.
    */
  def proximityBatchOn(spark: SparkSession, docs: DataFrame,
      phrases: Seq[(Long, Seq[String])], k: Int): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_._2.nonEmpty),
      "every phrase needs at least one term")
    require(k >= 1, "window must be at least 1")
    import spark.implicits._
    val slots = phrases.flatMap { case (qid, terms) =>
      terms.zipWithIndex.map { case (w, i) => (qid, i.toLong, w) }
    }.toDF("query_id", "slot", "tok")
    val vocab = phrases.flatMap(_._2).distinct
    val postings = docs
      .select(col("doc_id"),
        posexplode(filter(split(lower(col("text")), "[^a-z]"), t => t =!= ""))
          .as(Seq("pos", "tok")))
      .filter(col("tok").isin(vocab: _*))
      .localCheckpoint()
    // (query_id, slot, doc_id, pos) probe rows — postings fanned out
    // to every (phrase, slot) wanting that token, phrase table
    // broadcast by size
    val tagged = postings.join(broadcast(slots), "tok")
      .select(col("query_id"), col("slot"), col("doc_id"), col("pos"))
    val maxLen = phrases.map(_._2.size).max
    // each phrase's length rides the frontier as a broadcast-joined
    // column, so per-round exit/continue tests are plain column
    // predicates — NEVER driver-built `isin` literal lists, which at a
    // 100k-phrase production batch would inflate every round's plan
    // with 100k-literal predicates (the phraseBatchOn lens-table
    // pattern applied to the loop state)
    val lens = phrases.map { case (qid, terms) => (qid, terms.size.toLong) }
      .toDF("query_id", "plen")
    var frontier = tagged.filter(col("slot") === 0L)
      .join(broadcast(lens), "query_id")
      .select(col("query_id"), col("doc_id"),
        col("pos").as("start"), col("pos").as("prev"), col("plen"))
    var done = frontier.filter(lit(false))
      .select(col("query_id"), col("doc_id"), col("start"))
    for (i <- 1 until maxLen) {
      done = done.unionByName(
        frontier.filter(col("plen") === i.toLong)
          .select(col("query_id"), col("doc_id"), col("start")))
      frontier = frontier.filter(col("plen") > i.toLong)
        .join(tagged.filter(col("slot") === i.toLong)
            .select(col("query_id").as("q2"), col("doc_id").as("d2"),
              col("pos").as("p2")),
          col("query_id") === col("q2") && col("doc_id") === col("d2") &&
            col("p2") > col("prev") && col("p2") <= col("prev") + k)
        .select(col("query_id"), col("doc_id"), col("start"),
          col("p2").as("prev"), col("plen"))
    }
    done.unionByName(
        frontier.select(col("query_id"), col("doc_id"), col("start")))
      .select(col("query_id"), col("doc_id"),
        col("start").cast("long").as("pos"))
      .distinct()
      .orderBy(col("query_id"), col("doc_id"), col("pos"))
  }

  /** Hybrid retrieval by Reciprocal Rank Fusion: for each query doc
    * (the [[Similarity.NumQueries]] fixture convention, vec_id =
    * doc_id), fuse (a) the embedding-cosine ranking over the
    * embeddings table with (b) the lexical tf-cosine ranking over the
    * documents table, rrf = Σ_lists 1/(60+rank) over each list's
    * top-[[FusionDepth]], re-ranked to top-[[TopK]].
    *
    * Exactness: the lexical cosine is long-dot/sqrt(long·long) — two
    * correctly-rounded ops on exact inputs; the embedding sim rounds
    * to 6 (the q_knn_bruteforce precedent); each 1/(60+rank) term
    * quantizes to 2^20 fixed-point (exact-input division → identical
    * double → identical round on both engines), so the fused score
    * sums as exact longs.
    *
    * Scale shape: the query side (10 docs) broadcasts through both
    * rankings — the corpus side streams past it with no corpus-wide
    * pairwise stage; rank lists are query-bounded (≤ depth·|Q| rows).
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TypedAggregators.topKSelect
    val nq = Similarity.NumQueries
    // rank-list builder: per-query top-[[FusionDepth]] through the
    // shared bounded top-K selection (not a rank window — queries are
    // few, candidate sets corpus-sized; see bm25On). Ordering = (value
    // desc, doc_id asc), the oracle's row_number ordering.
    def topList(scored: DataFrame): DataFrame =
      topKSelect(spark, scored.toDF("key", "v", "tag"), FusionDepth)
        .select(col("key").as("q_id"), col("tag").as("doc_id"), col("rank"))
    // --- embedding ranking: q_knn_bruteforce's codegen'd cosine
    //     (gate-proven arithmetic), ranked to fusion depth ---
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val embRank = topList(e.select(col("vec_id").as("doc_id"), col("embedding"))
      .join(broadcast(queries), col("q_id") =!= col("doc_id"))
      .select(col("q_id"),
        round(graft.functions.VectorFunctions.cosine(col("q_emb"), col("embedding")), 6).as("sim"),
        col("doc_id")))
    // --- lexical ranking: tf-cosine of query docs vs the corpus ---
    val tf = postings(Tables.documents(spark, dir)).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val norms = tf.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("norm2"))
      val qtf = tf.filter(col("doc_id") < nq)
        .select(col("doc_id").as("q_id"), col("word"), col("tf").as("tf_q"))
      val dots = broadcast(qtf)
        .join(tf, "word")
        .filter(col("q_id") =!= col("doc_id"))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(sum(col("tf_q") * col("tf")).as("dot"))
      val cosine = col("dot").cast("double") /
        sqrt((col("norm2_q") * col("norm2")).cast("double"))
      val lexRank = topList(dots
        .join(broadcast(norms.filter(col("doc_id") < nq)
          .select(col("doc_id").as("q_id"), col("norm2").as("norm2_q"))), "q_id")
        .join(norms, "doc_id")
        .select(col("q_id"), cosine.as("cos"), col("doc_id")))
      // --- fuse: exact fixed-point 1/(60+rank) sums ---
      val contrib = round(lit(Fp) / (lit(RrfK).cast("double") + col("rank").cast("double")))
        .cast("long")
      val wF = Window.partitionBy(col("q_id")).orderBy(col("rrf_fp").desc, col("doc_id"))
      val out = embRank.select(col("q_id"), col("doc_id"), contrib.as("c"))
        .unionAll(lexRank.select(col("q_id"), col("doc_id"), contrib.as("c")))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(sum(col("c")).as("rrf_fp"), count(lit(1)).as("n_lists"))
        .withColumn("rank", row_number().over(wF).cast("long"))
        .filter(col("rank") <= TopK)
        .select(col("q_id"), col("rank"), col("doc_id"), col("n_lists"),
          (col("rrf_fp").cast("double") / lit(Fp)).as("rrf"))
      out.localCheckpoint()
        .orderBy(col("q_id"), col("rank"))
    } finally { tf.unpersist(); () }
  }

  /** DSIR target domain: sources whose docs define the distribution to
    * up-weight (10% of the uniform source mix in the fixtures).
    */
  val DsirTargetSources: Seq[String] = Seq("src0", "src1")
  /** Docs kept by the importance resample. */
  val DsirTopN = 100

  /** DSIR-style importance weighting for data selection (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * 2023): build add-one-smoothed unigram models of a small TARGET
    * domain and the BACKGROUND corpus, score every doc by its mean
    * per-token log-likelihood ratio ln p_t(w) − ln p_b(w), and keep
    * the top-[[DsirTopN]] — the docs that look most like the target.
    * (The paper hashes n-grams into buckets; on the fixture vocab the
    * unigram identity feature is the same estimator with V buckets.)
    *
    * Exactness: per-WORD log-ratios quantize once to 2^20 fixed-point
    * (the word model is corpus-level, so the ln ulp exposure is one
    * rounding per vocabulary word, not per token); per-doc scores are
    * then exact long dot-products Σ tf·lr_fp, and the reported mean
    * is one exact-input division.
    *
    * Scale shape: the unigram models reduce the postings table by
    * word (map-side combined) into a vocabulary-sized side table that
    * joins back to the postings — broadcast when the vocab fits, sort
    * -merge otherwise; the doc score is a keyed re-aggregation of the
    * SAME postings partitioning. No pairwise stage anywhere.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsOn(Tables.documents(spark, dir))

  def dsirWeightsOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isTarget = col("source").isInCollection(DsirTargetSources)
    val tagged = docs.select(col("doc_id"), isTarget.as("is_target"))
    val tfTagged = postings(docs).join(tagged, "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = tfTagged.groupBy(col("word"))
        .agg(sum(when(col("is_target"), col("tf")).otherwise(lit(0L))).as("cnt_t"),
          sum(when(col("is_target"), lit(0L)).otherwise(col("tf"))).as("cnt_b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val totals = counts.agg(sum(col("cnt_t")).as("n_t"), sum(col("cnt_b")).as("n_b"),
          count(lit(1)).as("v"))
        // ln of one exact-input division each; quantize HERE (per word)
        val lr = log((col("cnt_t").cast("double") + lit(1.0)) /
            (col("n_t").cast("double") + col("v").cast("double"))) -
          log((col("cnt_b").cast("double") + lit(1.0)) /
            (col("n_b").cast("double") + col("v").cast("double")))
        val model = counts.crossJoin(broadcast(totals))
          .select(col("word"), round(lr * lit(Fp)).cast("long").as("lr_fp"))
        val scored = tfTagged.filter(!col("is_target"))
          .join(model, "word")
          .groupBy(col("doc_id"))
          .agg(sum(col("tf") * col("lr_fp")).as("score_fp"),
            sum(col("tf")).as("dl"))
        // distributed top-N (TakeOrderedAndProject), NOT a global
        // row_number window — a single-partition rank over every
        // background doc would serialize the corpus through one task;
        // the window only numbers the already-selected N rows
        val top = scored.orderBy(col("score_fp").desc, col("doc_id")).limit(DsirTopN)
        val w = Window.orderBy(col("score_fp").desc, col("doc_id"))
        val out = top
          .withColumn("rank", row_number().over(w).cast("long"))
          .select(col("rank"), col("doc_id"), col("dl"), col("score_fp"),
            (col("score_fp").cast("double") / (col("dl").cast("double") * lit(Fp))).as("avg_lr"))
        out.localCheckpoint().orderBy(col("rank"))
      } finally { counts.unpersist(); () }
    } finally { tfTagged.unpersist(); () }
  }
}
