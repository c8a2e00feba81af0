package graft.operators

import graft.functions.TextFunctions._
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The end-to-end training-data curation cascade, composed from the
  * individually-graded stages in the order a real pipeline runs them:
  *
  *   1. quality filter   — [[TextAnalysis.corpusReasons]], keep only
  *      `reason = 'keep'` documents (length/alpha/stopword/repetition
  *      gates);
  *   2. exact dedup      — keep the smallest doc_id per normalized
  *      text ([[Dedup.exactDedupOn]] semantics inlined so the text
  *      column stays in flight for the later stages);
  *   3. decontamination  — hash-split the survivors train/val/test
  *      (the [[Dedup.decontaminationOn]] split rule), build the EVAL
  *      shingle vocabulary, and drop TRAIN documents whose shingle
  *      overlap with it exceeds `maxContamination` (the production
  *      direction: benchmark text must not leak into training data);
  *   4. sequence packing — [[TextAnalysis.packSequencesOn]] over the
  *      clean train corpus.
  *
  * Scale shape: the corpus is scanned TWICE — once by the quality
  * decision pass (which materializes only a 16-byte-per-doc id/reason
  * table; see the pushdown note at the first stage) and once by the
  * semi join that carries survivors' text forward; the kept frame is
  * persisted and feeds both the dedup keeper set and the survivor
  * join, and the deduped frame is persisted and feeds both the shingle
  * pipeline and the final pack join. Everything that shuffles is
  * narrow (8-byte shingle fingerprints, doc_ids, token counts), never
  * document text except the dedup key itself (use the sha256 variant
  * at 100 TB — [[Dedup.exactDedupByHash]] — if full-text keys
  * dominate the shuffle; the oracle gate needs the normalized-text
  * key to stay SQL-portable).
  *
  * Stage parity: every rule is byte-identical to its graded stage
  * (same `normalized`, same shingle fingerprints, same hash split),
  * so q_pipeline_e2e's single DuckDB oracle CTE chain re-derives the
  * whole cascade and the hash match proves the COMPOSITION — stage
  * boundaries, persist scoping, join plumbing — not just each stage.
  */
object Pipeline {

  /** Decontamination span length (chars). Deliberately much longer
    * than [[Dedup.ShingleK]] (= 8, the near-dup SIMILARITY shingle):
    * the dedup shingle is tuned to estimate document resemblance, but
    * for REMOVAL the question is "does this train doc contain a span
    * of benchmark text", and at k=8 virtually every pair of same-
    * language documents shares most shingles (measured ≥ 92% on the
    * gate corpus — a 5% threshold would empty the corpus). A 40-char
    * span (≈ a 7–8 word phrase; the scaled-down analog of the 10–13
    * token n-grams production decontamination uses) only fires on
    * genuine copied spans: gate-corpus median train-doc contamination
    * is 0, and true duplicates still score 1.0.
    */
  val DecontaminationSpanK = 40

  /** Largest eval-span share a train doc may carry and stay packed. */
  val MaxContamination = 0.05

  def curationPipeline(spark: SparkSession, dir: String): DataFrame =
    curationPipelineOn(Tables.documents(spark, dir))

  /** The MULTIMODAL end-to-end cascade — [[curationPipeline]]'s twin
    * for the media families, composed in the order a media ingest
    * actually runs:
    *
    *   1. image decode + perceptual hash — the materialized per-corpus
    *      aHash table ([[Multimodal.ahashTable]]: the ONE PNG decode
    *      pass, shared with q_image_ahash/q_image_neardup*);
    *   2. audio decode + wide fingerprint — the materialized
    *      [[Multimodal.audioFpWideTable]] (the ONE RIFF decode pass,
    *      shared with q_audio_fingerprint_wide/q_audio_neardup);
    *   3. exact multimodal dedup DECISION on the joint content key
    *      (ahash_hi, ahash_lo, afp_hi, afp_lo) — a record survives iff
    *      it is its class's min-doc representative, via the same
    *      groupBy-not-window discipline as [[Multimodal.imageDedup]]
    *      (map-side partial min/count collapse a billion-copy class
    *      per partition before the shuffle);
    *   4. deterministic shard layout of the survivors —
    *      [[Dedup.shardAssignOn]], the training writer's final stage,
    *      carrying the class size through as payload.
    *
    * Scale shape: after the two materialized linear decode passes,
    * everything that flows is 5 longs per record (ids, hash halves) —
    * pixels and PCM never enter a shuffle; the dedup decision and the
    * layout are the only wide stages. The single DuckDB oracle CTE
    * chain re-derives decode → hash/fingerprint bits → class reps →
    * mix31 layout closed-form, so the hash match proves the
    * COMPOSITION (stage boundaries, the join of the two modality
    * tables, survivor semantics, layout determinism) — the
    * q_pipeline_e2e precedent for the second modality family.
    */
  def mediaPipeline(spark: SparkSession, dir: String): DataFrame = {
    val img = Multimodal.ahashTable(spark, dir)
    val aud = Multimodal.audioFpWideTable(spark, dir)
      .select(col("doc_id"), col("afp_hi"), col("afp_lo"))
    val key = img.join(aud, Seq("doc_id"))
    val reps = key
      .groupBy(col("ahash_hi"), col("ahash_lo"),
        col("afp_hi"), col("afp_lo"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_class"))
      .select(col("doc_id"), col("n_class"))
    Dedup.shardAssignOn(reps)
      .select(col("doc_id"), col("n_class"), col("shard"), col("pos"))
  }

  /** The media cascade with the NEAR-dup decision folded in — what a
    * production media ingest runs between decode and layout (the
    * round-17 cascade stopped at the exact joint key; near-dup, CC
    * and keep-rep existed only as graded singles):
    *
    *   1–2. the two materialized decode passes ([[mediaPipeline]]);
    *   3. exact multimodal dedup on the joint content key → class
    *      representatives carrying the key forward;
    *   4. NEAR-dup closure over the representatives: routed banded
    *      pairs on EACH modality's key ([[Multimodal.verifiedHashPairsAuto]]
    *      — hash-granularity, never doc-pair expansion), composed
    *      into one component structure and closed transitively;
    *   5. keep-rep per component (min doc_id — which, at this stage,
    *      is min REP) with `n_docs` = total original records
    *      represented; deterministic shard layout of the keepers.
    *
    * CC GRANULARITY (the round-17 lesson, one step further): the
    * component graph is built on CLASS-CONTRACTION node ids — each
    * distinct image hash (among reps) contracts to its min rep doc,
    * each distinct audio fingerprint likewise — with three edge
    * families: joint-key incidence (a rep connects its image class to
    * its audio class), image near-dup hash pairs, audio near-dup hash
    * pairs. Components of this contracted graph equal components of
    * the rep graph under "near-dup on either modality OR shares a
    * class" (each rep's two class nodes are joined by its incidence
    * edge; classes connect exactly when a verified hash pair exists),
    * the min node id of a component IS its min rep doc_id (every node
    * id is a rep in the component, and the min rep's class node is
    * ≤ it), and edge volume is distinct-class-pairs + distinct-hash
    * pairs — never quadratic in class size. Small graphs collapse to
    * the driver union-find behind [[Dedup.componentLabels]]'s
    * gate.
    */
  def mediaPipelineNear(spark: SparkSession, dir: String): DataFrame =
    mediaPipelineNearOn(Multimodal.ahashTable(spark, dir),
      Multimodal.audioFpWideTable(spark, dir)
        .select(col("doc_id"), col("afp_hi"), col("afp_lo")))

  /** The cascade body on arbitrary (doc_id, ahash_hi, ahash_lo) /
    * (doc_id, afp_hi, afp_lo) frames — exposed so the spec can drive
    * planted multi-component fixtures through it (the graded corpus
    * collapses to one component: hash-matched but value-thin).
    */
  private[graft] def mediaPipelineNearOn(img: DataFrame,
      aud: DataFrame): DataFrame = {
    // stage 3: exact joint-key reps (groupBy-not-window, map-side
    // partials); consumed by three downstream joins — pin it
    val reps = img.join(aud, Seq("doc_id"))
      .groupBy(col("ahash_hi"), col("ahash_lo"),
        col("afp_hi"), col("afp_lo"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_class"))
      .localCheckpoint()
    // class-contraction node ids: min rep per image / audio class
    val imgMin = reps.groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(min(col("doc_id")).as("inode"))
    val audMin = reps.groupBy(col("afp_hi"), col("afp_lo"))
      .agg(min(col("doc_id")).as("anode"))
    // reps with both node ids — feeds the incidence edges AND the
    // final component lookup (pin: two consumers)
    val keyed = reps
      .join(imgMin, Seq("ahash_hi", "ahash_lo"))
      .join(audMin, Seq("afp_hi", "afp_lo"))
      .select(col("doc_id"), col("n_class"), col("inode"), col("anode"))
      .localCheckpoint()
    val incidence = keyed.select(col("inode").as("id_a"),
      col("anode").as("id_b")).distinct()
    // routed banded near-dup pairs per modality, contracted to node ids
    def nodePairs(hashes: DataFrame, minTbl: DataFrame,
        node: String): DataFrame =
      Multimodal.verifiedHashPairsAuto(hashes)
        .join(minTbl.select(col("ahash_hi").as("hi_a"),
          col("ahash_lo").as("lo_a"), col(node).as("id_a")),
          Seq("hi_a", "lo_a"))
        .join(minTbl.select(col("ahash_hi").as("hi_b"),
          col("ahash_lo").as("lo_b"), col(node).as("id_b")),
          Seq("hi_b", "lo_b"))
        .select(col("id_a"), col("id_b"))
    val ipairs = nodePairs(reps.select(col("ahash_hi"), col("ahash_lo")),
      imgMin, "inode")
    val apairs = nodePairs(
      reps.select(col("afp_hi").as("ahash_hi"), col("afp_lo").as("ahash_lo")),
      audMin.select(col("afp_hi").as("ahash_hi"),
        col("afp_lo").as("ahash_lo"), col("anode")),
      "anode")
    val labels = Dedup.componentLabels(
      incidence.unionByName(ipairs).unionByName(apairs))
    // stage 5: keep-rep (= the component label) + layout
    val keepers = keyed
      .join(labels.withColumnRenamed("id", "inode"), Seq("inode"))
      .groupBy(col("lbl").as("comp"))
      .agg(sum(col("n_class")).as("n_docs"))
      .select(col("comp").as("doc_id"), col("n_docs"))
    Dedup.shardAssignOn(keepers)
      .select(col("doc_id"), col("n_docs"), col("shard"), col("pos"))
  }

  /** The INCREMENTAL media cascade — [[mediaPipelineNear]]'s
    * daily-ingest form, composing the delta singles end-to-end: a new
    * batch decodes/hashes once, takes the FROZEN-REP exact-dedup
    * decision against the stored joint-key class table, probes the
    * stored per-modality band indexes for near-dup bridges, closes the
    * batch-local component structure, and APPENDS the newly-born
    * components to the stored shard layout via
    * [[Dedup.deltaShardAppend]] — existing layout rows are never
    * re-emitted, re-sorted, or rewritten.
    *
    * THE ABSORPTION ARGUMENT (why no stored CC labels are needed for
    * the append decision): a batch class joins an existing component
    * iff its component REACHES the base — and every path from a new
    * class to a base class ends in an edge whose new-side endpoint
    * directly touches base (shares or near-dups a stored hash, both
    * visible in the delta band probe). So CC runs over the
    * BATCH-LOCAL graph only (new reps, their class-incidence stars,
    * and new-new hash pairs), and a component is absorbed iff any
    * member touches base. Within an all-new component, full-graph
    * connectivity equals batch-local connectivity (a connecting base
    * node would mark both sides touched — contradiction), so the
    * emitted keepers are EXACTLY the full cascade's all-new
    * components: same min-rep keeper, same n_docs. Updating the
    * stored label table for FUTURE ingests remains
    * [[graft.operators.Multimodal.deltaImageDupClusters]]'s
    * maintenance job; this cascade makes the layout decision without
    * it.
    *
    * Stored state consumed (all narrow, written at prior ingests):
    * the joint-key class table (frozen reps), the two per-modality
    * band indexes (shared slots with the delta near-dup entries), and
    * the base shard layout. Base media tables are NEVER decoded,
    * re-banded, or re-clustered in the delta plan (plan-audited).
    * Output is the deltaShardAssignOn presentation: the frozen base
    * layout rows (n_docs as written at base ingest — the layout is an
    * append-only record of write-time decisions) plus the appended
    * new keepers, globally ordered for the gate.
    */
  def deltaMediaPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Scratch
    val img = Multimodal.ahashTable(spark, dir)
    val aud = Multimodal.audioFpWideTable(spark, dir)
      .select(col("doc_id"), col("afp_hi"), col("afp_lo"))
    val isNew = col("doc_id") % 10 >= 8
    val imgBase = img.filter(!isNew)
    val audBase = aud.filter(!isNew)
    // stored state 1: the base cascade's layout (what base ingest wrote)
    val layout = Scratch.storedOnce(spark, dir, "documents", "media_near_layout_base")(
      mediaPipelineNearOn(imgBase, audBase))
    // stored state 2: the base joint-key class table (the exact stage's
    // frozen reps — the table the frozen-rep decision reads)
    val reps = Scratch.storedOnce(spark, dir, "documents", "media_joint_reps_base")(
      imgBase.join(audBase, Seq("doc_id"))
        .groupBy(col("ahash_hi"), col("ahash_lo"),
          col("afp_hi"), col("afp_lo"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_class")))
    // stored state 3+4: the per-modality band indexes — the SAME slots
    // the delta near-dup entries probe (artifact sharing: one stored
    // index serves every delta consumer)
    val imgIdx = Multimodal.imageBandIndex(spark, dir, 8)
    val audIdx = Multimodal.baseBandIndex(spark, "delta_band_index_aud",
      dir, audBase.select(col("doc_id"), col("afp_hi").as("ahash_hi"),
        col("afp_lo").as("ahash_lo")))
    deltaMediaPipelineOn(layout, reps, imgIdx, audIdx,
      img.filter(isNew), aud.filter(isNew))
  }

  /** The delta cascade body on explicit stored tables — exposed so the
    * spec can drive planted absorption/birth fixtures through it and
    * the plan audit can pin the base-narrow consumption.
    */
  private[graft] def deltaMediaPipelineOn(baseLayout: DataFrame,
      baseReps: DataFrame, imgIdx: DataFrame, audIdx: DataFrame,
      imgBatch: DataFrame, audBatch: DataFrame): DataFrame = {
    val jk = Seq("ahash_hi", "ahash_lo", "afp_hi", "afp_lo")
    // stage A: frozen-rep exact dedup — batch classes whose joint key
    // is stored are ABSORBED here; classes new to the corpus go on
    val newCls = imgBatch.join(audBatch, Seq("doc_id"))
      .groupBy(jk.map(col): _*)
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
      .join(baseReps.select(jk.map(col): _*), jk, "left_anti")
      .localCheckpoint() // consumed by stars, probes, touch, keepers
    // per-modality class-contraction nodes among the new classes
    val nih = newCls.groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(min(col("rep")).as("inode")).localCheckpoint()
    val nah = newCls.groupBy(col("afp_hi"), col("afp_lo"))
      .agg(min(col("rep")).as("anode")).localCheckpoint()
    // stage B: delta near-dup probes — new hashes vs the STORED index
    // (plus each other); base hash sets come from the index read-back,
    // never a base-table scan
    val imgPairs = Multimodal.deltaBandHashPairsFromIndex(
      imgIdx, nih.select(col("ahash_hi"), col("ahash_lo")))
      .localCheckpoint()
    val audPairs = Multimodal.deltaBandHashPairsFromIndex(
      audIdx, nah.select(col("afp_hi").as("ahash_hi"),
        col("afp_lo").as("ahash_lo")))
      .localCheckpoint()
    val baseIH = imgIdx.select(col("ahash_hi"), col("ahash_lo")).distinct()
    val baseAH = audIdx.select(col("ahash_hi"), col("ahash_lo")).distinct()
    // base-TOUCH per new hash: equals a stored hash, or verified-pairs
    // with one (either pair side may be the stored one)
    def touched(pairs: DataFrame, newHashes: DataFrame,
        baseHashes: DataFrame): DataFrame = {
      val aSide = pairs.select(col("hi_a").as("ahash_hi"),
        col("lo_a").as("ahash_lo"), col("hi_b"), col("lo_b"))
      val bSide = pairs.select(col("hi_b").as("ahash_hi"),
        col("lo_b").as("ahash_lo"), col("hi_a").as("hi_b"),
        col("lo_a").as("lo_b"))
      aSide.unionByName(bSide)
        .join(baseHashes.select(col("ahash_hi").as("hi_b"),
          col("ahash_lo").as("lo_b")), Seq("hi_b", "lo_b"), "left_semi")
        .select(col("ahash_hi"), col("ahash_lo"))
        .unionByName(newHashes
          .join(baseHashes, Seq("ahash_hi", "ahash_lo"), "left_semi"))
        .distinct()
    }
    val touchIH = touched(imgPairs,
      nih.select(col("ahash_hi"), col("ahash_lo")), baseIH)
    val touchAH = touched(audPairs,
      nah.select(col("afp_hi").as("ahash_hi"),
        col("afp_lo").as("ahash_lo")), baseAH)
    // batch-local component graph: incidence stars (rep—inode,
    // rep—anode) + new-new hash-pair edges contracted to node ids
    val stars = newCls.join(nih, Seq("ahash_hi", "ahash_lo"))
      .select(col("rep").as("id_a"), col("inode").as("id_b"))
      .unionByName(newCls.join(nah, Seq("afp_hi", "afp_lo"))
        .select(col("rep").as("id_a"), col("anode").as("id_b")))
    def newNewEdges(pairs: DataFrame, nodes: DataFrame): DataFrame =
      pairs
        .join(nodes.select(col("ahash_hi").as("hi_a"),
          col("ahash_lo").as("lo_a"), col("inode").as("id_a")),
          Seq("hi_a", "lo_a"))
        .join(nodes.select(col("ahash_hi").as("hi_b"),
          col("ahash_lo").as("lo_b"), col("inode").as("id_b")),
          Seq("hi_b", "lo_b"))
        .select(col("id_a"), col("id_b"))
    val edges = stars
      .unionByName(newNewEdges(imgPairs, nih))
      .unionByName(newNewEdges(audPairs,
        nah.select(col("afp_hi").as("ahash_hi"),
          col("afp_lo").as("ahash_lo"), col("anode").as("inode"))))
      .filter(col("id_a") =!= col("id_b"))
    val labels = Dedup.componentLabels(edges)
    val repLbl = newCls.select(col("rep"))
      .join(labels.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .select(col("rep"), coalesce(col("lbl"), col("rep")).as("comp"))
      .localCheckpoint() // absorbed filter + keeper aggregation
    // a component is ABSORBED iff any member class touches base
    val touchedReps = newCls
      .join(touchIH, Seq("ahash_hi", "ahash_lo"), "left_semi")
      .select(col("rep"))
      .unionByName(newCls
        .join(touchAH, col("afp_hi") === touchAH("ahash_hi") &&
          col("afp_lo") === touchAH("ahash_lo"), "left_semi")
        .select(col("rep")))
    val absorbedComps = repLbl
      .join(touchedReps, Seq("rep"), "left_semi")
      .select(col("comp")).distinct()
    // stage C: newly-born components only — keeper = min rep (= the
    // component label by construction), n_docs = batch records
    val keepers = newCls.join(repLbl, Seq("rep"))
      .join(absorbedComps, Seq("comp"), "left_anti")
      .groupBy(col("comp").as("doc_id"))
      .agg(sum(col("n")).as("n_docs"))
      .localCheckpoint() // append + payload re-join
    val appended = Dedup.deltaShardAppend(
        baseLayout.select(col("doc_id"), col("shard")),
        keepers.select(col("doc_id")))
      .join(keepers, Seq("doc_id"))
      .select(col("doc_id"), col("n_docs"), col("shard"), col("pos"))
    baseLayout.select(col("doc_id"), col("n_docs"), col("shard"), col("pos"))
      .unionByName(appended)
      .orderBy(col("shard"), col("pos"))
  }

  /** The TEXT cascade's INCREMENTAL form — [[curationPipelineOn]]'s
    * daily-ingest shape, completing the delta-cascade symmetry
    * (q_delta_pipeline_media covered the media families): a new batch
    * flows quality filter → frozen-rep exact dedup against the STORED
    * survivor-norm table → decontamination against the stored eval
    * vocabulary EXTENDED by the batch's own eval shingles → packing
    * APPEND onto the stored sequence layout. Per-ingest text passes
    * touch the BATCH only; the base enters through three narrow
    * stored tables (survivor norms, eval shingle vocabulary, packed
    * layout) written at base ingest.
    *
    * Split rule is the delta-ANN id-PREFIX (doc_id < ⌊0.8n⌋ by integer
    * arithmetic): document ids are append-only, and the prefix is what
    * makes the packing append EQUAL the full recompute — pack order is
    * doc_id within shard, so batch docs (all ids above the base) slot
    * after every stored doc, stored sequence assignments never move,
    * and a batch doc's exclusive cumulative sum is (stored shard
    * tokens) + (batch-local cumsum). The per-shard LAST sequence may
    * still be open (stored tokens not budget-aligned), so arriving
    * docs can join it — the output merges that row rather than
    * breaking the seq_id arithmetic; fully-closed stored sequences are
    * frozen byte-for-byte (spec-pinned).
    *
    * FROZEN semantics, stated plainly (the q_delta_image_dedup
    * precedent): shipped base train sequences are never retro-audited
    * against shingles that arrive LATER — a base train doc whose only
    * contamination source is a NEW eval document stays in the stored
    * layout (production re-audits on a coarser cadence; unshipping
    * training shards per ingest is not a thing). Everything else
    * equals the full recompute under the prefix split: quality is
    * per-doc, frozen-rep dedup keeps the class min (always the base
    * doc when the class existed), and packing merges as argued above.
    * The DuckDB oracle re-derives the frozen composition closed-form:
    * the base-restricted cascade (the q_pipeline_e2e chain) plus the
    * delta half (anti-join dedup, union eval vocabulary, append
    * arithmetic over the stored layout's per-shard token totals).
    */
  def deltaCurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Scratch
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val b = n * 8 / 10
    val root = Scratch.slotOnce(spark, dir, "documents", "e2e_delta_base") { root =>
      // base ingest: ONE pass through the cascade rules, fanning out
      // to the three stored tables + the packed layout (parity with
      // curationPipelineOn is spec-pinned on the layout)
      val base = docs.filter(col("doc_id") < b)
      val qualityIds = TextAnalysis.corpusReasons(base)
        .select(col("doc_id"), col("reason"))
        .localCheckpoint()
        .filter(col("reason") === "keep")
        .select(col("doc_id"))
      val kept = base.select(col("doc_id"), col("text"))
        .join(qualityIds, Seq("doc_id"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val keepIds = kept
          .groupBy(normalized(col("text")).as("norm"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        val deduped = kept.join(keepIds, Seq("doc_id"), "left_semi")
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          deduped.select(normalized(col("text")).as("norm"))
            .write.mode("overwrite").parquet(s"$root/norms")
          val bucket = pmod(md5Hash32(col("text")), lit(10))
          val tagged = deduped
            .select(col("doc_id"), (bucket < 8).as("is_train"),
              explode(array_distinct(charShingles(normalized(col("text")),
                DecontaminationSpanK))).as("sh"))
            .select(col("doc_id"), col("is_train"),
              rollingFingerprint(col("sh")).as("hh"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          try {
            tagged.filter(!col("is_train")).select(col("hh")).distinct()
              .write.mode("overwrite").parquet(s"$root/eval_vocab")
            val cleanTrainIds = tagged.filter(col("is_train"))
              .join(graft.sources.Scratch.readParquetOnce(spark, s"$root/eval_vocab")
                .withColumn("hit", lit(1L)), Seq("hh"), "left")
              .groupBy(col("doc_id"))
              .agg(count(lit(1)).as("n_shingles"),
                sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
              .filter(col("n_overlap").cast("double") / col("n_shingles") <= MaxContamination)
              .select(col("doc_id"))
            TextAnalysis.packSequencesOn(
                deduped.join(cleanTrainIds, Seq("doc_id"), "left_semi"))
              .write.mode("overwrite").parquet(s"$root/packing")
          } finally { tagged.unpersist(); () }
        } finally { deduped.unpersist(); () }
      } finally { kept.unpersist(); () }
    }
    deltaCurationPipelineFrom(
      graft.sources.Scratch.readParquetOnce(spark, s"$root/norms"),
      graft.sources.Scratch.readParquetOnce(spark, s"$root/eval_vocab"),
      graft.sources.Scratch.readParquetOnce(spark, s"$root/packing"),
      docs.filter(col("doc_id") >= b))
  }

  /** The delta body over explicit stored tables — exposed for the
    * parity/frozen-region specs. `storedNorms(norm)`,
    * `storedEvalVocab(hh)`, `storedPacking(shard, seq_id, n_docs,
    * total_tokens, first_doc)`.
    */
  private[graft] def deltaCurationPipelineFrom(storedNorms: DataFrame,
      storedEvalVocab: DataFrame, storedPacking: DataFrame,
      batch: DataFrame): DataFrame = {
    // batch-only quality pass (per-doc rule, the cascade's stage 1)
    val qualityIds = TextAnalysis.corpusReasons(batch)
      .select(col("doc_id"), col("reason"))
      .localCheckpoint()
      .filter(col("reason") === "keep")
      .select(col("doc_id"))
    val kept = batch.select(col("doc_id"), col("text"))
      .join(qualityIds, Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // frozen-rep exact dedup: classes stored in the base keep their
      // shipped keeper (under the prefix split that IS the class min);
      // new classes elect min batch doc
      val keepIds = kept
        .groupBy(normalized(col("text")).as("norm"))
        .agg(min(col("doc_id")).as("doc_id"))
        .join(storedNorms.select(col("norm")), Seq("norm"), "left_anti")
        .select(col("doc_id"))
      val deduped = kept.join(keepIds, Seq("doc_id"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val bucket = pmod(md5Hash32(col("text")), lit(10))
        val tagged = deduped
          .select(col("doc_id"), (bucket < 8).as("is_train"),
            explode(array_distinct(charShingles(normalized(col("text")),
              DecontaminationSpanK))).as("sh"))
          .select(col("doc_id"), col("is_train"),
            rollingFingerprint(col("sh")).as("hh"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // the audit vocabulary GROWS with the batch's own eval docs
          // — new train docs must not leak against them either
          val evalVocab = storedEvalVocab.select(col("hh"))
            .unionByName(tagged.filter(!col("is_train")).select(col("hh")))
            .distinct().withColumn("hit", lit(1L))
          val cleanTrainIds = tagged.filter(col("is_train"))
            .join(evalVocab, Seq("hh"), "left")
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_shingles"),
              sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
            .filter(col("n_overlap").cast("double") / col("n_shingles") <= MaxContamination)
            .select(col("doc_id"))
          val cleanTrain = deduped.join(cleanTrainIds, Seq("doc_id"), "left_semi")
          // packing APPEND: batch docs slot after every stored doc in
          // the per-shard doc_id order, so their exclusive cumsum
          // offsets by the shard's stored token total; the per-shard
          // open LAST sequence merges via the final re-aggregation
          val baseTok = storedPacking.groupBy(col("shard"))
            .agg(sum(col("total_tokens")).as("base_tok"))
          val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)
          val npacked = cleanTrain
            .select(col("doc_id"),
              pmod(col("doc_id"), lit(TextAnalysis.PackShards.toLong)).as("shard"),
              size(tokens(col("text"))).cast("long").as("n_tok"))
            .withColumn("cum_local", coalesce(sum(col("n_tok")).over(w), lit(0L)))
            .join(baseTok, Seq("shard"), "left")
            .withColumn("seq_id", floor(
              (coalesce(col("base_tok"), lit(0L)) + col("cum_local"))
                / TextAnalysis.PackBudget).cast("long"))
            .groupBy(col("shard"), col("seq_id"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_tok")).as("total_tokens"),
              min(col("doc_id")).as("first_doc"))
          storedPacking
            .select(col("shard"), col("seq_id"), col("n_docs"),
              col("total_tokens"), col("first_doc"))
            .unionByName(npacked)
            .groupBy(col("shard"), col("seq_id"))
            .agg(sum(col("n_docs")).as("n_docs"),
              sum(col("total_tokens")).as("total_tokens"),
              min(col("first_doc")).as("first_doc"))
            .localCheckpoint()
            .orderBy(col("shard"), col("seq_id"))
        } finally { tagged.unpersist(); () }
      } finally { deduped.unpersist(); () }
    } finally { kept.unpersist(); () }
  }

  def curationPipelineOn(docs: DataFrame): DataFrame = {
    // Decision pass FIRST, as a narrow (doc_id, reason) table that is
    // checkpointed BEFORE filtering. Filtering corpusReasons directly
    // looks natural but is a 60× trap: predicate pushdown substitutes
    // the collapsed reason expression into the Filter condition, and
    // FilterExec (unlike ProjectExec) performs no subexpression
    // elimination — every `toks`/`ltoks`/`grams` reference re-tokenizes
    // the document, measured 61s vs 1s on the sf0.1 corpus. The
    // checkpoint pins the CASE to one Project evaluation and the keep
    // filter to a 16-byte-row scan; the corpus is then re-read once for
    // the semi join (columnar, doc_id+text only).
    val qualityIds = TextAnalysis.corpusReasons(docs)
      .select(col("doc_id"), col("reason"))
      .localCheckpoint()
      .filter(col("reason") === "keep")
      .select(col("doc_id"))
    val kept = docs.select(col("doc_id"), col("text"))
      .join(qualityIds, Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // exact-dedup keeper ids over the kept docs (min doc_id per
    // normalized text); LEFT SEMI keeps survivors without widening rows
    val keepIds = kept
      .groupBy(normalized(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = kept.join(keepIds, Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val bucket = pmod(md5Hash32(col("text")), lit(10))
      val tagged = deduped
        .select(col("doc_id"),
          (bucket < 8).as("is_train"),
          explode(array_distinct(charShingles(normalized(col("text")),
            DecontaminationSpanK))).as("sh"))
        .select(col("doc_id"), col("is_train"),
          rollingFingerprint(col("sh")).as("hh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val evalVocab = tagged.filter(!col("is_train"))
          .select(col("hh")).distinct().withColumn("hit", lit(1L))
        // contamination = fraction of a train doc's distinct shingles
        // present in the eval vocabulary — same raw-double comparison
        // discipline as corpusReasons (identical IEEE division in both
        // engines, never a rounded ratio)
        val cleanTrainIds = tagged.filter(col("is_train"))
          .join(evalVocab, Seq("hh"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
          .filter(col("n_overlap").cast("double") / col("n_shingles")
            <= MaxContamination)
          .select(col("doc_id"))
        val cleanTrain = deduped.join(cleanTrainIds, Seq("doc_id"), "left_semi")
        val packed = TextAnalysis.packSequencesOn(cleanTrain)
        // the localCheckpoint materializes NOW, while the three
        // persists are live, and the finally blocks release them
        packed.localCheckpoint().orderBy(col("shard"), col("seq_id"))
      } finally { tagged.unpersist(); () }
    } finally { kept.unpersist(); deduped.unpersist(); () }
  }
}
