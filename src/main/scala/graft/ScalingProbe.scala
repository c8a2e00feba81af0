package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (not driver-graded): measure operator scaling under
  * synthetic DIVERSE corpus growth — each added document draws fresh
  * token sequences, the 100 TB shape — the same probe methodology that
  * produced SURVEY §8's exact-Jaccard curves. Usage:
  * `runMain graft.ScalingProbe decontamination 5000 10000 20000 40000`.
  */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    // honor $SPARK_GRAFT_CPUS (LocalSession.cpus) so the probe can also take
    // CORE-SCALING points (round-22: the sf0.1 bench fixtures are too
    // small for any query to demonstrate parallel scaling — the
    // synthetic generators here are the right vehicle)
    val spark = LocalSession.build()
    import spark.implicits._

    val op = args.headOption.getOrElse("decontamination")
    val sizes = args.drop(1).map(_.toInt).toSeq match {
      case Nil => Seq(5000, 10000, 20000, 40000)
      case s => s
    }

    def corpusRange(lo: Long, hi: Long): DataFrame = {
      val words = Vector("key", "agg", "row", "scan", "slow", "fast", "table",
        "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
        "window", "stream", "group", "vector", "filter", "join", "query",
        "order", "data", "column", "small", "big", "the", "customer", "a")
      spark.range(lo, hi).map { id =>
        val rnd = new scala.util.Random(id * 2654435761L + 17)
        val len = 40 + rnd.nextInt(120)
        (id, Vector.fill(len)(words(rnd.nextInt(words.size))).mkString(" "))
      }.toDF("doc_id", "text")
    }

    def corpus(n: Int): DataFrame = corpusRange(0L, n.toLong)

    // stored-index sidecar for the delta_bm25 probe: the three small
    // maintained tables (dl/df/stats), built by the gen lambda OUTSIDE
    // timing alongside the postings frame it returns
    var bm25Stored: Seq[DataFrame] = Nil

    // stored-model sidecar for the delta_semdedup probe (the same
    // pattern): the base-fitted centroid table, built in the gen
    // lambda outside timing alongside the decision table it returns
    var semdedupCents: DataFrame = null

    // stored-index sidecar for the delta_winnow probe: per-doc sizes
    // and per-fp df, built alongside the postings the gen returns
    var winnowStored: Seq[DataFrame] = Nil

    // stored-index sidecar for the delta_lex probe: norms, shingle
    // postings, and per-shingle df next to the tf postings gen returns
    var lexStored: Seq[DataFrame] = Nil

    // stored-label sidecar for the retract_cc probe: the converged
    // label table next to the pair graph the gen returns
    var ccLabels: DataFrame = null

    /** Duplicate-heavy corpus: 30% of documents are verbatim copies
      * drawn from a 50-template pool (boilerplate/mirror pages — the
      * shape that breaks posting-list pair enumeration: each
      * template's winnow fingerprints reach df ≈ 0.3·n/50, thousands
      * of documents per key at 1M, where un-capped pairing would emit
      * df² pairs per key). The remaining 70% are diverse as in
      * [[corpus]]. Probes with this generator PROVE the df-cap /
      * repeat-filter skew bounds rather than assuming them.
      */
    def dupCorpus(n: Int): DataFrame = {
      val words = Vector("key", "agg", "row", "scan", "slow", "fast", "table",
        "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
        "window", "stream", "group", "vector", "filter", "join", "query",
        "order", "data", "column", "small", "big", "the", "customer", "a")
      val templates = (0 until 50).map { t =>
        val rnd = new scala.util.Random(t * 7900001L + 3)
        Vector.fill(40 + rnd.nextInt(120))(words(rnd.nextInt(words.size)))
          .mkString(" ")
      }.toVector
      spark.range(n.toLong).map { id =>
        val rnd = new scala.util.Random(id * 2654435761L + 17)
        if (id % 10 < 3) (id, templates(rnd.nextInt(templates.size)))
        else if (id % 10 == 3) {
          // SMALL duplicate clusters (df ≈ 10, under the df-cap): the
          // ten docs with id%10==3 inside each 100-id block share one
          // fresh text — these MUST still pair while the mega-classes
          // above are df-capped away; proves cap ≠ lobotomy. The text
          // mixes in block-UNIQUE tokens: with only the 30-word base
          // vocabulary every 15-char window is corpus-ubiquitous and
          // the df-cap (correctly) drops it, so cluster-rare
          // fingerprints need cluster-rare vocabulary — as real
          // near-dup documents have
          val block = id / 100
          val brnd = new scala.util.Random(block * 48271L + 11)
          val len = 40 + brnd.nextInt(120)
          // two-thirds of the vocabulary block-unique so well over
          // half of each cluster doc's selected fingerprints survive
          // the df-cap — at 50/50 the ≥50% containment cut sits ON the
          // decision boundary and only ~0.5% of clusters pair (the cut
          // correctly reads half-boilerplate overlap as noise)
          // base-36 mixed-alphabet tokens: a shared literal prefix
          // (e.g. "uniq<block>") leaks cross-block 8-grams whose df
          // then exceeds the cap at 1M docs
          val vocab = words ++ (0 until 60).map(j =>
            java.lang.Long.toString(
              (block + 7) * 1000003L + j * 7919L + 12345L, 36))
          (id, Vector.fill(len)(vocab(brnd.nextInt(vocab.size))).mkString(" "))
        } else {
          val len = 40 + rnd.nextInt(120)
          (id, Vector.fill(len)(words(rnd.nextInt(words.size))).mkString(" "))
        }
      }.toDF("doc_id", "text")
    }

    /** Clustered synthetic embeddings (~√n clusters of 64-dim gaussians —
      * the shape a topic-clustered 100 TB embedding table has) for the
      * graph-ANN probes.
      */
    def embCorpus(n: Int): DataFrame = {
      val k = math.max(4, math.sqrt(n.toDouble).toInt)
      spark.range(n.toLong).map { id =>
        val c = (id % k).toInt
        val crnd = new scala.util.Random(c * 1000003L + 7)
        val center = Array.fill(64)(crnd.nextGaussian().toFloat)
        val rnd = new scala.util.Random(id * 2654435761L + 31)
        (id, center.map(x => x + 0.3f * rnd.nextGaussian().toFloat))
      }.toDF("vec_id", "embedding")
    }

    /** [[embCorpus]] over an arbitrary id range with a FIXED 1024
      * clusters — the delta-ANN probes need base/batch/query slices
      * whose geometry does not shift with n.
      */
    def embRange(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).map { id =>
        val c = (id % 1024).toInt
        val crnd = new scala.util.Random(c * 1000003L + 7)
        val center = Array.fill(64)(crnd.nextGaussian().toFloat)
        val rnd = new scala.util.Random(id * 2654435761L + 31)
        (id, center.map(x => x + 0.3f * rnd.nextGaussian().toFloat))
      }.toDF("vec_id", "embedding")

    // DIVERSE synthetic 64-bit hashes (d ≈ n distinct — the shape the
    // fixture synth can never make: its pixel pattern is an offset mod
    // 256, so d ≤ 256 always); shared by both banding-tier probes so
    // their crossover is apples-to-apples
    def diverseHashes(docs: DataFrame): DataFrame = {
      import spark.implicits._
      docs.select(col("doc_id")).as[Long].map { id =>
        val r = new scala.util.Random(id * 6364136223846793005L + 11)
        (id, r.nextInt().toLong & 0xffffffffL,
          r.nextInt().toLong & 0xffffffffL)
      }.toDF("doc_id", "ahash_hi", "ahash_lo")
    }

    // band-skewed variant of diverseHashes: band 0 (low 16 bits of lo)
    // pinned to one value, the rest mixed — hashes EXACTLY distinct
    // (hi = odd-constant multiply mod 2^32, a bijection on doc_id for
    // the probe's < 2^32 id range — the old 48-bit random draw left
    // birthday repeats at 16M rows) but one 4-band bucket holds the
    // whole corpus
    def skewedHashes(docs: DataFrame): DataFrame = {
      import spark.implicits._
      docs.select(col("doc_id")).as[Long].map { id =>
        val r = new scala.util.Random(id * 6364136223846793005L + 19)
        (id, (id * 2654435761L) & 0xffffffffL,
          ((r.nextInt().toLong & 0xffffL) << 16) | 0xbeefL)
      }.toDF("doc_id", "ahash_hi", "ahash_lo")
    }

    // ONE 1000-phrase probe batch shared by `phrase_batch` and
    // `proximity_batch` so the hit-count comparison between them stays
    // like-for-like (editing the vocabulary or seed in one place can't
    // silently desynchronize the pair); words drawn from the corpus
    // generator's own vocabulary above
    lazy val probePhrases: Seq[(Long, Seq[String])] = {
      val words = Vector("key", "agg", "row", "scan", "slow", "fast",
        "table", "value", "part", "hash", "merge", "batch", "spark",
        "line", "sort", "window", "stream", "group", "vector", "filter",
        "join", "query", "order", "data", "column", "small", "big",
        "the", "customer", "a")
      (0 until 1000).map { qid =>
        val rnd = new scala.util.Random(qid * 104729L + 13)
        (qid.toLong,
          Seq.fill(2 + rnd.nextInt(3))(words(rnd.nextInt(words.size))))
      }
    }

    // `n` is the known generated size, threaded in so no probe op ever
    // needs a docs.count() inside the timed region (an extra full pass
    // that isn't part of the op's own cost model)
    def run(docs: DataFrame, n: Int): DataFrame = op match {
      case "decontamination" => graft.operators.Dedup.decontaminationOn(docs)
      case "decon_bloom"     => graft.operators.Dedup.decontaminationBloomOn(docs)
      case "jaccard"         => graft.operators.Dedup.ngramJaccardPairsOn(docs)
      case "lsh"             => graft.operators.Dedup.minhashLshPairsOn(docs, prodHash = true)
      case "exact"           => graft.operators.Dedup.exactDedupOn(docs)
      case "substring"       => graft.operators.Dedup.substringDedupOn(docs)
      case "substring_decon" => graft.operators.Dedup.substringDecontaminationOn(docs)
      case "winnow_pairs"    => graft.operators.TextAnalysis.winnowPairsOn(docs)
      // INCREMENTAL winnow near-dup: docs = the stored n-doc postings
      // (sizes/df in the gen sidecar, all outside timing); timed = one
      // 10k-batch winnow selection + union-df delta-apply + df-capped
      // posting probes. Compare winnow_pairs at equal n, which
      // re-winnows and re-pairs the whole corpus every run.
      case "delta_winnow"    => graft.operators.TextAnalysis
        .deltaWinnowPairsFrom(docs, winnowStored(0), winnowStored(1),
          corpusRange(n.toLong, n.toLong + 10000).localCheckpoint())
      // duplicate-heavy variants (30% template copies, `_dup` suffix
      // routes them onto dupCorpus below): skew-bound proofs
      case "substring_dup"   => graft.operators.Dedup.substringDedupOn(docs)
      case "winnow_pairs_dup" => graft.operators.TextAnalysis.winnowPairsOn(docs)
      // 3-poly paranoid tier on the DIVERSE corpus on purpose (no _dup
      // suffix): an apples-to-apples 2-hash vs 3-hash cost comparison
      // against the plain `substring` probe above
      case "substring_p3"    => graft.operators.Dedup.substringDedupOn(docs,
        graft.operators.Dedup.SubstringL, paranoid = true)
      case "delta"           => graft.operators.Dedup.deltaDedupOn(docs)
      case "lexical"         => graft.operators.Dedup.lexicalCosineOn(docs)
      // INCREMENTAL lexical cosine: docs = the stored tf postings
      // (norms/shingles/df in the gen sidecar, outside timing); timed
      // = one 10k-batch tokenize + union-df apply + df-capped shingle
      // probes + the verified dot. Compare `lexical` at equal n.
      case "delta_lex"       => graft.operators.Dedup.deltaLexicalCosineFrom(
        docs, lexStored(0), lexStored(1), lexStored(2),
        corpusRange(n.toLong, n.toLong + 10000).localCheckpoint())
      // INCREMENTAL substring dedup (the delta_shard discipline): docs
      // = the stored distinct base window-key table (the gen output,
      // built outside timing — 2 longs per distinct window, exactly
      // what prior ingests persisted). Timed work = ONE rolling pass
      // over a fixed 10k batch + the batch-keyed repeat count + the
      // stored-key semi join + the islands merge. The base enters
      // through the key-table scan only, never a re-hash of base text
      // — compare `substring` at equal n, which re-hashes everything.
      case "delta_substring" => graft.operators.Dedup.deltaSubstringFromKeys(
        docs, corpusRange(n.toLong, n.toLong + 10000).localCheckpoint())
      // shards sized ~√n (production sizes them to target file bytes;
      // the point is per-shard work must stay bounded as n grows)
      case "shard"           => graft.operators.Dedup.shardAssignOn(
        docs.select("doc_id"),
        math.max(8, math.sqrt(n.toDouble).toInt))
      // incremental layout: FIXED 100k batch appended to an n-row
      // pre-built assignment (the gen output, checkpointed outside the
      // timing) — the curve isolates the ingest cost's base-size term
      // (claimed metadata-grade: one narrow shard-column scan). Probes
      // the PRODUCTION batch-only op, not the graded union+sort
      // presentation, so the measurement matches what an ingest pays.
      case "delta_shard"     => graft.operators.Dedup.deltaShardAppend(
        docs, spark.range(n.toLong, n.toLong + 100000).toDF("doc_id"))
      case "phrase"          => graft.operators.Retrieval.phraseSearchOn(docs,
        graft.operators.Retrieval.PhraseQuery)
      // 1000 deterministic 2-4-term phrases through ONE postings
      // build: against the single-`phrase` probe above this proves the
      // batch costs one corpus scan + Σ df joins, not 1000 rescans
      case "phrase_batch"    =>
        graft.operators.Retrieval.phraseBatchOn(spark, docs, probePhrases)
      // single NEAR/k probe vs the 1000-phrase batch below — the
      // phrase/phrase_batch pair's proximity twin
      case "proximity"       => graft.operators.Retrieval.proximitySearchOn(
        docs, graft.operators.Retrieval.PhraseQuery,
        graft.operators.Retrieval.ProximityK)
      case "proximity_batch" =>
        graft.operators.Retrieval.proximityBatchOn(spark, docs,
          probePhrases, graft.operators.Retrieval.ProximityK)
      // decode-only linear baseline vs the banded pair join on top of
      // it — the pair (like `phrase`/`phrase_batch`) isolates which
      // term dominates growth
      case "image_ahash"     => graft.operators.Multimodal.ahashOf(spark, docs)
      case "image_neardup"   => graft.operators.Multimodal.imageNeardupOn(spark, docs)
      // the linear-output dedup DECISION (one row per image) — the
      // production entry at repeat-heavy scale, vs the pair contract
      // above whose output is quadratic in class size by definition
      // checkpoint the hash table: imageDedupOn consumes it on BOTH
      // join sides, so an unmaterialized frame would decode the
      // corpus twice and the probe would report ~2x the real cost
      case "image_dedup"     => graft.operators.Multimodal.imageDedupOn(
        graft.operators.Multimodal.ahashOf(spark, docs).localCheckpoint())
      // audio fingerprint is map-only synth+RIFF-parse per clip — the
      // probe documents the linear decode term (the image_ahash twin)
      case "audio_fp"        =>
        graft.operators.Multimodal.audioFingerprintOn(spark, docs)
      // the 64-frame wide kernel: same RIFF walk, 4x the bit loop —
      // the curve documents the widening's decode-side cost is noise
      case "audio_fp_wide"   =>
        graft.operators.Multimodal.audioFpWideOf(spark, docs)
      // DIVERSE-hash near-dup probe: ~uniform synthetic 64-bit hashes
      // (d ≈ n distinct — the shape the fixture synth can never make:
      // its pixel pattern is an offset mod 256, so d ≤ 256 always).
      // Decouples the BANDING join's growth from decode (linear,
      // probed) and from the repeat corpus's output-quadratic pair
      // contract: with 4×16-bit bands candidate volume is
      // Σ_buckets C(occ, 2) ≈ 4·n²/2^17 — quadratic in DISTINCT
      // hashes, the documented boundary of the 4-band design
      case "image_neardup_div" => {
        graft.operators.Multimodal.neardupFromHashes(diverseHashes(docs))
      }
      // the Manku wide tier on the SAME diverse-hash generator: the
      // crossover between this probe and image_neardup_div sets
      // the router constant (BASELINE.md round 17)
      case "image_neardup_div_wide" => {
        graft.operators.Multimodal.neardupFromHashesWide(diverseHashes(docs))
      }
      // BAND-SKEWED diverse hashes (every hash shares 16-bit band 0 —
      // the dark-image/blank-region shape): the 4-band tier owes
      // C(d,2) candidate enumerations from that one band, quadratic at
      // ANY d; the occupancy router must measure this and escalate.
      // The _skew4 twin FORCES the 4-band tier on the same hashes —
      // run it only at small sizes, its cost is the point.
      case "image_neardup_div_skew" => {
        graft.operators.Multimodal.neardupFromHashesAuto(skewedHashes(docs))
      }
      case "image_neardup_div_skew4" => {
        graft.operators.Multimodal.neardupFromHashes(skewedHashes(docs))
      }
      // CC under ingest, both arms on the SAME synthetic graph: n/2
      // two-node components (pairs (2k, 2k+1)) plus today's 100k
      // bridge batch (pairs (4k, 4k+2), merging adjacent components).
      // `cc_full` re-labels the WHOLE graph per ingest — docs = the
      // full pair list, through the gated componentLabels (driver
      // union-find below 2^20 edges, the pointer-jumping loop above
      // it); `cc_delta` maintains — docs = the n-row STORED label
      // table (the gen output, built outside timing, exactly what a
      // production ingest reads), bridges contract to stored labels
      // and only a batch-sized mini-CC runs. The curves isolate the
      // maintenance claim: delta's base term is the narrow label
      // scan, never the loop.
      case "cc_full" =>
        graft.operators.Dedup.componentLabels(docs)
      case "cc_delta" =>
        graft.operators.Dedup.maintainComponentLabels(docs,
          spark.range(100000L)
            .select((col("id") * 4).as("id_a"), (col("id") * 4 + 2).as("id_b")))
      // incremental media ingest: FIXED 100k diverse-hash batch probed
      // against an n-hash stored base (the gen output, checkpointed
      // outside timing — the delta_shard discipline). The curve's
      // base-size term must stay LINEAR (one map-only band projection
      // of the stored index + the narrow expansion scans) where the
      // full re-band (image_neardup_div at the same n) goes visibly
      // quadratic past ~8M distinct hashes.
      case "image_neardup_delta" =>
        graft.operators.Multimodal.deltaNeardupFromHashes(docs,
          diverseHashes(spark.range(n.toLong, n.toLong + 100000)
            .toDF("doc_id")).localCheckpoint())
      // deliberate probe of the BLOCKED build at any size (the library
      // refusal is bypassed here on purpose — measuring its DNF point
      // is how BlockedBuildMaxN was established); graphann_auto probes
      // the routed production entry instead
      // INCREMENTAL ANN maintenance (the delta_shard discipline): the
      // stored state is the gen output (outside timing); timed work is
      // the batch's maintenance plus one serve. delta_knn_ivf: docs =
      // the n-row ASSIGNED base layout; timed = a constant-size
      // quantizer stand-in (fit on a FIXED 4096-vector seed — in
      // production this is a read of the stored centroid table),
      // 100k-batch stateless assignment, probe plan, cell-filtered
      // union search. The curve's base term is the filtered scan —
      // compare ivf_exact at equal n, whose Lloyd chain re-fits the
      // whole corpus every run.
      case "delta_knn_ivf" => {
        val cents = graft.operators.Similarity
          .ivfFitCents(spark, embRange(0, 4096))
        graft.operators.Similarity.deltaIvfProbe(docs, cents,
          embRange(n.toLong, n.toLong + 100000).localCheckpoint(),
          embRange(0, 10))
      }
      // delta_knn_graph: docs = the stored n-node edge table (synthetic
      // mix31 out-edges, degree GraphM — edge CONTENT is irrelevant to
      // the cost shape, edge VOLUME is what the insert beam joins);
      // timed = a 4096-vector insert batch's beam-searched link
      // selection + the 10-query serve over stored ∪ inserted edges.
      // Inserts run in bounded micro-batches by design — the beam
      // frame (|batch| × GraphBeam rows) is broadcast per hop, so a
      // production ingest slices millions of arrivals into batches
      // this size rather than beaming them all at once. Compare
      // graphann_nnd at equal n, which rebuilds R rounds of O(N·M²).
      case "delta_knn_graph" => {
        val base = embRange(0, n.toLong)
        val batch = embRange(n.toLong, n.toLong + 4096).localCheckpoint()
        val inserted = graft.operators.Similarity
          .deltaGraphInsertEdges(base, docs, batch)
        graft.operators.Similarity.graphSearch(
          base.unionByName(batch), docs.unionByName(inserted))
      }
      case "graphann"        => graft.operators.Similarity.graphSearch(docs,
        graft.operators.Similarity.graphAnnEdges(spark, docs, maxN = Long.MaxValue))
      case "graphann_auto"   => graft.operators.Similarity.graphKnnAutoOn(spark, docs)
      case "graphann_nnd"    => graft.operators.Similarity.graphKnnNndOn(spark, docs)
      case "ivf"             => graft.operators.Similarity.ivfKnnOn(spark, docs)
      case "ivf_exact"       => graft.operators.Similarity.ivfKnnExactOn(spark, docs)
      case "pq"              => graft.operators.Similarity.pqKnnOn(spark, docs)
      case "lm"              => graft.operators.TextAnalysis.lmTypicalityOn(docs)
      case "pool"            => graft.operators.Similarity.embeddingPoolOn(docs)
      case "kmeans"          => graft.operators.Similarity.kmeansAssignOn(spark, docs)
      case "semdedup"        => graft.operators.Similarity.semanticDedupOn(spark, docs)
      // INCREMENTAL SemDeDup: docs = the stored n-row decision table
      // (gen output — base assignment vs FIXED 1024-cell centroids fit
      // on a 4096-vector seed, outside timing). Timed = a 4096-vector
      // batch's stateless assignment + the pruned batch×stored decision
      // join + the batch-internal pass — O(batch · n/k) pair work,
      // linear in base at fixed k, vs semdedup_sqrtk's Σ n_c² ≈ N^1.5
      // full recompute (which also re-runs the Lloyd chain every time).
      case "delta_semdedup"  => graft.operators.Similarity.deltaSemDedupFrom(
        semdedupCents, docs,
        embRange(n.toLong, n.toLong + 4096).localCheckpoint(), 0.4)
      // the scale path: k sized ~√N so within-cluster pair work stays ~N^1.5
      case "semdedup_sqrtk"  =>
        graft.operators.Similarity.semanticDedupOn(spark, docs, 0.4,
          math.max(8, math.sqrt(n.toDouble).toInt))
      case "boilerplate"     => graft.operators.TextAnalysis.removeBoilerplateOn(docs)
      case "bm25"            => graft.operators.Retrieval.bm25On(docs)
      // INCREMENTAL BM25 (the delta_shard discipline): docs = the
      // stored n-doc postings table, dl/df/stats prebuilt in the gen
      // sidecar — all outside timing. Timed work = ONE tokenization
      // pass over a fixed 10k batch plus the word-keyed delta-applies
      // and the query-bounded scoring; the base enters through narrow
      // stored-table scans only, never a re-tokenization. Compare bm25
      // at equal n, which re-tokenizes the corpus every run.
      case "delta_bm25"      => graft.operators.Retrieval.deltaBm25From(
        docs, bm25Stored(0), bm25Stored(1), bm25Stored(2),
        corpusRange(n.toLong, n.toLong + 10000).localCheckpoint())
      case "bm25_nopersist"  => graft.operators.Retrieval.bm25On(docs, persistPostings = false)
      // RETRACTION probes: stored index + a FIXED 10k-id tombstone
      // list — timed work is anti-joins + negative delta-applies +
      // scoring, no text ever read. Compare the `bm25` rebuild curve
      // at equal n (re-tokenizes the whole corpus every run): the
      // retract curve's slope is the narrow index scans only.
      case "retract_bm25"    => graft.operators.Retrieval.retractBm25From(
        docs, bm25Stored(0), bm25Stored(1), bm25Stored(2),
        spark.range(10000L).toDF("doc_id"))
      // retract_cc: docs = the stored n-node pair graph (n/2 disjoint
      // 2-cliques), labels prebuilt in the gen sidecar; tombstones
      // delete one member of 10k cliques — touched components stay
      // fixed at 10k while the base grows, so the relabel cost is
      // bounded by TOUCHED edges and the curve's slope is the
      // anti-join scans of the stored tables. Compare cc_full.
      // tombstone count clamped to n/4 cliques: the fixed 10k list
      // assumed n ≥ 40k — at smaller probe points most tombstones
      // missed the stored graph and the low end of the curve
      // understated relabel cost (round-20 advice)
      case "retract_cc"      => graft.operators.Dedup.retractComponentLabels(
        ccLabels, docs,
        spark.range(math.min(10000L, n.toLong / 4))
          .select((col("id") * 4 + 1).as("doc_id")))
      // drift_decision: the refit router's MEASURED statistic alone
      // (16 sampled insert queries: one serving beam over the stored
      // edge table + one exact broadcast scan) — compare graphann_nnd
      // at equal n to see the decision is o(refit), and note it is
      // FLAT in the number of accumulated ingests (the router's point).
      case "drift_decision"  => {
        val e = embRange(0, n.toLong + 4096).localCheckpoint()
        val r = graft.operators.Similarity
          .measuredInsertRecall(e, docs, n.toLong, 16)
        spark.range(1).select(lit(r).as("recall"))
      }
      case "dsir"            => graft.operators.Retrieval.dsirWeightsOn(
        docs.withColumn("source", concat(lit("src"), (col("doc_id") % 20).cast("string"))))
      case "quality"         => graft.operators.TextAnalysis.qualityModelOn(docs)
      case "bpe"             => graft.operators.Tokenizer.bpeMergesOn(spark, docs)
      case "bpe_tokenize"    => graft.operators.Tokenizer.bpeTokenizeOn(spark, docs)
      case "kcenter"         => graft.operators.Similarity.kCenterSelectOn(spark, docs)
      case "hardneg"         => graft.operators.Similarity.hardNegativesOn(spark,
        docs.withColumn("label", (col("vec_id") % 16).cast("int")))
      case "paths"           => graft.operators.EventAnalytics.eventPathsOn(spark, docs)
      case other             => sys.error(s"unknown op $other")
    }

    /** Skewed synthetic event stream: HALF of all events belong to one
      * bot user (the heavy-key shape that breaks unbounded per-user
      * collects), the rest spread over ~n/100 normal users.
      */
    def eventCorpus(n: Int): DataFrame = {
      val types = Vector("view", "click", "scroll", "purchase", "login")
      spark.range(n.toLong).map { id =>
        val rnd = new scala.util.Random(id * 2654435761L + 53)
        val user = if (id % 2 == 0) 0L
                   else 1L + rnd.nextInt(math.max(1, n / 100)).toLong
        (id, user,
          new java.sql.Timestamp(1700000000000L + rnd.nextInt(86400000).toLong),
          types(rnd.nextInt(types.size)))
      }.toDF("event_id", "user_id", "ts", "event_type")
    }

    val embOps = Set("pool", "kmeans", "semdedup", "semdedup_sqrtk",
      "ivf", "ivf_exact", "pq", "kcenter", "hardneg")
    val gen: Int => DataFrame =
      if (op == "paths") eventCorpus
      else if (op.startsWith("graphann") || embOps(op)) embCorpus
      // the delta probe's INPUT is the pre-built n-row assignment
      // table itself (checkpointed by the sizes loop, outside timing)
      else if (op == "delta_shard")
        (n => graft.operators.Dedup.shardAssignOn(
          spark.range(n.toLong).toDF("doc_id")))
      // the delta-ingest probe's input is the pre-built n-hash base
      // table itself (stored at prior ingests in production)
      else if (op == "image_neardup_delta")
        (n => diverseHashes(spark.range(n.toLong).toDF("doc_id")))
      // cc_full consumes the full pair list (base pairs + the bridge
      // batch); cc_delta consumes the stored label table of the base
      else if (op == "cc_full")
        (n => spark.range(n.toLong / 2)
          .select((col("id") * 2).as("id_a"), (col("id") * 2 + 1).as("id_b"))
          .unionByName(spark.range(100000L)
            .select((col("id") * 4).as("id_a"), (col("id") * 4 + 2).as("id_b"))))
      else if (op == "cc_delta")
        (n => spark.range(n.toLong / 2)
          .select((col("id") * 2).as("id"), (col("id") * 2).as("lbl"))
          .unionByName(spark.range(n.toLong / 2)
            .select((col("id") * 2 + 1).as("id"), (col("id") * 2).as("lbl"))))
      // stored delta-ANN state, built outside timing: the assigned
      // base layout (ivf) / the base edge table (graph)
      else if (op == "delta_knn_ivf")
        (n => graft.operators.Similarity.ivfAssignTo(
          graft.operators.Similarity.ivfFitCents(spark, embRange(0, 4096)),
          embRange(0, n.toLong)))
      else if (op == "delta_knn_graph")
        (n => (0 until graft.operators.Similarity.GraphM).map { s =>
          spark.range(n.toLong).select(col("id").as("src"),
            pmod(graft.operators.Similarity.mix31(col("id"), 1000L + s),
              lit(n.toLong)).as("dst"))
        }.reduce(_ unionByName _).filter(col("src") =!= col("dst")))
      // stored substring index: the distinct base window keys (what
      // prior ingests persisted); built outside timing
      else if (op == "delta_substring")
        (n => {
          val L = graft.operators.Dedup.SubstringL
          import graft.functions.TextFunctions.{rollingWindowFingerprint, rollingWindowFingerprint2}
          corpus(n).filter(length(col("text")) >= L)
            .select(posexplode(org.apache.spark.sql.functions.zip_with(
              rollingWindowFingerprint(col("text"), L),
              rollingWindowFingerprint2(col("text"), L),
              (a, b) => struct(a.as("h1"), b.as("h2")))))
            .select(col("col.h1").as("h1"), col("col.h2").as("h2"))
            .distinct()
        })
      // stored semdedup state: base decision table vs fixed centroids
      else if (op == "delta_semdedup")
        (n => {
          semdedupCents = graft.operators.Similarity
            .kmeansCentroids(spark, embRange(0, 4096), 1024)
            .localCheckpoint()
          graft.operators.Similarity.semdedupAssign(semdedupCents,
            embRange(0, n.toLong))
        })
      // stored lexical index: tf postings + (norms, shingles, df)
      else if (op == "delta_lex")
        (n => {
          val (tf, sh) = graft.operators.Dedup.lexIndexOf(corpus(n))
          val tfC = tf.localCheckpoint()
          val shC = sh.localCheckpoint()
          lexStored = Seq(
            tfC.groupBy(col("doc_id"))
              .agg(sum(col("tf") * col("tf")).as("norm2")).localCheckpoint(),
            shC,
            shC.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
              .localCheckpoint())
          tfC
        })
      // stored winnow index: postings + (sizes, df) sidecar
      else if (op == "delta_winnow")
        (n => {
          val fps = graft.operators.TextAnalysis
            .winnowFingerprintsOn(corpus(n))
            .select(col("doc_id"), col("fp")).distinct().localCheckpoint()
          winnowStored = Seq(
            fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
              .localCheckpoint(),
            fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
              .localCheckpoint())
          fps
        })
      // retraction probes share the delta gens' stored-index shapes
      else if (op == "retract_cc")
        (n => {
          ccLabels = spark.range(n.toLong / 2)
            .select((col("id") * 2).as("id"), (col("id") * 2).as("lbl"))
            .unionByName(spark.range(n.toLong / 2)
              .select((col("id") * 2 + 1).as("id"), (col("id") * 2).as("lbl")))
            .localCheckpoint()
          spark.range(n.toLong / 2)
            .select((col("id") * 2).as("id_a"), (col("id") * 2 + 1).as("id_b"))
        })
      else if (op == "drift_decision")
        (n => (0 until graft.operators.Similarity.GraphM).map { s =>
          spark.range(n.toLong).select(col("id").as("src"),
            pmod(graft.operators.Similarity.mix31(col("id"), 1000L + s),
              lit(n.toLong)).as("dst"))
        }.reduce(_ unionByName _).filter(col("src") =!= col("dst")))
      else if (op == "retract_bm25" || op == "delta_bm25")
        (n => {
          val tfB = graft.operators.Retrieval.postings(corpus(n))
            .localCheckpoint()
          bm25Stored = Seq(
            tfB.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
              .localCheckpoint(),
            tfB.groupBy(col("word")).agg(count(lit(1)).as("df"))
              .localCheckpoint(),
            tfB.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
              .agg(sum(col("dl")).as("tot_dl"), count(lit(1)).as("n_docs"))
              .localCheckpoint())
          tfB
        })
      else if (op.startsWith("image_") || op.startsWith("audio_fp"))
        (n => spark.range(n.toLong).toDF("doc_id")) // decode needs ids only
      else if (op.endsWith("_dup")) dupCorpus
      else corpus

    // warm-up (JIT of the shingle/hash codegen paths)
    run(gen(512), 512).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    sizes.foreach { n =>
      val docs = gen(n).localCheckpoint() // generation cost out of the timing
      val t0 = System.nanoTime()
      val rows = run(docs, n).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"SCALING op=$op n=$n%6d rows=$rows%8d time=$dt%7.2f s")
    }
    spark.stop()
  }
}
