package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-20 operators: RETRACTION (tombstone) maintenance for the four
  * stored text-index families — the inverse lifecycle half of the
  * round-19 ingest deltas. Every test pins maintained == rebuilt on a
  * split the fixture rules never use (mod-3 tombstones), so the algebra
  * is proven, not the fixture.
  */
class Round20OpsSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  test("retractBm25From == full rebuild over corpus-minus-tombstones") {
    import graft.operators.Retrieval
    val docs = graft.tables.Tables.documents(spark, sfDir)
    // stored index over the WHOLE corpus (arbitrary base — the graded
    // entry's %10<8 rule is not special), tombstones on a mod-3 rule
    val tf = Retrieval.postings(docs).localCheckpoint()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(sum(col("dl")).as("tot_dl"), count(lit(1)).as("n_docs"))
    val tomb = docs.filter(col("doc_id") % 3 === 1).select(col("doc_id"))
    val maintained = Retrieval.retractBm25From(tf, dl, dfq, stats, tomb)
      .as[(Int, Long, Long, Double)].collect().toSeq
    val rebuilt = Retrieval.bm25On(docs.filter(col("doc_id") % 3 =!= 1))
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(maintained.nonEmpty && maintained == rebuilt,
      "retracted BM25 index diverged from the full rebuild")
  }

  test("retractWinnowPairsFrom == rebuild; df falls back INTO kept range") {
    import graft.operators.TextAnalysis
    // 60 identical docs: every shared fingerprint has df=60 > maxDf=50,
    // so the FULL build reports zero pairs; tombstoning 15 drops df to
    // 45 — fingerprints re-enter the kept range and the C(45,2) clique
    // appears. Retraction must produce the rebuild's re-entered pairs,
    // not just shrink the old (empty) answer.
    val text = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest before nightfall today"
    val docs = (0L until 60L).map(i => (i, text)).toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
        graft.functions.TextFunctions.rollingWindowFingerprint(
          col("text"), TextAnalysis.WinnowK).as("hs"))
      .select(col("doc_id"), col("hs"),
        explode(org.apache.spark.sql.graft.ArrayMathExpressions
          .winnowSelectCol(col("hs"), TextAnalysis.WinnowW)).as("pos"))
      .select(col("doc_id"),
        element_at(col("hs"), col("pos").cast("int")).as("fp"))
      .distinct().localCheckpoint()
    val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
    val dfq = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    assert(TextAnalysis.winnowPairsOn(docs).count() == 0L,
      "full build should drop the df-60 clique — fixture broken")
    val tomb = docs.filter(col("doc_id") % 4 === 1).select(col("doc_id")) // 15 docs
    val maintained = TextAnalysis
      .retractWinnowPairsFrom(fps, sizes, dfq, tomb)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val rebuilt = TextAnalysis
      .winnowPairsOn(docs.filter(col("doc_id") % 4 =!= 1))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(maintained.size == 45 * 44 / 2,
      s"expected the re-entered 45-clique, got ${maintained.size} pairs")
    assert(maintained == rebuilt,
      "retracted winnow index diverged from the full rebuild")
  }

  test("retractDedupFrom == banded pairs over surviving docs") {
    import graft.operators.Dedup
    val docs = graft.tables.Tables.documents(spark, sfDir)
    val baseSig = Dedup.minhashSignaturesUnsorted(docs, prodHash = false)
      .localCheckpoint()
    val tomb = docs.filter(col("doc_id") % 3 === 1).select(col("doc_id"))
    val maintained = Dedup.retractDedupFrom(baseSig, tomb)
      .as[(Long, Long, Double)].collect().toSeq
    val rebuilt = Dedup.minhashLshPairsOn(docs.filter(col("doc_id") % 3 =!= 1))
      .as[(Long, Long, Double)].collect().toSeq
    assert(maintained.nonEmpty && maintained == rebuilt,
      "retracted signature index diverged from the rebuild")
  }

  test("retractLexicalCosineFrom == blocked+verified chain over survivors") {
    import graft.operators.Dedup
    val docs = graft.tables.Tables.documents(spark, sfDir)
    val (tf0, sh0) = Dedup.lexIndexOf(docs)
    val tf = tf0.localCheckpoint()
    val sh = sh0.localCheckpoint()
    val norms = tf.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("norm2"))
    val dfq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val tomb = docs.filter(col("doc_id") % 3 === 1).select(col("doc_id"))
    val maintained = Dedup.retractLexicalCosineFrom(tf, norms, sh, dfq, tomb)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val rebuilt = Dedup.lexicalCosineOn(docs.filter(col("doc_id") % 3 =!= 1))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(maintained.nonEmpty && maintained == rebuilt,
      "retracted lexical index diverged from the full rebuild")
  }

  test("retractComponentLabels: deleted component-min + cut-vertex split") {
    import graft.operators.Dedup
    // three components: a 5-path (min 1, cut vertex 3), an untouched
    // pair, and a triangle-free chain losing a leaf. Tombstones delete
    // BOTH the min-id label (1) and a cut vertex (3) of the path —
    // the case in-place label patching cannot handle.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L)).toDF("id_a", "id_b")
    val stored = Dedup.componentLabels(pairs).localCheckpoint()
    assert(stored.filter(col("id") === 5L).head().getLong(1) == 1L,
      "fixture: node 5 should be labeled by the (doomed) min 1")
    val tomb = Seq(1L, 3L, 22L).toDF("doc_id")
    val got = Dedup.retractComponentLabels(stored, pairs, tomb)
      .as[(Long, Long)].collect().toSeq.sorted
    // node 2 loses every edge -> drops out (the rebuild's convention);
    // {4,5} relabels to fragment-min 4; {10,11} rides through; {20,21}
    // relabels to 20 after losing leaf 22
    assert(got == Seq((4L, 4L), (5L, 4L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)),
      s"retracted labels wrong: $got")
  }

  /** Drifted ingest fixture for the refit router: the base lives in
    * dims 0–31, the batch in 12 tight clusters spanning only dims
    * 32–63 (orthogonal to everything the stored graph organizes) with
    * just enough base-dim noise to scatter each insert's anchors —
    * inserted nodes' true neighbors are their cluster siblings, but
    * the stored graph offers the insert beam no gradient toward them.
    * Measured sampled recall ≈ 0.28, far under the 0.7 floor.
    */
  private def driftedEmb = {
    val rnd = new scala.util.Random(7)
    val n = 600; val b = n * 8 / 10
    val centers = Array.fill(12)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val base = (0 until b).map { i =>
      val c = centers(i % 12)
      (i.toLong, c.map(x => x + 0.3f * rnd.nextGaussian().toFloat) ++
        Array.fill(32)(0.0f))
    }
    val bcent = Array.fill(12)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val batch = (b until n).map { i =>
      val c = bcent(i % 12)
      (i.toLong, Array.fill(32)(0.05f * rnd.nextGaussian().toFloat) ++
        c.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    (base ++ batch).toDF("vec_id", "embedding").localCheckpoint()
  }

  test("drift router: escalates on the drifted fixture, keeps delta on the fresh one") {
    import graft.operators.Similarity
    // — drifted arm: measured recall collapses, router must REFIT —
    val e = driftedEmb
    val b = 600L * 8 / 10
    val baseE = e.filter(col("vec_id") < b)
    val stored = Similarity.graphAnnEdges(spark, baseE).localCheckpoint()
    val maintained = stored.unionByName(
        Similarity.deltaGraphInsertEdges(baseE, stored,
          e.filter(col("vec_id") >= b)))
      .localCheckpoint()
    val measured = Similarity.measuredInsertRecall(e, maintained, b, 16)
    info(f"drifted-fixture sampled recall = $measured%.3f")
    assert(measured < Similarity.DriftRecallFloor,
      f"drifted fixture not drifted enough ($measured%.3f) — weak fixture")
    val routed = Similarity.graphKnnDriftRoutedOn(spark, e, maintained)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val refit = Similarity.graphKnnAutoOn(spark, e)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(routed == refit,
      "router did not escalate to the refit on the drifted fixture")
    // the escalation is the RIGHT call, not just a different one: the
    // refit graph answers the same sampled-insert queries far better
    val refitEdges = Similarity.graphAnnEdges(spark, e).localCheckpoint()
    val refitRecall = Similarity.measuredInsertRecall(e, refitEdges, b, 16)
    info(f"post-refit sampled recall = $refitRecall%.3f")
    assert(refitRecall >= Similarity.DriftRecallFloor,
      f"refit did not recover recall ($refitRecall%.3f)")
    // — fresh arm: batch shares the base's clusters, recall holds,
    //   router must serve the delta-maintained graph unchanged —
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(12)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val fresh = (0 until 600).map { i =>
      val c = centers(i % 12)
      (i.toLong, c.map(x => x + 0.3f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding").localCheckpoint()
    val fBase = fresh.filter(col("vec_id") < b)
    val fStored = Similarity.graphAnnEdges(spark, fBase).localCheckpoint()
    val fMaintained = fStored.unionByName(
        Similarity.deltaGraphInsertEdges(fBase, fStored,
          fresh.filter(col("vec_id") >= b)))
      .localCheckpoint()
    val fMeasured = Similarity.measuredInsertRecall(fresh, fMaintained, b, 16)
    info(f"fresh-fixture sampled recall = $fMeasured%.3f")
    assert(fMeasured >= Similarity.DriftRecallFloor,
      f"fresh fixture unexpectedly drifted ($fMeasured%.3f)")
    val fRouted = Similarity.graphKnnDriftRoutedOn(spark, fresh, fMaintained)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val fDelta = Similarity.deltaGraphKnnOn(spark, fresh)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(fRouted == fDelta,
      "router escalated on a fresh fixture — wasted refit")
  }

  test("IVF drift statistic: high on a shared-cluster batch, low on a drifted one") {
    import graft.operators.Similarity
    // fresh: the batch shares the base's clusters, so the base-fitted
    // quantizer serves inserts well — the router would keep the delta
    // index (the gate exercises the opposite, ESCALATE, arm: at
    // sf0.01 the sampled insert recall is 0.46)
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(12)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val fresh = (0 until 600).map { i =>
      val c = centers(i % 12)
      (i.toLong, c.map(x => x + 0.3f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding").localCheckpoint()
    val b = 600L * 8 / 10
    val cents = Similarity.ivfFitCents(spark, fresh.filter(col("vec_id") < b),
      Similarity.IvfExactCells)
    val layout = Similarity.ivfAssignTo(cents, fresh).localCheckpoint()
    val freshRecall = Similarity.measuredIvfRecall(spark, fresh, cents,
      Seq(layout), b, 16)
    info(f"fresh-fixture sampled IVF recall = $freshRecall%.3f")
    assert(freshRecall >= Similarity.DriftRecallFloor,
      f"shared-cluster batch should serve well ($freshRecall%.3f)")
    // drifted, IVF edition: IVF's drift mode is NEIGHBOR DISPERSION,
    // not subspace novelty (a tight orthogonal batch cluster still
    // co-assigns to one cell and probes itself — measured 0.98 on the
    // graph router's drifted fixture): on STRUCTURELESS data an
    // insert's true neighbors scatter across cells and a 3-cell probe
    // plan cannot cover them — the statistic must collapse, exactly
    // the drift the sf0.01 gate fixture measures (0.46)
    val drnd = new scala.util.Random(29)
    val de = (0 until 600).map { i =>
      (i.toLong, Array.fill(64)(drnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding").localCheckpoint()
    val db = 600L * 8 / 10
    val dCents = Similarity.ivfFitCents(spark, de.filter(col("vec_id") < db),
      Similarity.IvfExactCells)
    val dLayout = Similarity.ivfAssignTo(dCents, de).localCheckpoint()
    val driftRecall = Similarity.measuredIvfRecall(spark, de, dCents,
      Seq(dLayout), db, 16)
    info(f"drifted-fixture sampled IVF recall = $driftRecall%.3f")
    assert(driftRecall < Similarity.DriftRecallFloor,
      f"drifted batch should measure low ($driftRecall%.3f) — weak fixture")
  }

  test("retraction plan: index-only — no corpus scan, no tokenization anywhere") {
    import graft.operators.Retrieval
    // graded entry once: materializes the stored four-table index; the
    // warm build's pins then hold the whole query-time dataflow
    assert(Retrieval.retractBm25(spark, sfDir).count() > 0)
    val plan = pinsOf(Retrieval.retractBm25(spark, sfDir)).mkString("\n")
    // the retraction's whole dataflow is stored-table scans + joins +
    // delta-applies: the corpus parquet is NEVER opened and no
    // tokenization explode exists anywhere in the plan (the only
    // Generate is the final rank posexplode)
    assert(!plan.contains("documents.parquet"),
      s"retraction opened the corpus:\n${plan.take(1500)}")
    assert(!plan.contains("Generate explode"),
      s"a tokenization explode leaked into the retraction plan:\n${plan.take(1500)}")
    assert(plan.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("tot_dl")),
      s"stored stats not read back from parquet:\n${plan.take(1500)}")
  }

  test("ANN retraction: tombstoned nodes neither returned nor traversable") {
    import graft.operators.Similarity
    val g = Similarity.retractGraphKnn(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(g.nonEmpty, "graph retraction returned nothing — weak fixture")
    assert(!g.exists(r => r._3 % 10 == 7 && r._3 >= Similarity.NumQueries),
      "a tombstoned node surfaced in the retracted graph's results")
    val ivf = Similarity.retractIvfKnn(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(ivf.nonEmpty &&
      !ivf.exists(r => r._3 % 10 == 7 && r._3 >= Similarity.NumQueries),
      "a tombstoned vector surfaced in the retracted IVF's results")
  }

  test("media closure maintenance: delta2 == full; retract == rebuild over survivors") {
    import graft.operators.Multimodal
    val ah = Multimodal.ahashTable(spark, sfDir).localCheckpoint()
    val chained = Multimodal.delta2ImageDupClusters(spark, sfDir)
      .as[(Long, Long)].collect().toSeq
    val full = Multimodal.imageDupClustersOn(ah)
      .as[(Long, Long)].collect().toSeq
    assert(chained.nonEmpty && chained == full,
      "two chained hash-level maintenance steps diverged from one full closure")
    val retracted = Multimodal.retractImageDupClusters(spark, sfDir)
      .as[(Long, Long)].collect().toSeq
    val rebuilt = Multimodal
      .imageDupClustersOn(ah.filter(col("doc_id") % 10 =!= 7))
      .as[(Long, Long)].collect().toSeq
    assert(retracted.nonEmpty && retracted == rebuilt,
      "hash-level retraction closure diverged from the rebuild over survivors")
  }

  test("retractDupClusters (graded) == closure rebuilt over survivors") {
    import graft.operators.Dedup
    val docs = graft.tables.Tables.documents(spark, sfDir)
    val maintained = Dedup.retractDupClusters(spark, sfDir)
      .as[(Long, Long)].collect().toSeq
    val survivors = docs.filter(!Dedup.deltaIsNew && col("doc_id") % 10 =!= 7)
    val rebuilt = Dedup.duplicateClustersOn(survivors)
      .as[(Long, Long)].collect().toSeq
    assert(maintained.nonEmpty && maintained == rebuilt,
      "graded retraction closure diverged from the full rebuild")
  }
}
