package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-19 operators: delta ANN index maintenance (IVF assignment +
  * NSW insert), the delta media cascade composition, persisted delta
  * band index, delta BM25 postings maintenance, and the fused
  * single-pass shard-append identity guard.
  */
class Round19OpsSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  test("deltaShardAppend refuses a batch re-ingesting base doc_ids") {
    val old = (0L until 400L).toDF("doc_id")
    val base = graft.operators.Dedup.shardAssignOn(old)
    // wholesale replay (yesterday's batch again): the batch-side
    // sample hits the base with probability 1
    val replay = (100L until 200L).toDF("doc_id")
    val ex = intercept[IllegalArgumentException](
      graft.operators.Dedup.deltaShardAppend(base, replay).collect())
    assert(ex.getMessage.contains("re-ingests"),
      s"wrong guard fired: ${ex.getMessage}")
    // a genuinely-new batch still appends
    val fresh = (400L until 450L).toDF("doc_id")
    assert(graft.operators.Dedup.deltaShardAppend(base, fresh).count() == 50L)
  }

  test("stored base band index == recomputed bands; delta probe over it matches") {
    import graft.operators.Multimodal
    val ah = Multimodal.ahashTable(spark, sfDir)
    val base = ah.filter(col("doc_id") % 10 < 8)
    val batch = ah.filter(col("doc_id") % 10 >= 8)
    val stored = Multimodal.imageBandIndex(spark, sfDir, 8)
    val recomputed = Multimodal.bands4(
      base.select(col("ahash_hi"), col("ahash_lo")).distinct())
    val key = Seq("ahash_hi", "ahash_lo", "cb", "kv")
    assert(stored.count() == recomputed.count() &&
      stored.join(recomputed, key, "left_anti").count() == 0L,
      "stored band index diverged from the recomputed projection")
    // the probe over the STORED index == the recompute-index probe
    val viaStored = Multimodal
      .deltaBandHashPairsFromIndex(stored, batch)
      .orderBy("hi_a", "lo_a", "hi_b", "lo_b")
      .collect().toSeq
    val viaRecompute = Multimodal.deltaBandHashPairs(base, batch)
      .orderBy("hi_a", "lo_a", "hi_b", "lo_b")
      .collect().toSeq
    assert(viaStored == viaRecompute,
      "stored-index delta probe diverged from the recompute-index probe")
    assert(viaStored.nonEmpty, "delta fixture found no pairs — weak fixture")
    // plan shape: TWO band explosions, BOTH over the batch side (the
    // probe and its union into the index for new_new candidates) —
    // the base side arrives as a parquet read-back, never re-banded:
    // every Generate sits above the batch-split filter, and the
    // stored cb/kv columns appear in a parquet ReadSchema
    val plan = Multimodal.deltaBandHashPairsFromIndex(stored, batch)
      .queryExecution.executedPlan.toString
    val nGen = plan.linesIterator.count(_.contains("Generate explode"))
    assert(nGen == 2,
      s"expected 2 band explosions (batch probe + batch-in-index), got $nGen:\n${plan.take(1500)}")
    assert(plan.contains("cb:int"),
      s"stored band index not read from parquet (no cb in a ReadSchema):\n${plan.take(1500)}")
  }

  test("text delta: stored signature index path == recomputed-signature path") {
    import graft.operators.Dedup
    val docs = graft.tables.Tables.documents(spark, sfDir)
    // graded stored-table path vs the inline recompute path — the
    // stored index changes WORK (base text never re-shingled), never
    // results; membership by stored ids == the fixture's md5 rule
    val stored = Dedup.deltaDedup(spark, sfDir)
      .as[(Long, Long, Double, String)].collect().toSeq
    val recomputed = Dedup.deltaDedupOn(docs)
      .as[(Long, Long, Double, String)].collect().toSeq
    assert(stored.nonEmpty && stored == recomputed,
      "stored-signature delta probe diverged from the recompute path")
    val storedCc = Dedup.deltaDupClusters(spark, sfDir)
      .as[(Long, Long)].collect().toSeq
    val recomputedCc = Dedup.deltaDupClustersOn(docs)
      .as[(Long, Long)].collect().toSeq
    assert(storedCc.nonEmpty && storedCc == recomputedCc,
      "stored-index cluster maintenance diverged from the recompute path")
  }

  test("delta BM25: maintained index == full rebuild on an arbitrary split") {
    import graft.operators.Retrieval
    val docs = graft.tables.Tables.documents(spark, sfDir)
    // mod-3 split, NOT the graded mod-10 rule — the merge algebra must
    // hold for any disjoint base/batch cut, not just the fixture's
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val tfB = Retrieval.postings(base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dl = tfB.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dfq = tfB.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val stats = dl.agg(sum(col("dl")).as("tot_dl"),
        count(lit(1)).as("n_docs"))
      val delta = Retrieval.deltaBm25From(tfB, dl, dfq, stats, batch)
        .collect().toSeq
      val full = Retrieval.bm25On(docs).collect().toSeq
      assert(delta.nonEmpty, "delta BM25 returned nothing — weak fixture")
      assert(delta == full,
        "delta-maintained BM25 diverged from the full rebuild")
    } finally { tfB.unpersist(); () }
  }

  test("delta BM25 plan: batch is the only tokenization; stored tables read back") {
    import graft.operators.Retrieval
    // graded entry once: materializes the stored four-table index; the
    // warm build's pins then hold the whole query-time dataflow
    assert(Retrieval.deltaBm25(spark, sfDir).count() > 0)
    val plan = pinsOf(Retrieval.deltaBm25(spark, sfDir)).mkString("\n")
    // the ONLY tokenization lineage is the batch's: every explode in
    // the plan sits above the batch-split filter (the persisted batch
    // postings print once per consumer, so a count would overstate;
    // the absence of the BASE split filter is the real claim — no
    // base-text lineage anywhere), and the stored stats table arrives
    // as a parquet read-back (tot_dl in a ReadSchema), never an
    // aggregation over base postings
    // anchored on the % 10 bucket expression, not a bare ">= 8"
    // substring an unrelated literal could satisfy
    assert("""%\s*10\)\s*>=\s*8""".r.findFirstIn(plan).isDefined,
      s"batch split filter missing from the delta plan:\n${plan.take(1500)}")
    assert("""%\s*10\)\s*<\s*8""".r.findFirstIn(plan).isEmpty,
      s"base-side text lineage leaked into the delta plan:\n${plan.take(1500)}")
    assert(plan.contains("tot_dl"),
      s"stored stats not read back from parquet:\n${plan.take(1500)}")
  }

  /** The planted-cluster corpus every ANN quality spec uses (12
    * centers, 60 members each, queries land in clusters 0..9) — here
    * the last 20% of ids play the ingest batch, so the base keeps the
    * same cluster structure at 48 members per cluster.
    */
  private def clusteredEmb = {
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(12)(Array.fill(64)(rnd.nextGaussian().toFloat))
    (0 until 720).map { i =>
      val c = centers(i % 12)
      (i.toLong, c.map(x => x + 0.3f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def byQuery(rows: Array[(Long, Long, Long, Double)]) =
    rows.groupBy(_._1).map { case (q, r) => q -> r.map(_._3).toSet }

  test("delta ANN maintenance: recall drift floored on clustered data; batch reachable") {
    import graft.operators.Similarity
    val e = clusteredEmb
    val exact = byQuery(Similarity.bruteForceKnnOn(spark, e)
      .as[(Long, Long, Long, Double)].collect())
    def recallOf(got: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (q, x) =>
        (got.getOrElse(q, Set.empty) & x).size.toDouble / x.size }
      rs.sum / rs.size
    }
    // IVF maintained on stored base-fitted centroids: the quantizer
    // saw only 80% of the data, so some drift vs the full refit is the
    // designed trade — floor it
    val ivfRows = Similarity.deltaIvfKnnOn(spark, e)
      .as[(Long, Long, Long, Double)].collect()
    val ivfRecall = recallOf(byQuery(ivfRows))
    info(f"delta IVF clustered recall@5 = $ivfRecall%.3f")
    assert(ivfRecall >= 0.75, f"delta IVF recall $ivfRecall%.2f below drift floor")
    // NSW insert: links limited to what the stored graph reaches
    val gRows = Similarity.deltaGraphKnnOn(spark, e)
      .as[(Long, Long, Long, Double)].collect()
    val gRecall = recallOf(byQuery(gRows))
    info(f"delta graph clustered recall@5 = $gRecall%.3f")
    assert(gRecall >= 0.75, f"delta graph recall $gRecall%.2f below drift floor")
    // REACHABILITY: inserted nodes must be findable through their
    // backlinks — batch ids (>= 576) appear in the served results
    // (each query's cluster has 12 batch members among its true top-5
    // candidates' neighborhoods)
    val b = 720L * 8 / 10
    assert(ivfRows.exists(_._3 >= b),
      "delta IVF served no batch vector — the delta commit is invisible")
    assert(gRows.exists(_._3 >= b),
      "delta graph served no batch vector — inserted backlinks are dead")
  }

  test("IVF compaction: pure layout change — same rows, one pruned layout scan") {
    import graft.operators.Similarity
    val delta = Similarity.deltaIvfKnn(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val compactedDf = Similarity.deltaIvfKnnCompacted(spark, sfDir)
    val compacted = compactedDf.as[(Long, Long, Long, Double)].collect().toSeq
    assert(compacted.nonEmpty && compacted == delta,
      "compaction changed served rows — it must be a pure layout change")
    // one layout scan instead of base ∪ delta: exactly ONE cell-pruned
    // parquet read in the serving plan
    val plan = compactedDf.queryExecution.executedPlan.toString
    val pruned = plan.linesIterator
      .count(l => l.contains("PartitionFilters") && l.contains("cell"))
    assert(pruned == 1,
      s"expected 1 cell-pruned scan after compaction, got $pruned:\n${plan.take(1500)}")
  }

  test("IVF commit grouping: every ingest split serves, and folds, to the same rows") {
    import graft.operators.Similarity
    // the quantizer fits over the 6/10 base in every split; only the
    // grouping of the later ids into commits differs
    val dir = gateDir
    def served(cuts: Seq[Int]): Seq[Seq[(Long, Long, Long, Double)]] = {
      val (cents, commits) = Similarity.ivfCommits(spark, dir, cuts)
      val fold = Similarity.ivfFold(spark, dir,
        s"spec_grouping_fold_${cuts.mkString("_")}", commits)
      Seq(commits, Seq(fold)).map(layouts =>
        Similarity.ivfServe(spark, dir, cents, layouts)
          .as[(Long, Long, Long, Double)].collect().toSeq)
    }
    val splits = Seq(Seq(6), Seq(6, 8), Seq(6, 7, 9))
    val rows = splits.map(served)
    val reference = rows.head.head
    assert(reference.nonEmpty && reference.exists(_._3 >= 300),
      "no ingested vector served — the grouping is not exercised")
    splits.zip(rows).foreach { case (cuts, Seq(chain, fold)) =>
      assert(chain == reference, s"commit chain at cuts $cuts served different rows")
      assert(fold == reference, s"fold of the chain at cuts $cuts served different rows")
    }
  }

  test("BM25 and winnow commit grouping: every stored split serves, and folds, to the same rows") {
    import graft.operators.{Retrieval, TextAnalysis}
    val dir = gateDir
    // the live batch is md5 bucket / doc_id mod 10 in {8, 9} under
    // every split; only the grouping of the stored buckets differs
    val stored = Seq(Seq(8), Seq(6, 8), Seq(3, 6, 8))
    val folds = Seq(Seq(6, 8, 10), Seq(3, 6, 8, 10))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    for ((family, serve, fold, whole) <- Seq(
        ("BM25", Retrieval.deltaBm25Over _, Retrieval.compactBm25Over _,
          SparkEntry.queries("q_bm25")),
        ("winnow", TextAnalysis.deltaWinnowOver _, TextAnalysis.compactWinnowOver _,
          SparkEntry.queries("q_winnow_pairs")))) {
      val served = stored.map(cuts => rows(serve(spark, dir, cuts)))
      assert(served.head.nonEmpty, s"$family: nothing served — weak fixture")
      stored.zip(served).foreach { case (cuts, r) =>
        assert(r == served.head, s"$family: stored cuts $cuts served different rows")
      }
      val full = rows(whole(spark, dir))
      assert(full.nonEmpty, s"$family: whole-corpus result is empty — weak fixture")
      folds.foreach { cuts =>
        assert(rows(fold(spark, dir, cuts)) == full,
          s"$family: the fold over cuts $cuts differs from the whole-corpus result")
      }
    }
  }

  test("dup-cluster label chains: every stored split serves the whole-corpus closure") {
    import graft.operators.{Dedup, Multimodal}
    val dir = gateDir
    // the live batch is md5 bucket / doc_id mod 10 past the last cut;
    // Seq(3, 6, 8, 10) stores everything and leaves it empty
    val splits = Seq(Seq(8), Seq(6, 8), Seq(3, 6, 8), Seq(3, 6, 8, 10))
    for ((family, serve, whole) <- Seq(
        ("text", Dedup.dupClustersOver _, "q_dup_clusters"),
        ("image", Multimodal.imageDupClustersOver _, "q_image_dup_clusters"))) {
      val full = SparkEntry.queries(whole)(spark, dir).collect().toSeq
      assert(full.nonEmpty, s"$family: whole-corpus closure is empty — weak fixture")
      splits.foreach { cuts =>
        assert(serve(spark, dir, cuts).collect().toSeq == full,
          s"$family: the label chain at cuts $cuts served different clusters")
      }
    }
  }

  // At the gate scale every image hash lies in one component, so the
  // image closures' oracle rows are a single row. Here the corpus is the
  // gate fixture's documents minus every hash at breadth-first depth
  // 2 (mod 4) from doc 0's hash: the hash graph falls apart into several
  // components, and each serving path must equal an in-test union-find.
  test("image dup-cluster chains and retraction over a hash graph of several components") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import graft.operators.Multimodal
    type H = (Long, Long)
    val rows = Multimodal.ahashTable(spark, gateDir).as[(Long, Long, Long)].collect().toSeq
    def hashOf(r: (Long, Long, Long)): H = (r._2, r._3)
    def near(a: H, b: H) = java.lang.Long.bitCount(a._1 ^ b._1) +
      java.lang.Long.bitCount(a._2 ^ b._2) <= Multimodal.ImageNeardupMaxDist
    // (cluster_rep, n_members) of the doc graph, by union-find over hashes
    def reference(docs: Seq[(Long, Long, Long)]): Seq[(Long, Long)] = {
      val hashes = docs.map(hashOf).distinct
      val parent = scala.collection.mutable.Map(hashes.map(h => h -> h): _*)
      def find(h: H): H = if (parent(h) == h) h else { val r = find(parent(h)); parent(h) = r; r }
      for (a <- hashes; b <- hashes if near(a, b)) parent(find(a)) = find(b)
      docs.groupBy(r => find(hashOf(r))).values.toSeq
        .map(g => (g.map(_._1).min, g.size.toLong)).filter(_._2 >= 2).sorted
    }
    val hashes = rows.map(hashOf).distinct
    val start = hashOf(rows.minBy(_._1))
    val depth = scala.collection.mutable.Map(start -> 0)
    var frontier = Seq(start)
    while (frontier.nonEmpty) {
      val next = frontier
        .flatMap(h => hashes.filter(o => !depth.contains(o) && near(h, o))).distinct
      next.foreach(h => depth(h) = depth(frontier.head) + 1)
      frontier = next
    }
    val picked = rows.filter(r => depth.get(hashOf(r)).forall(_ % 4 != 2))
    val whole = reference(picked)
    val survivors = reference(picked.filter(_._1 % 10 != 7))
    assert(whole.size >= 2 && survivors.size >= 2,
      s"the picked corpus must split into several multi-member components: $whole")

    val dir = Files.createTempDirectory("graft-image-components")
    val subset = dir.resolve("subset").toString
    graft.tables.Tables.load(spark, gateDir, "documents")
      .filter(col("doc_id").isin(picked.map(_._1): _*))
      .coalesce(1).write.parquet(subset)
    val part = Files.list(Paths.get(subset)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    def served(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long)].collect().toSeq
    Seq(Seq(8), Seq(6, 8), Seq(3, 6, 8, 10)).foreach { cuts =>
      assert(served(Multimodal.imageDupClustersOver(spark, dir.toString, cuts)) == whole,
        s"the label chain at cuts $cuts served different clusters")
    }
    assert(served(Multimodal.retractImageDupClusters(spark, dir.toString)) == survivors,
      "retraction served different clusters than the survivors' closure")
  }

  // A table rewritten inside a live session must never be served from
  // the stored state of its old version: each entry builds, the table
  // is overwritten by the rows whose ids lie in [from, until), and the
  // entry builds again. The image closure keeps [100, 500): at the gate
  // scale its hashes form one component, whose rep is doc 0.
  // (entry, input table, id column of the output, id column of the
  // table, kept id range)
  for ((label, query, table, outId, inId, (from, until)) <- Seq(
      ("delta IVF", "q_delta_knn_ivf", "embeddings", "n_id", "vec_id", (0L, 400L)),
      ("delta SemDeDup", "q_delta_semdedup", "embeddings", "vec_id", "vec_id", (0L, 400L)),
      ("delta BM25", "q_delta_bm25", "documents", "doc_id", "doc_id", (0L, 400L)),
      ("delta2 dup clusters", "q_delta2_dup_clusters", "documents", "cluster_rep",
        "doc_id", (0L, 400L)),
      ("delta2 image dup clusters", "q_delta2_image_dup_clusters", "documents",
        "cluster_rep", "doc_id", (100L, 500L)))) {
    test(s"$label after an input rewrite in the session: re-counted and re-indexed") {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import scala.jdk.CollectionConverters._
      val dir = Files.createTempDirectory("graft-rewrite")
      val file = dir.resolve(s"$table.parquet")
      Files.copy(Paths.get(gateDir, s"$table.parquet"), file)
      def served(s: org.apache.spark.sql.SparkSession) =
        SparkEntry.queries(query)(s, dir.toString).collect().toSeq
      def ids(rows: Seq[org.apache.spark.sql.Row]) = rows.map(_.getAs[Long](outId))
      def kept(id: Long) = id >= from && id < until
      assert(!ids(served(spark)).forall(kept),
        s"no id outside [$from, $until) served before the rewrite")
      val subset = dir.resolve("subset").toString
      graft.tables.Tables.load(spark, dir.toString, table)
        .filter(col(inId) >= from && col(inId) < until)
        .coalesce(1).write.parquet(subset)
      val part = Files.list(Paths.get(subset)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, file, StandardCopyOption.REPLACE_EXISTING)
      val after = served(spark)
      assert(after.nonEmpty && ids(after).forall(kept),
        "an id the rewrite removed was served — stale count or stale stored state")
      // a fresh session with its own scratch root shares no memo and no slot
      val fresh = spark.newSession()
      fresh.conf.set("graft.scratch.dir", dir.resolve("fresh_scratch").toString)
      assert(after == served(fresh), "the rebuilt result differs from a fresh session's")
    }
  }

  test("delta media cascade: absorption via every bridge kind; all-new components appended") {
    import graft.operators.{Dedup, Multimodal, Pipeline}
    // base corpus: two far-apart joint classes (reps 10, 11)
    val X1 = (0x1000L, 0x1L); val X2 = (0x2000L, 0x2L)
    val Y1 = (0x10L, 0x20L); val Y2 = (0x7777L, 0x8888L)
    val imgBase = Seq((10L, X1._1, X1._2), (11L, X2._1, X2._2))
      .toDF("doc_id", "ahash_hi", "ahash_lo")
    val audBase = Seq((10L, Y1._1, Y1._2), (11L, Y2._1, Y2._2))
      .toDF("doc_id", "afp_hi", "afp_lo")
    // batch: every absorption bridge kind + two genuinely-new components
    val batchRows = Seq(
      // 80: exact joint key replay -> absorbed at the frozen-rep stage
      (80L, X1, Y1),
      // 81: new joint key but image hash STORED verbatim -> absorbed
      (81L, X1, (0xABCDL, 0xDCBAL)),
      // 82: image near-dups base X2 (Hamming 1) -> absorbed
      (82L, (0x2001L, 0x2L), (0x4444L, 0x9999L)),
      // 83+84: all-new pair chained by image near-dup (component birth)
      (83L, (0xF0F0L, 0xAAAAL), (0x1111L, 0x2222L)),
      (84L, (0xF0F0L, 0xAAABL), (0x3333L, 0x6666L)),
      // 85: isolated all-new singleton
      (85L, (0xFF00FFL, 0x0L), (0xE0E0L, 0xD0D0L)),
      // 86+87: chain absorption — 86 links 87 by image, 87's audio
      // near-dups base Y2; BOTH must be absorbed
      (86L, (0x5555L, 0x5555L), (0x9999L, 0x7777L)),
      (87L, (0x5556L, 0x5555L), (0x7776L, 0x8888L)),
      // 88: joins the 83-component through the shared audio class
      (88L, (0x123456L, 0x654321L), (0x1111L, 0x2222L)),
      // 89: exact duplicate of 83's joint key (same NEW class)
      (89L, (0xF0F0L, 0xAAAAL), (0x1111L, 0x2222L)),
      // 90: audio hash stored verbatim -> absorbed
      (90L, (0xDEADL, 0xBEEFL), Y1))
    val imgBatch = batchRows.map(r => (r._1, r._2._1, r._2._2))
      .toDF("doc_id", "ahash_hi", "ahash_lo")
    val audBatch = batchRows.map(r => (r._1, r._3._1, r._3._2))
      .toDF("doc_id", "afp_hi", "afp_lo")
    val baseLayout = Pipeline.mediaPipelineNearOn(imgBase, audBase)
      .localCheckpoint()
    val baseReps = imgBase.join(audBase, Seq("doc_id"))
      .groupBy(col("ahash_hi"), col("ahash_lo"), col("afp_hi"), col("afp_lo"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_class"))
    val imgIdx = Multimodal.bands4(
      imgBase.select(col("ahash_hi"), col("ahash_lo")).distinct())
    val audIdx = Multimodal.bands4(audBase
      .select(col("afp_hi").as("ahash_hi"), col("afp_lo").as("ahash_lo"))
      .distinct())
    val out = Pipeline.deltaMediaPipelineOn(baseLayout, baseReps,
        imgIdx, audIdx, imgBatch, audBatch)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val baseRows = baseLayout
      .select(col("doc_id"), col("n_docs"), col("shard"), col("pos"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // frozen base: every stored row re-emitted byte-for-byte
    assert(out.filter(r => Set(10L, 11L)(r._1)).sorted == baseRows.sorted,
      "delta cascade moved a frozen base layout row")
    // newly-born components only: {83,84,88,89} (keeper 83, 4 docs)
    // and {85}; every bridge-to-base case absorbed
    val appended = out.filterNot(r => Set(10L, 11L)(r._1))
    assert(appended.map(r => (r._1, r._2)).sorted == Seq((83L, 4L), (85L, 1L)),
      s"wrong keepers appended: ${appended.sorted}")
    // appended rows rank after the frozen region of their shard and
    // the combined layout still partitions each shard 0..n-1
    val baseMax = baseRows.groupBy(_._3).map { case (s, rs) => s -> rs.map(_._4).max }
    appended.foreach { case (id, _, s, p) =>
      assert(p > baseMax.getOrElse(s, -1L),
        s"keeper $id placed inside the frozen region of shard $s")
    }
    out.groupBy(_._3).foreach { case (s, rows) =>
      assert(rows.map(_._4).sorted == (0L until rows.size).toSeq,
        s"shard $s positions not contiguous after the delta cascade")
    }
  }

  test("text delta cascade: stored-layout parity, frozen closed sequences, batch appended") {
    import graft.operators.{Pipeline, TextAnalysis}
    val docs = graft.tables.Tables.documents(spark, sfDir)
    val b = docs.count() * 8 / 10
    // stored-layout PARITY: what the delta's base ingest writes must
    // equal curationPipelineOn over the base docs — the stored state
    // is the graded full cascade's own output, not a private variant
    val out = Pipeline.deltaCurationPipeline(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val baseLayout = Pipeline
      .curationPipelineOn(docs.filter(col("doc_id") < b))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val root = graft.sources.Scratch.slot(spark, sfDir, "documents", "e2e_delta_base")
    val stored = spark.read.parquet(s"$root/packing")
      .select(col("shard"), col("seq_id"), col("n_docs"),
        col("total_tokens"), col("first_doc"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored.sorted == baseLayout.sorted,
      "stored base packing diverged from curationPipelineOn(base)")
    // FROZEN closed sequences: every stored row below its shard's last
    // stored seq_id re-emits byte-for-byte (only the open last
    // sequence may merge batch arrivals)
    val lastSeq = stored.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).max }
    val closed = stored.filter(r => r._2 < lastSeq(r._1)).toSet
    assert(closed.subsetOf(out.toSet),
      "a fully-closed stored sequence changed under ingest")
    // batch appended: new sequences exist and their first docs are
    // batch ids
    val appended = out.filterNot(r => stored.map(x => (x._1, x._2)).toSet((r._1, r._2)))
    assert(appended.nonEmpty, "no batch sequences appended — weak fixture")
    assert(appended.forall(_._5 >= b),
      s"an appended sequence's first_doc is a base id: $appended")
  }

  test("delta substring dedup == full span table restricted to the batch; stored == recompute") {
    import graft.operators.Dedup
    val docs = graft.tables.Tables.documents(spark, sfDir)
    val isNew = pmod(graft.functions.TextFunctions.md5Hash32(col("text")),
      lit(10)) >= 8
    // the delta reduction's whole claim: batch windows probing the base
    // key set + batch-internal repeats == the FULL corpus-wide span
    // computation restricted to batch documents
    val full = Dedup.substringDedupOn(docs)
      .join(docs.filter(isNew).select(col("doc_id")), Seq("doc_id"), "left_semi")
      .orderBy(col("doc_id"), col("span_start"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val delta = Dedup.deltaSubstringDedupOn(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(delta.nonEmpty, "delta substring fixture found no spans — weak fixture")
    assert(delta == full,
      "delta substring spans diverged from the full run's batch restriction")
    // graded stored-key-index path == the inline recompute path
    val stored = Dedup.deltaSubstringDedup(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(stored == delta,
      "stored-key-index path diverged from the recompute path")
  }

  /** Steer a document's md5 split bucket (the deltaIsNew rule) by
    * appending a counter suffix — planted fixtures need control over
    * which side of the ingest cut each text lands on.
    */
  private def withBucket(s: String, isNew: Boolean): String = {
    def bucket(x: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8"))
      val hex = d.take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 10).toInt
    }
    Iterator.from(0).map(i => if (i == 0) s else s"$s #$i")
      .find(t => (bucket(t) >= 8) == isNew).get
  }

  test("delta substring dedup: base hits and batch-internal repeats; base-only repeats silent") {
    import graft.operators.Dedup
    val P = "the quick brown fox jumps over the lazy dog again" // 50 chars
    val Q = "pack my box with five dozen liquor jugs and smile" // 50 chars
    val R = "sphinx of black quartz judge my vow twelve times!!" // 50 chars
    // non-repetitive 60-char filler: a constant-char pad would repeat
    // its own 40-gram windows inside one document and trip the
    // (intentional) self-repeat rule
    def pad(c: Char) = (0 until 20).map(i => f"$c$i%02d").mkString
    val docs = Seq(
      (1L, withBucket(P + pad('a'), isNew = false)),          // base: plants P
      (2L, withBucket(pad('b') + P, isNew = true)),           // batch: hits base key
      (3L, withBucket(pad('c') + Q, isNew = true)),           // batch-internal pair…
      (4L, withBucket(Q + pad('d'), isNew = true)),           // …both flagged
      (5L, withBucket(R + pad('e'), isNew = false)),          // base-only repeat…
      (6L, withBucket(pad('f') + R, isNew = false)),          // …never re-emitted
      (7L, withBucket(pad('g') + pad('h'), isNew = true))     // batch, unique
    ).toDF("doc_id", "text")
    val out = Dedup.deltaSubstringDedupOn(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1).toSet == Set(2L, 3L, 4L),
      s"wrong flagged set: ${out.map(_._1).toSet} (expected batch docs 2,3,4)")
    // the merged span must cover the planted phrase: doc 2's 49-char P
    // starts at position 61 (1-based, after 60 pad chars) — span
    // [61, 110), 10 fully-inside windows
    val span2 = out.filter(_._1 == 2L)
    assert(P.length == 49 && span2 == Seq((2L, 61L, 110L, 49L, 10L)),
      s"doc 2's span misses the planted phrase: $span2")
  }

  test("delta semdedup == union-ranked recompute restricted to batch; stored == recompute") {
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.cosine
    val e = clusteredEmb
    val n = 720L
    val b = n * 8 / 10
    val delta = Similarity.deltaSemDedupOn(spark, e)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // reference built from a DIFFERENT decomposition: base-fitted
    // centroids, one assignment over all, an explicit union window for
    // rank, the pairwise drop join — the full recompute's own shape
    val cents = Similarity.kmeansCentroids(spark, e.filter(col("vec_id") < b))
    val all = Similarity.semdedupAssign(cents, e)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("dist").desc, col("vec_id"))
    val ranked = all.withColumn("rnk", row_number().over(w))
      .localCheckpoint()
    val dropped = ranked.as("a").join(ranked.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.rnk") < col("b.rnk"))
      .filter(round(cosine(col("a.embedding"), col("b.embedding")), 6) >= 0.4)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(1L))
    val reference = ranked.filter(col("vec_id") >= b)
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("rnk").cast("long").as("rank"),
        when(col("is_dropped").isNotNull, 0L).otherwise(1L).as("kept"))
      .orderBy(col("vec_id"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(delta == reference,
      "delta semdedup diverged from the union-window recompute")
    // the clustered fixture must actually exercise drops ACROSS the
    // cut (batch members pruned by stored ones) — else the fixture is
    // too weak to certify the frozen-decision join
    assert(delta.exists(_._4 == 0L), "no batch vector dropped — weak fixture")
    assert(delta.exists(_._4 == 1L), "every batch vector dropped — weak fixture")
    // graded stored-table path == recompute path on the gate corpus
    val storedP = Similarity.deltaSemDedup(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val recomputeP = Similarity.deltaSemDedupOn(spark,
        graft.tables.Tables.embeddings(spark, sfDir))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(storedP.nonEmpty && storedP == recomputeP,
      "stored-table delta semdedup diverged from the recompute path")
  }

  test("graph edge compaction: pure layout change — same rows, one compacted edge table") {
    import graft.operators.Similarity
    val delta = Similarity.deltaGraphKnn(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val compacted = Similarity.deltaGraphKnnCompacted(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(compacted.nonEmpty && compacted == delta,
      "edge compaction changed served rows — it must be a pure layout change")
    // the compacted table IS base ∪ inserts, edge for edge
    val e = graft.tables.Tables.embeddings(spark, sfDir)
    val Seq(baseE, batchE) = Similarity.graphCommits(spark, sfDir, e, Seq(8))
    val compactE = Similarity.graphFold(spark, sfDir, e, Seq(8))
    val expected = baseE.unionByName(batchE)
      .groupBy(col("src"), col("dst")).count()
    val got = compactE.groupBy(col("src"), col("dst")).count()
    assert(got.count() == expected.count() &&
      got.join(expected, Seq("src", "dst", "count"), "left_anti").count() == 0L,
      "compacted edge table is not the exact multiset union of base + inserts")
  }

  test("delta winnow pairs == full pair set restricted to the batch, on an arbitrary split") {
    import graft.operators.TextAnalysis
    val docs = graft.tables.Tables.documents(spark, sfDir)
    // mod-3 split, NOT the graded md5 rule: the union-df delta-apply
    // and the touching-pair restriction must hold for any disjoint
    // base/batch cut (the delta-BM25 methodology on the winnow index)
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val fps = TextAnalysis.winnowFingerprintsOn(base)
      .select(col("doc_id"), col("fp")).distinct().localCheckpoint()
    val delta = TextAnalysis.deltaWinnowPairsFrom(fps,
        fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps")),
        fps.groupBy(col("fp")).agg(count(lit(1)).as("df")), docs)
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    val isNew = (id: Long) => id % 3 == 0
    val full = TextAnalysis.winnowPairsOn(docs)
      .as[(Long, Long, Long, Double)].collect().toSeq
      .filter(p => isNew(p._1) || isNew(p._2))
      .map(p => (p._1, p._2, p._3, p._4,
        if (isNew(p._1) && isNew(p._2)) "new_new" else "new_existing"))
    assert(delta.nonEmpty, "mod-3 delta winnow found no pairs — weak fixture")
    assert(delta == full,
      "delta winnow pairs diverged from the full run's batch restriction")
    // graded stored-index path == the md5-rule recompute path
    val stored = TextAnalysis.deltaWinnowPairs(spark, sfDir)
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    val recomputed = TextAnalysis.deltaWinnowPairsOn(docs)
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    assert(stored.nonEmpty && stored == recomputed,
      "stored winnow index path diverged from the recompute path")
  }

  test("delta lexical cosine == full pair set restricted to the batch, on an arbitrary split") {
    import graft.operators.Dedup
    val docs = graft.tables.Tables.documents(spark, sfDir)
    // mod-3 split (the winnow-delta methodology on the lexical index):
    // build the four stored tables inline from an arbitrary base cut
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val toksDf = base.select(col("doc_id"),
      transform(graft.functions.TextFunctions.tokens(col("text")),
        t => lower(t)).as("toks"))
    val tf = toksDf.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val positions = when(size(col("toks")) >= 4,
      sequence(lit(1), size(col("toks")) - 3))
      .otherwise(array().cast("array<int>"))
    val grams = transform(positions, i => concat_ws(" ",
      element_at(col("toks"), i), element_at(col("toks"), i + 1),
      element_at(col("toks"), i + 2), element_at(col("toks"), i + 3)))
    val sh = toksDf.select(col("doc_id"), explode(grams).as("shingle"))
      .distinct().localCheckpoint()
    val delta = Dedup.deltaLexicalCosineFrom(tf,
        tf.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("norm2")),
        sh, sh.groupBy(col("shingle")).agg(count(lit(1)).as("df")), docs)
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    val isNew = (id: Long) => id % 3 == 0
    val full = Dedup.lexicalCosineOn(docs)
      .as[(Long, Long, Long, Double)].collect().toSeq
      .filter(p => isNew(p._1) || isNew(p._2))
      .map(p => (p._1, p._2, p._3, p._4,
        if (isNew(p._1) && isNew(p._2)) "new_new" else "new_existing"))
    assert(delta.nonEmpty, "mod-3 delta lexical found no pairs — weak fixture")
    assert(delta == full,
      "delta lexical cosine diverged from the full run's batch restriction")
    // graded stored-index path == the md5-rule recompute path
    val stored = Dedup.deltaLexicalCosine(spark, sfDir)
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    val recomputed = Dedup.deltaLexicalCosineOn(docs)
      .as[(Long, Long, Long, Double, String)].collect().toSeq
    assert(stored.nonEmpty && stored == recomputed,
      "stored lexical index path diverged from the recompute path")
  }

  test("streamed delta semdedup == frozen-store adjudication; consistent with the batch delta") {
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.cosine
    val stream = graft.streaming.EmbeddingStreams
      .streamedDeltaSemDedup(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // reference via a DIFFERENT decomposition (join + aggregate over
    // the stored table, vs the stream's per-row higher-order fold)
    val (cents, stored, b) = Similarity.semdedupStoredState(spark, sfDir)
    val batch = graft.tables.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= b)
    val assigned = Similarity.semdedupAssign(cents, batch)
    def above = (col("a.dist") > col("b.dist")) ||
      (col("a.dist") === col("b.dist") && col("a.vec_id") < col("b.vec_id"))
    val hit = above && round(cosine(col("a.embedding"), col("b.embedding")), 6) >= 0.4
    val ref = assigned.as("b")
      .join(stored.as("a"),
        col("a.cluster").cast("long") === col("b.cluster").cast("long"), "left")
      .groupBy(col("b.vec_id").as("vec_id"),
        col("b.cluster").cast("long").as("cluster"))
      .agg((lit(1L) + sum(when(above, 1L).otherwise(0L))).as("rank"),
        when(max(when(hit, 1L).otherwise(0L)) === 1L, 0L).otherwise(1L).as("kept"))
      .orderBy(col("vec_id"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(stream.nonEmpty && stream == ref,
      "stream fold diverged from the join-aggregate reference")
    // consistency with the batch delta: the stream sees only the
    // stored half, so per row rank_stream <= rank_delta and a
    // delta-kept vector is necessarily stream-kept
    val delta = Similarity.deltaSemDedup(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    stream.foreach { case (id, _, rk, kept) =>
      val (drk, dkept) = delta(id)
      assert(rk <= drk, s"vec $id: stream rank $rk above union rank $drk")
      assert(dkept <= kept, s"vec $id: delta-kept vector dropped by the stream")
    }
    // the fixture must exercise the difference (some batch-internal
    // drop or rank shift) or the twin proves nothing new
    assert(stream.exists { case (id, _, rk, k) =>
      delta(id)._1 != rk || delta(id)._2 != k },
      "stream == batch delta everywhere — fixture never exercises batch-internal terms")
  }

  test("streamed delta audio near-dup == batch audio delta restricted to new-vs-existing") {
    // the acoustic serving twin runs the SAME stream-static band-probe
    // engine as the image one — finite replay must equal the batch
    // delta operator's new_existing cut on the wide fingerprint key
    val stream = graft.streaming.DocumentStreams
      .streamedDeltaAudioNeardup(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSeq
    val batch = graft.operators.Multimodal.deltaAudioNeardup(spark, sfDir)
      .filter(col("pair_type") === "new_existing")
      .select(col("id_a"), col("id_b"), col("dist"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(stream.nonEmpty && stream == batch)
  }
}
