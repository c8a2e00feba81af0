package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that decide whether a plan
  * survives 100× data — filters reaching the parquet scan, columns
  * pruned at the reader, top-k never globally sorting, dimension joins
  * broadcast, global sorts range-partitioned (except a query's final
  * sort whose input adaptive execution has measured within the
  * broadcast threshold, sorted in one task by
  * [[graft.plan.OutputSort]]), hot paths inside whole-stage codegen —
  * asserted on the EXECUTED plans of the graded queries so a regression
  * fails loudly here instead of surfacing as a 10× slowdown at scale.
  */
class PlanAuditSpec extends AnyFunSuite with SparkSessionTestWrapper
    with AdaptiveSparkPlanHelper {

  private def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  /** What adaptive execution ran: a pin's final plan, as a string. */
  private def ran(pin: SparkPlan): String = stripAQEPlan(pin).toString

  test("q_filter_project: predicate pushed into the parquet scan, columns pruned") {
    val plan = planOf("q_filter_project")
    assert(plan.contains("PushedFilters: ["), plan.take(1200))
    assert(plan.contains("l_returnflag"), "filter column not pushed")
    // scan must not read the whole 16-column lineitem schema
    val readSchema = plan.split("ReadSchema:")(1).takeWhile(_ != '\n')
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"),
      s"unpruned scan: $readSchema")
  }

  test("q_topk: TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
  }

  test("q_join_broadcast: dimension side broadcast") {
    val plan = planOf("q_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
  }

  test("q_sort: global sort is range-partitioned (parallel), not single-partition") {
    val plan = planOf("q_sort")
    assert(plan.contains("rangepartitioning"), plan.take(1200))
    // a sort over a raw scan never reaches the one-task output sort: the
    // executed final plan keeps the range exchange
    val df = SparkEntry.queries("q_sort")(spark, sfDir)
    df.collect()
    val fin = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(fin.toString.contains("rangepartitioning") && !fin.toString.contains("Coalesce"),
      fin.toString.take(1200))
  }

  test("q_pricing_summary: aggregation runs inside whole-stage codegen") {
    // AQE only materializes the final plan (with its "*(n)" codegen
    // markers) after execution
    val df = SparkEntry.queries("q_pricing_summary")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no whole-stage codegen span:\n${plan.take(1200)}")
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("HashAggregate")),
      s"hash aggregation not inside a codegen span:\n${plan.take(1200)}")
  }

  test("q_minhash_signatures: exactly the minimal shuffles (agg + output sort)") {
    // the round-1 plan carried a corpus-wide distinct() of every
    // (doc, shingle) occurrence — a third, dominant exchange. MinHash
    // min() never needed it; this pins the fix structurally.
    // (clearCache: other suites may have left a persisted signature
    // subplan that substitutes an InMemoryRelation into this plan)
    spark.catalog.clearCache()
    val plan = planOf("q_minhash_signatures")
    val exchanges = plan.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      plan.linesIterator.count(_.trim.startsWith(":- Exchange")) +
      (if (plan.trim.startsWith("Exchange")) 1 else 0)
    assert(exchanges <= 2, s"expected <= 2 exchanges, found $exchanges:\n${plan.take(1500)}")
  }

  test("LSH verification join: both signature sides broadcast-pinned below the byte gate") {
    // round 2's unpinned plan let AQE shuffle the 65-long signature
    // payload to the candidates (the measured 4x swing on the _xx twin);
    // the fix pins broadcast by estimated bytes — guard it structurally
    // on the graded entry's pin that holds the verification join
    val verify = pinsOf(SparkEntry.queries("q_minhash_lsh_pairs_xx")(spark, sfDir))
      .map(ran).filter(_.contains("est_jaccard"))
    assert(verify.nonEmpty, "no pin holds the verification join")
    verify.foreach { plan =>
      val nBroadcast = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
      assert(nBroadcast >= 2,
        s"verification joins not broadcast-pinned ($nBroadcast found):\n${plan.take(1500)}")
    }
  }

  test("q_exists_subquery: EXISTS decorrelated to a semi join, no nested re-execution") {
    val plan = planOf("q_exists_subquery")
    assert(plan.contains("LeftSemi") || plan.contains("ExistenceJoin"),
      s"EXISTS not decorrelated to a semi join:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n${plan.take(800)}")
  }

  test("TPC-H Q17/Q20/Q21: correlated subqueries decorrelated to joins, no cartesian") {
    // the three canonical decorrelation stress shapes (round 15):
    // Q17 scalar-avg per part, Q20 nested-IN + correlated scalar,
    // Q21 EXISTS + NOT EXISTS self-joins — each must plan as
    // aggregate/semi/anti JOINS, never nested re-execution or a
    // cartesian/nested-loop artifact
    for (q <- Seq("q_tpch_q17", "q_tpch_q20", "q_tpch_q21")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian:\n${plan.take(800)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested loop (undecorrelated subquery):\n${plan.take(1200)}")
    }
    // the semi/anti shapes must actually appear where they're the point
    assert(planOf("q_tpch_q20").contains("LeftSemi"),
      "Q20's IN chain not decorrelated to semi joins")
    val q21 = planOf("q_tpch_q21")
    assert(q21.contains("LeftSemi") || q21.contains("ExistenceJoin"),
      "Q21's EXISTS not a semi join")
    assert(q21.contains("LeftAnti"), "Q21's NOT EXISTS not an anti join")
  }

  test("TPC-H Q2/Q4/Q11/Q16/Q22: subquery shapes decorrelate, semi/anti joins appear") {
    // the five subquery-bearing closers of the 22/22 set: correlated
    // scalar-MIN (Q2), correlated EXISTS (Q4), scalar-subquery HAVING
    // (Q11), NOT IN (Q16), scalar AVG + NOT EXISTS (Q22) — all must
    // plan as joins/one-shot subqueries, never nested re-execution
    for (q <- Seq("q_tpch_q2", "q_tpch_q4", "q_tpch_q11", "q_tpch_q16", "q_tpch_q22")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian:\n${plan.take(800)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested loop (undecorrelated subquery):\n${plan.take(1200)}")
    }
    val q4 = planOf("q_tpch_q4")
    assert(q4.contains("LeftSemi") || q4.contains("ExistenceJoin"),
      "Q4's EXISTS not a semi join")
    assert(planOf("q_tpch_q16").contains("LeftAnti"), "Q16's NOT IN not an anti join")
    assert(planOf("q_tpch_q22").contains("LeftAnti"), "Q22's NOT EXISTS not an anti join")
  }

  test("TPC-H Q7/Q8/Q9: dims broadcast, at most one fact-fact shuffle join") {
    for (q <- Seq("q_tpch_q7", "q_tpch_q8", "q_tpch_q9")) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q: no broadcast dim join")
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian")
      val shuffleJoins = plan.linesIterator.count(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
      assert(shuffleJoins <= 1,
        s"$q: $shuffleJoins shuffle joins (expected <= 1):\n${plan.take(1500)}")
    }
  }

  test("q_tpch_q13: the exclusion filter stays ON the outer join, zero-order customers kept") {
    val plan = planOf("q_tpch_q13")
    assert(plan.contains("LeftOuter"),
      s"Q13's left join collapsed to inner (drops zero-order customers):\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"), "Q13 plans a cartesian")
  }

  test("q_phrase_search: pruned posting joins, never a corpus-wide window") {
    val plan = planOf("q_phrase_search")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"adjacency join degenerated to all-pairs:\n${plan.take(1200)}")
    // the scale contract: phrase terms prune the postings BEFORE any
    // wide op — a Window here would mean every posting in the corpus
    // shuffles instead of O(sum df(term)) pruned rows
    assert(!plan.contains("Window"),
      s"phrase search planned as a corpus-wide window:\n${plan.take(1200)}")
    // the pruned postings are checkpointed once (ONE corpus scan);
    // every adjacency join must read that materialization, never a
    // fresh tokenize of the corpus
    assert(plan.contains("ExistingRDD"),
      s"pruned postings not materialized once:\n${plan.take(1200)}")
    assert(!plan.contains("FileScan parquet"),
      s"an adjacency side re-scans the corpus:\n${plan.take(1200)}")
  }

  test("q_dpp_join: fact scan carries a dynamicpruning PartitionFilter") {
    // the qualifying years are computed by the query itself, so only a
    // RUNTIME pruning subquery on the partitioned scan keeps the fact
    // read O(hit partitions) — a static plan here reads all 7 years
    val plan = planOf("q_dpp_join")
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n${plan.take(1500)}")
    assert(plan.contains("PartitionFilters: [isnotnull(ship_year"),
      s"ship_year not a partition filter:\n${plan.take(1500)}")
  }

  test("q_bloom_join: runtime bloom filter planted on the fact side, session conf restored") {
    // the graded operator executes the join inside its conf window
    // through one pin; the graded frame itself shows only the
    // checkpoint scan, so the audit reads the pin's executed plan
    val plan = ran(pinsOf(graft.operators.Relational
      .bloomFilteredJoin(spark, sfDir)).last)
    assert(plan.contains("bloom_filter_agg"),
      s"no bloom filter built from the filtered orders side:\n${plan.take(1500)}")
    assert(plan.contains("might_contain"),
      s"no might_contain guard on the lineitem side:\n${plan.take(1500)}")
    // the graded entry must return the EXECUTED (checkpointed) result
    val graded = planOf("q_bloom_join")
    assert(graded.contains("ExistingRDD"),
      s"graded bloom join did not execute under the conf window:\n${graded.take(1200)}")
    // the planning-time overrides must not leak into the shared session
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "bloomFilteredJoin leaked its broadcast-threshold override")
  }

  test("q_cbo_join: ANALYZE stats reorder the bad syntactic join order; CBO off keeps it") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.functions.{col, count, lit}
    // innermost join (exactly one join in its own subtree = itself):
    // with CBO + stats it must hold customer⋈nation (no o_ columns);
    // orders — written FIRST — must have been pushed to the top join
    def innerJoinCols(plan: SparkPlan): Seq[String] = {
      val joins = collect(plan) { case j: BaseJoinExec => j }
      assert(joins.size === 2, s"expected 2 joins, got ${joins.size}")
      joins.filter(j => collect(j) { case x: BaseJoinExec => x }.size == 1)
        .head.output.map(_.name)
    }
    // the graded operator runs the join under its conf window through
    // one pin: audit the join that pin executed
    val cboCols = innerJoinCols(
      pinsOf(graft.operators.Relational.cboStarJoin(spark, sfDir)).last)
    assert(!cboCols.exists(_.startsWith("o_")) &&
      cboCols.exists(_.startsWith("c_")) && cboCols.exists(_.startsWith("n_")),
      s"CBO did not reorder the selective dimension inward: $cboCols")
    // conf window restored for the rest of the session
    assert(!spark.conf.getOption("spark.sql.cbo.enabled").contains("true"),
      "cboStarJoin leaked spark.sql.cbo.enabled")
    // ANALYZE genuinely recorded row counts in the catalog
    val tbl = graft.operators.Relational.analyzedTable(spark, sfDir, "nation")
    val statsRow = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
      .filter(col("col_name") === "Statistics")
      .collect().map(_.getString(1)).mkString
    assert(statsRow.contains("rows"), s"no row-count stats on $tbl: $statsRow")
    // CONTROL — same query, same analyzed tables, CBO off: the bad
    // syntactic order survives (orders stays in the innermost join),
    // proving the reorder above is stats-driven, not shape luck
    val ctrl = spark.table(graft.operators.Relational
        .analyzedTable(spark, sfDir, "orders"))
      .join(spark.table(graft.operators.Relational
        .analyzedTable(spark, sfDir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(spark.table(tbl), col("c_nationkey") === col("n_nationkey"))
      // the SAME literal the graded query filters on (the fixture's
      // nation names are NATION_<k>), so the only variable between the
      // two plans is the CBO conf, not the predicate's selectivity
      .filter(col("n_name") === "NATION_7")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"))
    val ctrlCols = innerJoinCols(ctrl.queryExecution.executedPlan)
    assert(ctrlCols.exists(_.startsWith("o_")),
      s"control without CBO unexpectedly reordered: $ctrlCols")
  }

  test("q_cbo_broadcast: stats-driven broadcast of the dim composite; size-only keeps SMJ") {
    import org.apache.spark.sql.functions.{col, count, lit, round, sum}
    // Threshold chosen so ORDERS itself can never broadcast under
    // either stats regime (at fixture scale every table is tiny, so
    // the discriminating lever is the INTERMEDIATE estimate): with CBO
    // the (customer ⋈ nation ⋈ σ(region)) composite propagates row
    // counts (~|customer|/5 rows) and lands far under the threshold →
    // BroadcastHashJoin into orders; without CBO the size-only visitor
    // estimates an inner join at the PRODUCT of child sizes → over any
    // threshold → sort-merge. The broadcast is therefore provably
    // chosen from ANALYZE statistics, not file sizes.
    // ... and below CUSTOMER's too: the control's syntactic first join
    // is orders ⋈ (bare customer), which would broadcast customer on
    // its own size if the threshold only excluded orders
    // sizes measured on the PRUNED projections the join actually
    // carries (column pruning scales the size-only estimate, so the
    // full-table size would overstate what the planner compares)
    def tableSize(name: String, cols: Seq[String], cbo: Boolean): BigInt = {
      val t = graft.operators.Relational.analyzedTable(spark, sfDir, name)
      spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
      try spark.table(t).select(cols.map(col): _*)
        .queryExecution.optimizedPlan.stats.sizeInBytes
      finally spark.conf.unset("spark.sql.cbo.enabled")
    }
    val pruned = Seq(
      "orders" -> Seq("o_custkey", "o_totalprice"),
      "customer" -> Seq("c_custkey", "c_nationkey", "c_mktsegment"))
    val thresh = pruned
      .flatMap { case (t, cs) =>
        Seq(tableSize(t, cs, cbo = false), tableSize(t, cs, cbo = true)) }
      .min - 1
    assert(thresh > 0, s"degenerate orders size estimate: $thresh")
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh.toString)
    try {
      // the static plan (before adaptive re-planning): the join choice
      // the planner made from the statistics
      def ordersJoinLines(plan: SparkPlan): Seq[String] = {
        plan.toString.linesIterator
          .filter(l => l.contains("Join") && l.contains("o_custkey")).toSeq
      }
      // the graded operator's pin ran its plan under the threshold
      val cboLines = ordersJoinLines(pinsOf(graft.operators.Relational
          .cboStarJoin4(spark, sfDir)).last match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      })
      assert(cboLines.exists(_.contains("BroadcastHashJoin")),
        s"CBO stats did not broadcast the dim composite into orders: $cboLines")
      // CONTROL — same tables, same threshold, CBO off: the composite's
      // product-of-sizes estimate forbids the broadcast
      val Seq(tO, tC, tN, tR) = Seq("orders", "customer", "nation", "region")
        .map(graft.operators.Relational.analyzedTable(spark, sfDir, _))
      val ctrl = spark.table(tO)
        .join(spark.table(tC), col("o_custkey") === col("c_custkey"))
        .join(spark.table(tN), col("c_nationkey") === col("n_nationkey"))
        .join(spark.table(tR), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
      val ctrlLines = ordersJoinLines(ctrl.queryExecution.sparkPlan)
      assert(ctrlLines.nonEmpty && ctrlLines.forall(!_.contains("BroadcastHashJoin")),
        s"size-only control still broadcast the orders join: $ctrlLines")
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("q_image_neardup: band join is an equi-join on (band, value), never all-pairs") {
    val plan = planOf("q_image_neardup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"banded candidate join degenerated to all-pairs:\n${plan.take(1200)}")
    // the Manku wide tier must hold the same shape: 20 combo tables or
    // not, the candidate join is still an equi-join on (combo, key)
    val wide = planOf("q_image_neardup_wide")
    assert(!wide.contains("CartesianProduct") &&
      !wide.contains("BroadcastNestedLoopJoin"),
      s"wide banded join degenerated to all-pairs:\n${wide.take(1200)}")
    // the hash table must be materialized ONCE and reused by the
    // band/verify consumers instead of 4 re-decodes: since round 16
    // it's the scratch-parquet read-back (shared with q_image_ahash),
    // so every consumer is a narrow 3-long FileScan of the hash table
    // (asserted on ReadSchema — the explain Location string truncates
    // the scratch path, so the path itself is not a stable anchor)
    // and the decode pipeline (mapPartitions → SerializeFromObject)
    // must not survive anywhere in the plan
    assert(plan.contains(
      "ReadSchema: struct<doc_id:bigint,ahash_hi:bigint,ahash_lo:bigint>"),
      s"aHash consumers not reading the materialized table:\n${plan.take(1200)}")
    assert(!plan.contains("SerializeFromObject") &&
      !plan.contains("MapPartitions"),
      s"PNG decode pipeline leaked into the query plan:\n${plan.take(1200)}")
  }

  test("q_incremental_agg: merge is a hash/merge join of pre-aggregated sides") {
    val plan = planOf("q_incremental_agg")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    // both sides aggregate BEFORE the merge join — the fact volume
    // must be absorbed by partial aggregation, never joined raw
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"sides not pre-aggregated before the merge:\n${plan.take(1200)}")
  }

  test("fact-fact joins never plan a cartesian product") {
    for (q <- Seq("q_join_agg", "q_semi_join", "q_anti_join", "q_asof_join",
        "q_range_join", "q_outer_join", "q_full_outer")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian:\n${plan.take(800)}")
    }
  }

  test("TPC-H shapes: dims broadcast, date filters pushed, one fact-fact shuffle join") {
    for (q <- Seq("q_tpch_q3", "q_tpch_q5", "q_tpch_q10")) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: no broadcast dim join:\n${plan.take(1200)}")
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian")
      // both fact scans must carry their pushed date/flag predicates
      assert(plan.contains("PushedFilters: [IsNotNull"),
        s"$q: no pushed filters on the scans:\n${plan.take(1200)}")
      // orders⋈lineitem is the ONLY sort-merge/shuffle-hash join
      val shuffleJoins = plan.linesIterator.count(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
      assert(shuffleJoins <= 1,
        s"$q: $shuffleJoins shuffle joins (expected <= 1):\n${plan.take(1500)}")
    }
  }

  test("q_tpch_q3/q10: top-k is TakeOrderedAndProject, not a global sort") {
    for (q <- Seq("q_tpch_q3", "q_tpch_q10"))
      assert(planOf(q).contains("TakeOrderedAndProject"), s"$q globally sorts")
  }

  test("q_lateral_join: decorrelated to joins, no per-row re-execution artifacts") {
    val plan = planOf("q_lateral_join")
    assert(!plan.contains("CartesianProduct"),
      s"lateral not decorrelated:\n${plan.take(1200)}")
  }

  test("q_triangles: wedge join fans out from oriented (low-degree) side, no cartesian") {
    val plan = planOf("q_triangles")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n${plan.take(800)}")
  }

  test("q_decontamination_bloom: the sketch probe reaches the train-side plan") {
    // the prefilter must execute as the codegen might_contain predicate
    // on the train branch — if it silently drops out of the plan the
    // query still hash-matches (lossless!) but the 100 TB scan benefit
    // is gone, which only this audit would catch. Audited on the
    // executed plan of the operator's result pin.
    import graft.operators.Dedup
    val docs = graft.tables.Tables.documents(spark, sfDir)
    val plan = ran(pinsOf(Dedup.decontaminationBloomOn(docs)).last)
    assert(plan.contains("might_contain"),
      s"bloom probe missing from plan:\n${plan.take(1500)}")
  }

  test("q_lm_typicality: vocabulary aggregation has a map-side partial phase") {
    import graft.operators.TextAnalysis
    val docs = graft.tables.Tables.documents(spark, sfDir)
    val plan = ran(pinsOf(TextAnalysis.lmTypicalityOn(docs)).last)
    // partial_count before the exchange = map-side combine on the
    // bigram vocabulary groupBy
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"no partial aggregation:\n${plan.take(1500)}")
  }

  test("delta dedup: the band candidate join probes an is_new-filtered side") {
    // the incremental property in the PHYSICAL plan of the graded
    // entry's output pin: one join input is reduced to the new batch
    // by an is_new filter before the band join, so candidate work
    // scales with |delta|, not |corpus|
    val out = pinsOf(SparkEntry.queries("q_delta_dedup")(spark, sfDir))
      .map(ran).filter(_.contains("pair_type"))
    assert(out.size === 1, s"${out.size} pins hold the output pairs")
    val plan = out.head
    assert(plan.linesIterator.exists(l =>
        l.contains("Filter") && l.contains("is_new")),
      s"no is_new filter below the band join:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("graph-ANN beam search: per-hop joins broadcast the beam, never the corpus") {
    import graft.operators.Similarity.GraphHops
    // the graded entry pins each hop's beam; the hops are its last pins
    val pins = pinsOf(SparkEntry.queries("q_knn_graph")(spark, sfDir)).map(ran)
    assert(pins.size > GraphHops, s"${pins.size} pins for $GraphHops hops")
    pins.takeRight(GraphHops).foreach { plan =>
      assert(!plan.contains("CartesianProduct"), s"cartesian in:\n${plan.take(800)}")
      // the tiny beam (queries x beam-width rows) must be the broadcast
      // side; shuffling the edge or corpus table per hop would be the
      // wrong side at corpus scale
      assert(plan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
        s"beam joins not broadcast:\n${plan.take(1500)}")
    }
  }

  test("q_pipeline_e2e: stages read the persisted frames, never re-scan the corpus") {
    // four stages consume the corpus (filter, dedup keeper set, shingle
    // pipeline, final pack join); without the persist scoping each one
    // would re-scan + re-tokenize the 100 TB table. The quality
    // decision pass runs once up front (checkpointed narrow id/reason
    // table — see the pushdown note in Pipeline); after it, corpus
    // access goes through the in-memory stage frames, whose single
    // backing scan (the semi join carrying survivors' text) runs once.
    // The audit reads every pin after the decision pass and asserts NO
    // parquet scan ran outside a persisted frame's cached plan.
    import graft.operators.Pipeline
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.catalog.clearCache()
    try {
      val docs = graft.tables.Tables.documents(spark, sfDir)
      val decision +: stages = pinsOf(Pipeline.curationPipelineOn(docs))
      assert(stages.nonEmpty, "no pin after the decision pass")
      // the decision pass is the one pin that reads the corpus files
      assert(collect(decision) { case f: FileSourceScanExec => f }.nonEmpty,
        s"the decision pass scan is not in its pin's plan:\n$decision")
      for (pin <- stages) {
        val direct = collect(pin) { case f: FileSourceScanExec => f }
        assert(direct.isEmpty,
          s"stage re-scans the corpus directly: ${direct.map(_.nodeName)}\n$pin")
      }
    } finally { spark.catalog.clearCache(); () }
  }

  test("q_temperature_mixture: rate table broadcast, corpus never shuffled pre-filter") {
    // the corpus-side dataflow must be scan → broadcast-join the tiny
    // per-lang rate table → narrow hash filter → partial agg; a
    // shuffle of document rows BEFORE the filter would move the whole
    // 100 TB corpus to sample it
    val plan = planOf("q_temperature_mixture")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    val beforeFilter = plan.split("Filter ").head
    assert(!beforeFilter.contains("SortMergeJoin"),
      "corpus joined by shuffle instead of broadcast")
  }

  test("q_kmeans: centroids broadcast to the corpus, distance kernel codegen'd") {
    try {
      val plan = planOf("q_kmeans")
      // assignment = corpus × broadcast(k·dim centroids); a shuffle of
      // corpus rows per centroid round would move 100 TB three times
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastExchange"), plan.take(1500))
      // the hot kernel is the native expression, not an interpreted HOF
      assert(plan.contains("sq_dist_d"), "codegen distance kernel missing")
      assert(!plan.contains("aggregate(zip_with"),
        "interpreted HOF lambda back in the assignment path")
    } finally { spark.catalog.clearCache(); () }
  }

  test("q_substring_dedup: pruned scan, O(n) hash pass, skew-proof repeat filter") {
    val plan = planOf("q_substring_dedup")
    // the corpus scan reads only (doc_id, text)
    val readSchema = plan.split("ReadSchema:")(1).takeWhile(_ != '\n')
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("lang"), s"unpruned scan: $readSchema")
    // window hashes come from the single-pass codegen expression, not
    // per-substring re-hashing
    assert(plan.contains("rolling_window_hash"), "O(n*L) fallback in the plan")
    // repeat detection is groupBy-count with a MAP-SIDE partial (a
    // boilerplate hot key collapses before the shuffle) + a semi join
    // of the positions — never a count-over-key window, which would
    // buffer the hot key's whole group in one task
    assert(plan.contains("partial_count"), "repeat count has no partial phase")
    assert(plan.contains("LeftSemi"), "position filter is not a semi join")
    assert(!plan.contains("windowspecdefinition(h1"),
      "count-over-key window back in the repeat filter")
    // the shuffles: gram groupBy, semi-join probe, doc_id islands,
    // range partitioning for the output sort — nothing else moves.
    // Round-robin exchanges are the Tables.widened scan-parallelism
    // floor (single-row-group fixture scans fan out to the cores);
    // they are absent at production scan widths, so the audit bounds
    // the DATA-KEYED moves — and ALSO caps the round-robin count at
    // the one expected widen site (round-21 advice: an unbounded
    // exclusion would let an accidental repartition() anywhere in the
    // query slip past the exchange audit).
    val roundRobins = "Exchange RoundRobinPartitioning".r.findAllIn(plan).length
    assert(roundRobins <= 1,
      s"expected at most 1 widen-floor round-robin exchange, got $roundRobins:\n${plan.take(2000)}")
    val exchanges = "Exchange ".r.findAllIn(plan).length - roundRobins
    assert(exchanges == 4, s"expected 4 keyed exchanges, got $exchanges:\n${plan.take(2000)}")
    // shuffle rows are (doc_id, pos, h1, h2) longs: text is projected
    // away before the first exchange (the Generate output project)
    val firstExchange = plan.split("Exchange hashpartitioning\\(h1")(0)
    assert(!firstExchange.split("\n").exists(l =>
        l.contains("Project") && l.contains("text#")),
      "window text survives into the shuffle")
    // span assembly partial-aggregates map-side
    assert(plan.contains("partial_min"), "no partial aggregation phase")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "quadratic join shape")
  }

  test("q_winnow_pairs: checkpointed index, df-capped key join, no cartesian") {
    val df = SparkEntry.queries("q_winnow_pairs")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the winnowed index is materialized once (checkpoint scan), so
    // the explode + window selection never re-plans per branch
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LogicalRDD"),
      "winnow selection not checkpointed")
    // pair enumeration is an equi-join on fp (posting lists), with the
    // pair counts partial-aggregated map-side — never a cross product
    assert(plan.contains("partial_count"), "pair counts have no partial phase")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "quadratic join shape")
  }

  test("q_boilerplate: segment count has a map-side partial phase before its shuffle") {
    // the corpus-wide segment count must partially aggregate before
    // shuffling (the wordCount discipline) — a raw segment shuffle is
    // the whole exploded corpus over the wire
    val plan = planOf("q_boilerplate")
    assert(plan.contains("partial_count"),
      "no partial aggregation in the segment count")
  }

  test("q_scd2: ONE user_id shuffle serves windows, version agg, and interval lead") {
    // the change-flag window, running version sum, groupBy(user_id,
    // version), and the valid_to lead all cluster by user_id —
    // HashPartitioning(user_id) satisfies every requirement, so the
    // only other exchange is the output's range sort
    val plan = planOf("q_scd2")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx === 1, s"expected 1 hash exchange, got $hashEx:\n${plan.take(1500)}")
    assert(plan.contains("rangepartitioning"), "output sort not range-partitioned")
  }

  test("q_split_leakage: the pair list broadcasts into both split-tag joins") {
    // pairs are output-bounded and tiny; the corpus-sized (doc_id,
    // split) relation must stream past a broadcast build side, never
    // shuffle for the tag joins
    val plan = planOf("q_split_leakage")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 2, s"expected both tag joins broadcast, got $bhj")
  }

  test("q_lexical_cosine: pair list broadcasts into dot and norm joins") {
    // the candidate/dot side is output-bounded; the corpus-sized tf
    // and norms relations must stream past broadcast build sides
    // (cand → both tf joins, dots → both norm joins); audit the
    // executed plan of the output pin, where those joins run
    val docs = graft.tables.Tables.documents(spark, sfDir)
    val plan = ran(pinsOf(graft.operators.Dedup.lexicalCosineOn(docs)).last)
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 4, s"expected pair-side broadcasts on dot+norm joins, got $bhj")
  }

  test("q_bm25: query terms broadcast into the postings probe; postings reused") {
    // audit the executed plan of the result pin — the snapshot hides
    // the joins
    val docs = graft.tables.Tables.documents(spark, sfDir)
    try {
      val plan = ran(pinsOf(graft.operators.Retrieval.bm25On(docs)).last)
      assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
      // the persisted postings table serves dl/df/probe without re-scan
      assert(plan.contains("InMemoryTableScan"),
        s"postings not reused from cache:\n${plan.take(1200)}")
    } finally spark.catalog.clearCache()
  }

  test("q_dsir: top-N selection is TakeOrderedAndProject, not a global window") {
    val docs = graft.tables.Tables.documents(spark, sfDir)
    try {
      val plan = ran(pinsOf(graft.operators.Retrieval.dsirWeightsOn(docs)).last)
      assert(plan.contains("TakeOrderedAndProject"),
        s"corpus-wide rank should be a distributed top-N:\n${plan.take(1200)}")
    } finally spark.catalog.clearCache()
  }

  test("q_ewma: ONE user_id shuffle serves all eight lag taps") {
    val plan = SparkEntry.queries("q_ewma")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected exactly one hash shuffle, got $hashEx:\n${plan.take(1500)}")
    assert("Window".r.findAllIn(plan).size >= 1)
  }

  test("q_tpch_q6: all three range predicates pushed to the scan, no shuffle join") {
    val plan = planOf("q_tpch_q6")
    assert(plan.contains("PushedFilters: ["), plan.take(1200))
    // the scan filter must carry the date range, not just the cheap ones
    assert(plan.contains("l_shipdate"), "date range not pushed")
    assert(plan.contains("l_discount"), "discount range not pushed")
    val readSchema = plan.split("ReadSchema:")(1).takeWhile(_ != '\n')
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_returnflag"),
      s"unpruned scan: $readSchema")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      "Q6 has no join")
  }

  test("q_tpch_q19: OR-of-conjunctions stays a broadcast equi-join, part conjuncts pushed") {
    val plan = planOf("q_tpch_q19")
    // the equi-key must anchor a hash join; the disjunction is residual
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"OR predicate degraded the join:\n${plan.take(1500)}")
  }

  test("q_tpch_q14: part dim broadcast, ratio folded into one aggregation pass") {
    val plan = planOf("q_tpch_q14")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), "part join fell back to SMJ")
    // both conditional sums must ride one HashAggregate pair, not two scans
    assert("HashAggregate".r.findAllIn(plan).size == 2,
      s"expected exactly partial+final aggregate:\n${plan.take(1500)}")
  }

  test("q_data_quality: scan checks fold into one pass, FK check broadcast anti") {
    val plan = planOf("q_data_quality")
    assert(plan.contains("LeftAnti"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), "FK anti-join fell back to SMJ")
    // the fact table is scanned once per job family: one agg scan +
    // one anti-join scan (+ the dim side) — more scans means a check
    // escaped the fold. One non-overlapping pattern: "Scan parquet"
    // alone would double-count inside "FileScan parquet"
    val scans = "(File|Batch)Scan parquet".r.findAllIn(plan).size
    assert(scans <= 3, s"too many scans ($scans):\n${plan.take(1500)}")
  }

  test("q_hard_negatives: anchors broadcast, selection aggregated not windowed") {
    val plan = SparkEntry.queries("q_hard_negatives")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the cross-label condition is non-equi → broadcast nested loop of
    // the tiny anchor set; the corpus must never shuffle for the join
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // per-anchor top-K via the bounded aggregator (ObjectHashAggregate
    // from the typed TopK), never an anchor-partitioned rank window
    assert(!plan.contains("Window"),
      s"anchor-partitioned window would serialize the corpus:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"), "label join fell back to SMJ")
  }

  test("BPE round: pair count partial-aggregates map-side; argmax is top-1, not a sort") {
    val seqs = graft.operators.Tokenizer.initialSeqs(spark, sfDir)
    val round = graft.operators.Tokenizer.pairCounts(seqs)
      .orderBy(org.apache.spark.sql.functions.col("pc").desc,
        org.apache.spark.sql.functions.col("t1"),
        org.apache.spark.sql.functions.col("t2"))
      .limit(1)
    val plan = round.queryExecution.executedPlan.toString
    // ONE vocabulary-sized shuffle per round: partial HashAggregate
    // before the exchange, final after
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1500))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 2, s"pair count should shuffle at most twice (vocab + pairs), got $hashEx:\n${plan.take(1500)}")
    // the per-round argmax must be a distributed top-1, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  test("q_event_paths: bounded aggregator selection, type fetch broadcast, no window") {
    val plan = planOf("q_event_paths")
    // per-user earliest-K through the typed bounded aggregator —
    // an all-events collect_list would buffer unbounded heavy users
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    assert(!plan.contains("Window"), s"rank window over the fact table:\n${plan.take(1500)}")
    // event types come back via broadcast into the events scan, never
    // a second fact shuffle
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), "type fetch fell back to SMJ")
  }

  test("q_anomaly_mad: median/MAD side tables broadcast over the events scan") {
    val plan = SparkEntry.queries("q_anomaly_mad")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected both stat joins broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"), "stat join fell back to SMJ")
  }

  test("q_phrase_batch: one postings build, phrase tables broadcast, no window") {
    // the batch contract: N phrases cost ONE pruned corpus scan (the
    // materialized postings) + Σ df probe rows — a per-phrase rescan
    // or a corpus-wide Window would both break the attribution
    // workload at scale
    val plan = planOf("q_phrase_batch")
    assert(plan.contains("ExistingRDD"),
      s"pruned postings not materialized once:\n${plan.take(1200)}")
    assert(!plan.contains("FileScan parquet"),
      s"a probe side re-scans the corpus:\n${plan.take(1200)}")
    assert(!plan.contains("Window"),
      s"batch resolver planned as a corpus-wide window:\n${plan.take(1200)}")
    // slot table and length table are query-sized: both join broadcast
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"phrase-side tables not broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"slot probe degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("q_proximity_search: band adjacency joins stay keyed on doc_id, no window") {
    // NEAR/k relaxes the adjacency equality to a band predicate, but
    // doc_id equality must remain the join KEY (band evaluated as a
    // post-join filter on the keyed join) — losing the equi-key turns
    // each step into an all-pairs nested loop
    val plan = planOf("q_proximity_search")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band join degenerated to all-pairs:\n${plan.take(1200)}")
    assert(!plan.contains("Window"),
      s"proximity planned as a corpus-wide window:\n${plan.take(1200)}")
    assert(plan.contains("ExistingRDD"),
      s"pruned postings not materialized once:\n${plan.take(1200)}")
    assert(!plan.contains("FileScan parquet"),
      s"an adjacency side re-scans the corpus:\n${plan.take(1200)}")
  }

  test("q_shard_assign: ONE shard shuffle feeds the rank window; output sort ranged") {
    // the contract: parallelism = shard count (one reducer per output
    // file), so the only hash exchange is on `shard`; a second one
    // would mean the window re-shuffled, a global sort would mean the
    // corpus funnels through one task
    val plan = planOf("q_shard_assign")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx === 1, s"expected 1 hash exchange, got $hashEx:\n${plan.take(1500)}")
    assert(plan.contains("rangepartitioning"), "output sort not range-partitioned")
    // the parallelism CONTRACT, pinned: the one exchange carries
    // exactly nShards partitions (the explicit repartition already
    // satisfies the window's clustering, so EnsureRequirements adds
    // nothing) — parallelism = shard count = the file-size knob, and a
    // degenerate nShards ≪ cores choice shows up HERE, not as a silent
    // serialization at scale (shardAssignOn also warns at build time)
    val n = graft.operators.Dedup.NumShards
    assert(s"Exchange hashpartitioning\\(shard#\\d+L?, $n\\)".r
        .findFirstIn(plan).isDefined,
      s"shard exchange partition count != $n:\n${plan.take(1500)}")
  }

  test("q_audio_neardup: banded equi-join over the materialized wide-fingerprint table") {
    // the image-banding audit, symmetric for the audio key: never
    // all-pairs, and the plan reads the once-per-corpus materialized
    // fingerprint parquet (no SerializeFromObject = no RIFF decode
    // re-entering this query's dataflow)
    val plan = planOf("q_audio_neardup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"audio banded join degenerated to all-pairs:\n${plan.take(1200)}")
    assert(!plan.contains("SerializeFromObject"),
      s"audio decode leaked into the near-dup plan:\n${plan.take(1200)}")
    val wide = planOf("q_audio_fingerprint_wide")
    assert(!wide.contains("SerializeFromObject"),
      s"q_audio_fingerprint_wide re-decodes instead of reading the " +
        s"materialized table:\n${wide.take(1200)}")
  }

  test("q_proximity_batch: one pruned postings build, equi-band joins, no corpus rescan") {
    val plan = planOf("q_proximity_batch")
    assert(plan.contains("ExistingRDD"),
      s"pruned postings not materialized once:\n${plan.take(1200)}")
    assert(!plan.contains("FileScan parquet"),
      s"a frontier round re-scans the corpus:\n${plan.take(1200)}")
    assert(!plan.contains("Window"),
      s"proximity batch planned as a corpus-wide window:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"a frontier join degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("q_pipeline_media: decode never re-enters the cascade; dedup partials; one layout window") {
    val plan = planOf("q_pipeline_media")
    // both modality decodes live in the MATERIALIZED per-corpus tables;
    // the cascade itself must plan over their narrow parquet read-backs
    // (a SerializeFromObject marker would mean a decode mapPartitions
    // leaked into this dataflow and runs per query)
    assert(!plan.contains("SerializeFromObject"),
      s"a decode stage leaked into the cascade plan:\n${plan.take(1500)}")
    // the joint-key dedup decision partial-aggregates map-side (the
    // q_image_dedup discipline)
    assert(plan.contains("partial_min") && plan.contains("partial_count"),
      s"joint-key class stats lack a map-side partial phase:\n${plan.take(1500)}")
    // exactly ONE window — the nShards-parallel shard rank; a second
    // would mean the dedup decision regressed to a per-class window
    val nWin = plan.linesIterator.count(_.contains("Window ["))
    assert(nWin === 1, s"expected 1 window (shard rank), got $nWin:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"a cascade join degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("q_delta_knn_ivf: stored layout read partition-pruned; never re-clustered") {
    val plan = planOf("q_delta_knn_ivf")
    // the serving read: both the frozen base layout and the delta
    // commit are parquet scans PRUNED to the probed cells (the cell
    // literals become PartitionFilters — only those directories open)
    val pruned = plan.linesIterator
      .count(l => l.contains("PartitionFilters") && l.contains("cell"))
    assert(pruned >= 2,
      s"expected both layout scans cell-pruned, found $pruned:\n${plan.take(2000)}")
    // never re-clustered at query time: the Lloyd chain's signature
    // stages (posexplode of qv for centroid sums) must be absent —
    // centroids arrive as a parquet read-back
    assert(!plan.contains("posexplode"),
      s"a Lloyd centroid-update stage leaked into the serving plan:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"the probe degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("q_delta_substring_dedup: batch is the only text pass; stored keys read back") {
    val plan = planOf("q_delta_substring_dedup")
    // the only rolling-window lineage is the batch's (md5 bucket >= 8);
    // the base side arrives as the stored distinct-key parquet, never
    // re-hashed text — no base-split filter anywhere in the plan.
    // Assertions anchor on the pmod(..., 10) bucket expression, not a
    // bare ">= 8" substring that any unrelated literal could satisfy
    val batchSplit = """pmod\(.*,\s*10\)\s*>=\s*8""".r
    val baseSplit = """pmod\(.*,\s*10\)\s*<\s*8""".r
    assert(batchSplit.findFirstIn(plan).isDefined,
      s"batch split filter missing from the delta plan:\n${plan.take(1500)}")
    assert(baseSplit.findFirstIn(plan).isEmpty,
      s"base-side text lineage leaked into the delta plan:\n${plan.take(1500)}")
    assert(plan.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("h1")),
      s"stored key index not read from parquet:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the key probe degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("q_delta_winnow_pairs: stored index read back as parquet; no all-pairs degeneration") {
    // the graded (pinned) plan: everything below the batch-frame
    // checkpoints is already-executed ingest work, and what the probe
    // PLANS over is the stored index read back from parquet — n_fps
    // exists only in the stored sizes schema, fp-keyed postings only
    // in the stored postings. ("batch is the only text pass" is
    // enforced by construction — the base tables carry no text column
    // at all — and pinned functionally by the mod-3 Round19 spec.)
    val plan = planOf("q_delta_winnow_pairs")
    assert(plan.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("n_fps")),
      s"stored winnow sizes not read from parquet:\n${plan.take(1500)}")
    assert(plan.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("fp")),
      s"stored postings not read from parquet:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"a posting probe degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("q_delta_lexical_cosine: stored index read back as parquet; no all-pairs degeneration") {
    // the graded entry pins its stages and output; a warm build (the
    // stored index already written) is audited on every pin's executed
    // plan, where the verify stage's dataflow shows
    assert(SparkEntry.queries("q_delta_lexical_cosine")(spark, sfDir).count() > 0)
    val plan = pinsOf(SparkEntry.queries("q_delta_lexical_cosine")(spark, sfDir))
      .map(ran).mkString("\n")
    assert(plan.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("norm2")),
      s"stored norms not read from parquet:\n${plan.take(1500)}")
    assert(plan.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("tok")),
      s"stored tf postings not read from parquet:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"a shingle probe degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("q_delta_semdedup: stored decisions read back; never re-fitted at query time") {
    val plan = planOf("q_delta_semdedup")
    // never re-clustered at query time: the Lloyd chain's centroid-
    // update stages (posexplode of qv) must be absent — centroids and
    // the base decision table arrive as parquet read-backs
    assert(!plan.contains("posexplode"),
      s"a Lloyd centroid-update stage leaked into the delta plan:\n${plan.take(2000)}")
    assert(plan.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("dist")),
      s"stored decision table not read from parquet:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"the decision join degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("q_delta_pipeline_media: no decode; batch-only band explosions; append window only") {
    val plan = planOf("q_delta_pipeline_media")
    // all four stored tables (layout, joint reps, two band indexes)
    // arrive as parquet read-backs; the batch side planes through the
    // materialized hash tables — no decode mapPartitions anywhere
    assert(!plan.contains("SerializeFromObject"),
      s"a decode stage leaked into the delta cascade plan:\n${plan.take(1500)}")
    // every band explosion is a BATCH-side probe (the stored indexes
    // are never re-banded); the delta CC and probes pin their results
    // while building the frame, so the planned dataflow is keeper
    // aggregation + append: exactly ONE window (the per-shard append
    // rank over the batch keepers)
    val nWin = plan.linesIterator.count(_.contains("Window ["))
    assert(nWin === 1, s"expected 1 window (append rank), got $nWin:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"a delta cascade join degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("q_delta_image_neardup: batch probes the index; base never re-banded against itself") {
    // the candidate half, audited UN-PINNED (the graded entry
    // checkpoints it before the two expansion branches consume it):
    // exactly THREE band projections in the recompute-index form —
    // the batch probe, the batch's own bands unioned into the index
    // (new_new candidates), and the base's ONE projection — a fourth
    // would mean the base is banded twice (the existing-vs-existing
    // shape this operator avoids); the graded entries replace the
    // base projection with the stored parquet index (audited below)
    val ah = graft.operators.Multimodal.ahashTable(spark, sfDir)
    import org.apache.spark.sql.functions.col
    val cand = graft.operators.Multimodal.deltaBandHashPairs(
      ah.filter(col("doc_id") % 10 < 8), ah.filter(col("doc_id") % 10 >= 8))
    val cplan = cand.queryExecution.executedPlan.toString
    val nGen = cplan.linesIterator.count(_.contains("Generate explode"))
    assert(nGen === 3, s"expected 3 band explosions (probe + batch-in-index + base), got $nGen:\n${cplan.take(1500)}")
    // the batch-side split filter reaches the probe scan; the index
    // side unions both splits — so BOTH predicates appear, and the
    // probe never degenerates to all-pairs
    assert(cplan.contains("% 10)") && cplan.contains(">= 8"),
      s"batch-side split filter missing from the candidate plan:\n${cplan.take(1500)}")
    assert(!cplan.contains("CartesianProduct") &&
      !cplan.contains("BroadcastNestedLoopJoin"),
      s"the band probe degenerated to all-pairs:\n${cplan.take(1200)}")
    // the graded entry's own plan: expansion joins over the pinned
    // candidates and the narrow hash scans — no decode, no band
    // re-derivation, no all-pairs
    val plan = planOf("q_delta_image_neardup")
    assert(!plan.contains("SerializeFromObject"),
      s"a decode stage leaked into the delta plan:\n${plan.take(1500)}")
    assert(!plan.contains("Generate explode"),
      s"a band projection re-runs per expansion branch (checkpoint miss):\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"a delta join degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("q_delta_image_dedup: one narrow base aggregation, no windows, no payload join") {
    val plan = planOf("q_delta_image_dedup")
    // both class-stat aggregations partial-aggregate map-side (the
    // imageDedup discipline applied to base reps AND batch classes)
    assert(plan.contains("partial_min") && plan.contains("partial_count"),
      s"class stats lack a map-side partial phase:\n${plan.take(1500)}")
    assert(!plan.contains("Window"),
      s"delta dedup decision planned as a window:\n${plan.take(1200)}")
    assert(!plan.contains("SerializeFromObject"),
      s"a decode stage leaked into the delta plan:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
  }

  test("q_audio_chunk_neardup: posting join keyed on fingerprints, groupBy-not-window") {
    val plan = planOf("q_audio_chunk_neardup")
    // the aligned-run count and the per-pair best are groupBy stages
    // with map-side partials — a per-pair window would funnel hot
    // pairs through single reducers
    assert(!plan.contains("Window"),
      s"aligned-run stages planned as windows:\n${plan.take(1200)}")
    assert(plan.contains("partial_count") || plan.contains("partial_max"),
      s"run counting lacks a map-side partial phase:\n${plan.take(1500)}")
    assert(!plan.contains("SerializeFromObject"),
      s"the chunk decode leaked into this plan (materialized table miss):\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the posting join degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("q_pipeline_media_near: no decode in the cascade; keeper agg partials; one layout window") {
    val plan = planOf("q_pipeline_media_near")
    // near-dup routing, banding and CC run (and pin their results)
    // while BUILDING this frame; the planned dataflow is the keeper
    // aggregation + layout and must stay free of decode stages
    assert(!plan.contains("SerializeFromObject"),
      s"a decode stage leaked into the cascade plan:\n${plan.take(1500)}")
    assert(plan.contains("partial_sum"),
      s"keeper n_docs aggregation lacks a map-side partial phase:\n${plan.take(1500)}")
    val nWin = plan.linesIterator.count(_.contains("Window ["))
    assert(nWin === 1, s"expected 1 window (shard rank), got $nWin:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"a cascade join degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("q_image_dedup: class stats partial-aggregate map-side, never a per-class window") {
    // a billion-copy hash class must collapse to one row per partition
    // BEFORE the shuffle (partial min/count), and the representative
    // join must key on the hash — a Window over the class would funnel
    // the whole class through one reducer
    val plan = planOf("q_image_dedup")
    assert(plan.contains("partial_min") && plan.contains("partial_count"),
      s"class stats lack a map-side partial phase:\n${plan.take(1500)}")
    assert(!plan.contains("Window"),
      s"dedup decision planned as a per-class window:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"representative join degenerated to all-pairs:\n${plan.take(1200)}")
  }
}
