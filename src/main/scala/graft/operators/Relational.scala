package graft.operators

import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational surface: scan → project/filter → aggregate → join →
  * set ops → sort/limit, the generalization of the reference's single
  * map/shuffle/reduce dataflow (SURVEY.md §2.2). Every builder returns a
  * deterministically ordered DataFrame whose column names match its
  * DuckDB oracle twin in [[graft.SparkEntry.oracleSql]].
  *
  * Scale notes (100 TB): all aggregations here are partial-aggregatable
  * (Catalyst plans HashAggregate(partial) → shuffle → HashAggregate
  * (final), the map-side combine of the MapReduce paper §4.3); dimension
  * joins broadcast explicitly so the fact table never shuffles; filters
  * and projections sit directly on the scan so parquet gets
  * PushedFilters + pruned ReadSchema.
  */
object Relational {

  /** TPC-H Q1 pricing summary (the stock column set: sum_qty,
    * sum_base_price, sum_disc_price, sum_charge, avg_qty, avg_price,
    * avg_disc, count_order): scan → filter → wide agg → sort. The
    * reference's whole dataflow shape (scan→map→shuffle→reduce,
    * SURVEY.md §3.1) instantiated over lineitem. Doubles are rounded
    * identically in the oracle to make the hash comparison stable.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Projection + filter + scalar arithmetic, no shuffle at all: the
    * plan should be a single WholeStageCodegen over the parquet scan
    * with both predicates in PushedFilters.
    */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R" && col("l_quantity") > 45)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        // raw product, NOT rounded: the identical IEEE multiply in the
        // oracle is bitwise-equal, while round() implementations differ
        // on half-boundaries (Spark goes via Double.toString + HALF_UP).
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"),
        col("l_quantity").cast("long").as("qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Multi-way star join: orders ⋈ customer ⋈ nation ⋈ region, revenue
    * per nation. customer/nation/region are dimensions → broadcast, so
    * the only shuffle is the final aggregation on n_name. At 100 TB the
    * orders fact table streams through map-side hash joins.
    */
  def joinAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Fact ⋈ small dim with an explicit broadcast hint: lineitem ⋈ part,
    * aggregated by brand. One shuffle (the groupBy), zero for the join.
    */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        round(sum(col("l_extendedprice")), 2).as("brand_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  /** Left-semi join (EXISTS): customers that placed at least one
    * high-value order. Semi joins ship only the join key of the right
    * side — at scale this is the cheapest containment check.
    */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000)
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join (NOT EXISTS): customers that never placed a
    * high-value order (the fixture gives every customer at least one
    * order, so anti-join against ALL orders would be vacuously empty).
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000)
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-outer join preserving customers with zero orders; the
    * aggregate runs on the already-grouped orders side BEFORE the join
    * so the outer join is dim ⋈ pre-aggregated (smaller shuffle than
    * joining raw orders then grouping).
    */
  def outerJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("tot"))
    c.join(perCust, c("c_custkey") === perCust("o_custkey"), "left")
      .select(
        col("c_custkey"),
        coalesce(col("cnt"), lit(0L)).as("n_orders"),
        round(coalesce(col("tot"), lit(0.0)), 2).as("total_spent"))
      .orderBy(col("c_custkey"))
  }

  /** Equi + range (non-equi) join: lineitems shipped within 90 days of
    * their order date. The equi key keeps it a hash/sort-merge join;
    * the range predicate is a post-join filter Catalyst attaches to the
    * join condition.
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    l.join(o,
        l("l_orderkey") === o("o_orderkey") &&
        l("l_shipdate") >= o("o_orderdate") &&
        l("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_shipped_90d"))
      .orderBy(col("o_orderpriority"))
  }

  /** Global top-k: TakeOrderedAndProject — each partition keeps its own
    * k, the driver merges k·partitions rows. No full sort, no full
    * shuffle; this is THE scalable top-k at 100 TB.
    */
  def topK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("price").desc, col("o_orderkey"))
      .limit(10)

  /** Distributed global sort (MapReduce paper §2.3's "distributed
    * sort"): range-partitioned sort on the full key, the generalization
    * of the reference's corpus-wide Enum.sort (mr_sequential.ex:12).
    */
  def distributedSort(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("l_returnflag"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))

  /** INTERSECT: customers with both an 'O'-status and an 'F'-status
    * order. Spark plans set ops as aggregates/joins — partial-agg
    * friendly.
    */
  def intersectCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** INTERSECT ALL — multiset semantics: each common value keeps
    * min(count_left, count_right) copies. Counted per value so the
    * driver hash (order-insensitive within the sort key) is stable.
    */
  def intersectAllParts(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.filter(col("l_returnflag") === "R").select(col("l_partkey"))
      .intersectAll(l.filter(col("l_returnflag") === "A").select(col("l_partkey")))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("copies"))
      .orderBy(col("l_partkey"))
  }

  /** EXCEPT ALL — multiset semantics: left copies minus right copies. */
  def exceptAllParts(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.filter(col("l_returnflag") === "R").select(col("l_partkey"))
      .exceptAll(l.filter(col("l_returnflag") === "A").select(col("l_partkey")))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("copies"))
      .orderBy(col("l_partkey"))
  }

  /** EXCEPT: customers with an 'O' order but never a 'P' order. */
  def exceptCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "P").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** UNION (distinct) of two key projections — reference U1
    * (mr_sequential.ex:7-11 concatenates per-file map outputs) widened
    * to relational UNION with dedup.
    */
  def unionDistinct(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    c.select(col("c_nationkey").cast("int").as("nationkey"))
      .union(s.select(col("s_nationkey").cast("int").as("nationkey")))
      .distinct()
      .orderBy(col("nationkey"))
  }

  /** Exact distinct counts per group (shuffle-heavy: expand + two-phase
    * agg) next to the single-pass HLL approximation — the scale
    * trade-off made explicit.
    */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** HLL sketch version: one pass, constant memory, mergeable — what
    * you actually run at 100 TB. Not DuckDB-oracle-able (different
    * sketch), registered rows-only.
    */
  def approxDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        // rsd 0.02 (~4k registers): 0.01 quadruples the register file
        // and measured ~2x the runtime for precision nothing downstream
        // of an HLL estimate needs
        approx_count_distinct(col("l_suppkey"), 0.02).as("approx_supps"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
      .orderBy(col("l_returnflag"))

  /** ROLLUP with grouping_id — hierarchical totals in one pass. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  /** CUBE over two order dimensions. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("sum_price"),
        count(lit(1)).as("n_orders"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))

  /** Arbitrary GROUPING SETS — the general form rollup/cube specialize
    * (here: (status, priority), (status), ()) in ONE scan with partial
    * aggregation per set; grouping_id() disambiguates the null rows.
    * The DataFrame API only exposes the rollup/cube specializations, so
    * this goes through the SQL surface — identical Catalyst plan.
    */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_gs")
    // NULLS FIRST spelled explicitly: Spark defaults ASC NULLS FIRST,
    // DuckDB NULLS LAST — an implicit sort would shuffle row order
    // between engines
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue,
        |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
  }

  /** Conditional aggregation (CASE WHEN inside agg) — pivot-style
    * counters in a single scan.
    */
  def caseWhenAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        sum(when(col("o_totalprice") > 200000, 1).otherwise(0)).as("n_high"),
        sum(when(col("o_totalprice") <= 200000, 1).otherwise(0)).as("n_low"),
        round(avg(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice"))), 2).as("avg_urgent"))
      .orderBy(col("o_orderstatus"))

  /** As-of join (events → most recent order of that customer at or
    * before the event time), in the MERGE formulation: union both sides
    * tagged, one shuffle by key, one sort by (time, side), and a
    * running `last(ignoreNulls)` window carries the latest right-side
    * row forward. Unlike the join+filter+argmax plan this never
    * enumerates (event × qualifying-order) pairs — per key the cost is
    * the sorted run length, the formulation that survives skewed keys
    * at 100 TB. Orders are pre-deduped to one row per (custkey, date)
    * (max orderkey wins) so the as-of pick is deterministic.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(struct(col("o_orderkey"), col("o_totalprice"))).as("o"))
      .select(col("o_custkey").as("k"), col("o_orderdate").as("t"),
        lit(0).as("side"), lit(null).cast("long").as("event_id"),
        col("o.o_orderkey").as("ok"), col("o.o_totalprice").as("op"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id").as("k"), col("ts").as("t"),
        lit(1).as("side"), col("event_id"),
        lit(null).cast("long").as("ok"), lit(null).cast("double").as("op"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t"), col("side"), col("ok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(ord)
      .select(col("k"), col("side"), col("event_id"),
        last(col("ok"), ignoreNulls = true).over(w).as("last_orderkey"),
        last(col("op"), ignoreNulls = true).over(w).as("last_price"))
      .filter(col("side") === 1 && col("last_orderkey").isNotNull)
      .select(col("event_id"), col("k").as("user_id"),
        col("last_orderkey"), col("last_price"))
      .orderBy(col("event_id"))
  }

  /** Pivot: per-priority revenue fanned out by order status — groupBy +
    * pivot with explicit value list (explicit values keep the plan to
    * one pass; inferring them costs an extra distinct job).
    */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(col("o_totalprice")), 2))
      .orderBy(col("o_orderpriority"))

  /** UNPIVOT (melt) — the inverse reshape of [[pivotAgg]]: wide
    * measure columns to long (key, measure, value) rows. Narrow per-row
    * work (each input row fans out to #measures rows, no shuffle until
    * the aggregate); the long form is what a generic metrics pipeline
    * aggregates without schema-specific code.
    */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        variableColumnName = "measure",
        valueColumnName = "val")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"), round(sum(col("val")), 2).as("total"))
      .orderBy(col("l_returnflag"), col("measure"))

  /** Correlated subqueries through the SQL surface: EXISTS with a
    * correlated predicate AND a scalar subquery threshold — Catalyst
    * DECORRELATES both (EXISTS → left-semi join, scalar subquery →
    * broadcast one-row plan) instead of re-executing per outer row,
    * which is the difference between O(n) and O(n·m) at scale;
    * the plan audit asserts no nested-loop artifact survives.
    */
  def existsSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_sq")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_sq")
    spark.sql(
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer_sq c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders_sq o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_totalprice > (SELECT avg(o_totalprice) FROM orders_sq))
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  /** Arg-max/arg-min aggregation: the row attribute AT the group
    * extremum (max_by/min_by — one pass, no join-back or window).
    */
  def argMaxAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("top_orderkey"),
        round(max(col("o_totalprice")), 2).as("top_price"),
        min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("bottom_orderkey"))
      .orderBy(col("o_orderstatus"))

  /** Explicit cross join (tiny × tiny only — a deliberate cartesian for
    * pair enumeration; anything larger belongs behind a blocking key).
    */
  def crossJoinSmall(spark: SparkSession, dir: String): DataFrame =
    Tables.region(spark, dir).select(col("r_name"))
      .crossJoin(Tables.nation(spark, dir).select(col("n_name")))
      .orderBy(col("r_name"), col("n_name"))

  /** FULL OUTER join: per-customer 'P'-status vs 'F'-status order
    * counts — both sides have exclusive keys, every row of each
    * survives. (LEFT is covered by [[outerJoin]].)
    */
  def fullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def counts(status: String, out: String) =
      o.filter(col("o_orderstatus") === status)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as(out))
    counts("P", "n_p").withColumnRenamed("o_custkey", "ck_p")
      .join(counts("F", "n_f").withColumnRenamed("o_custkey", "ck_f"),
        col("ck_p") === col("ck_f"), "full_outer")
      .select(coalesce(col("ck_p"), col("ck_f")).as("custkey"),
        coalesce(col("n_p"), lit(0L)).as("n_p"),
        coalesce(col("n_f"), lit(0L)).as("n_f"))
      .orderBy(col("custkey"))
  }

  /** Per-group top-k via a typed `Aggregator` with a BOUNDED buffer
    * (k rows per partition per group cross the wire, not the group) —
    * the aggregation-form alternative to the ranking-window plan in
    * [[Windows.groupTopK]]; same results, verified by the same kind of
    * oracle.
    */
  def typedTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TypedAggregators.TopK
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, price, key) => (price, key) }
      .agg(new TopK(3).toColumn.name("top"))
      .toDF("o_orderstatus", "top")
      .select(col("o_orderstatus"), posexplode(col("top")))
      .select(col("o_orderstatus"), (col("pos") + 1).cast("long").as("rn"),
        round(col("col._1"), 2).as("price"), col("col._2").as("o_orderkey"))
      .orderBy(col("o_orderstatus"), col("rn"))
  }

  /** Mergeable distinct-count sketches (DataSketches HLL via Spark 4
    * builtins): build one sketch per (returnflag, linestatus) group,
    * then RE-aggregate by unioning sketches per returnflag. This is the
    * 100 TB pattern the plain `approx_count_distinct` can't give you —
    * a pre-aggregated sketch TABLE whose rows merge associatively, so
    * daily partitions re-roll into any coarser grouping without
    * re-scanning raw data. No DuckDB oracle (sketch binaries are
    * engine-specific) — registered rows-only.
    */
  def hllSketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val perStatus = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(hll_sketch_agg(col("l_suppkey")).as("supp_sketch"),
        count(lit(1)).as("n_rows"))
    perStatus
      .groupBy(col("l_returnflag"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("supp_sketch"))).cast("long")
          .as("approx_supps"),
        sum(col("n_rows")).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** Z-order (Morton) clustering key — the space-filling-curve layout
    * primitive behind multi-column data skipping (Delta/Iceberg
    * OPTIMIZE ZORDER): interleaving the bits of two join/filter keys
    * gives ONE sort key under which a contiguous file of rows spans a
    * small rectangle in (partkey, suppkey) space, so per-file min/max
    * stats prune reads on EITHER column — a plain sort clusters only
    * its leading column. Pure integer bit arithmetic (20 bits per
    * key), identical in both engines; the clustering-quality win is
    * spec-asserted (per-bucket key ranges vs natural order), and at
    * scale the zkey feeds `sortWithinPartitions`/write ordering rather
    * than a global sort.
    *
    * KEY DOMAIN: the interleave reads the LOW 20 bits of each key — a
    * key ≥ 2^20 would silently alias onto a far-away curve position
    * and quietly destroy the clustering, so the expression RAISES on
    * the first out-of-domain row instead (a per-row comparison against
    * a constant, free in codegen). 20 bits covers part/supp keys to
    * ~1M; for a wider id space raise `ZorderBits` — two keys interleave
    * safely to 31 bits each (62-bit zkey) before signed-long overflow.
    */
  val ZorderBits = 20

  /** Spread the low [[ZorderBits]] bits of a non-negative key so bit i
    * lands at position 2i — the classic Morton magic-mask dilation
    * (5 shift/mask steps instead of a 20-iteration lambda fold). Plain
    * long shift/AND/OR columns, so the whole zkey stays inside
    * whole-stage codegen; the previous `aggregate(sequence(0,19), …)`
    * higher-order expression was CodegenFallback — interpreted per row,
    * with a per-row sequence allocation (guide §4: prefer codegen
    * builtins in the hot path). Bit-identical to the fold: each input
    * bit occupies a distinct output position, so the fold's SUM is the
    * OR computed here.
    */
  private def mortonSpread(c: Column): Column = {
    def step(x: Column, sh: Int, mask: Long): Column =
      x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(mask))
    val s1 = step(c, 16, 0x0000FFFF0000FFFFL)
    val s2 = step(s1, 8, 0x00FF00FF00FF00FFL)
    val s3 = step(s2, 4, 0x0F0F0F0F0F0F0F0FL)
    val s4 = step(s3, 2, 0x3333333333333333L)
    step(s4, 1, 0x5555555555555555L)
  }

  def zorderKey(spark: SparkSession, dir: String): DataFrame = {
    val lim = 1L << ZorderBits
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
      .withColumn("zkey",
        when(col("l_partkey") >= lim or col("l_suppkey") >= lim or
             col("l_partkey") < 0 or col("l_suppkey") < 0,
          raise_error(lit(s"zorderKey: key outside the $ZorderBits-bit " +
            "interleave domain; raise ZorderBits")).cast("bigint"))
        .otherwise(mortonSpread(col("l_partkey")).bitwiseOR(
          shiftleft(mortonSpread(col("l_suppkey")), 1))))
      .orderBy(col("zkey"), col("l_orderkey"), col("l_linenumber"))
      .limit(2000)
  }

  /** Data-quality audit — the constraint-validation report shape
    * (Deequ / dbt-test family): completeness, key uniqueness, value
    * ranges, and referential integrity as ONE (check, metric) table.
    * Cost model is the point at scale: every scan-side check folds
    * into a single aggregation pass over the fact table (conditional
    * sums + a distinct-count, one partial+merge), and the FK check is
    * one broadcast anti-join against the dimension keys — two jobs
    * total regardless of how many checks ride along.
    */
  def dataQuality(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir).select(col("c_custkey"))
    val scan = o.agg(
      count(lit(1)).as("row_count"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkey"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpositive_totalprice"))
    val fk = o.join(broadcast(c), col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("fk_orphans"))
    scan.crossJoin(fk)
      .select(expr(
        """stack(5,
          |'row_count', row_count,
          |'null_custkey', null_custkey,
          |'dup_orderkey', dup_orderkey,
          |'nonpositive_totalprice', nonpositive_totalprice,
          |'fk_orphans', fk_orphans) AS (chk, metric)""".stripMargin))
      .orderBy(col("chk"))
  }

  /** Statistical aggregates — the moments family (stddev/variance/
    * correlation/covariance/regression slope) in one grouped pass.
    * All are single-pass co-moment aggregations (Welford-style partial
    * merge), so they cost exactly one map-side partial + one merge at
    * any scale — no second scan, no sort. Engines agree because the
    * estimators are the same closed formulas; round(·, 6) absorbs the
    * sub-ulp association differences of the double co-moment merges —
    * including across PARTITIONINGS (the merge tree changes with the
    * partition count, each association shift is sub-ulp; Round14OpsSpec
    * asserts the rounded output is repartition-invariant).
    */
  def statsAgg(spark: SparkSession, dir: String): DataFrame =
    statsAggOn(Tables.lineitem(spark, dir))

  def statsAggOn(li: DataFrame): DataFrame =
    li
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("qty_sd"),
        round(var_samp(col("l_quantity")), 6).as("qty_var"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("qty_disc_cov"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("price_per_qty"))
      .orderBy(col("l_returnflag"))

  /** Exact percentiles (sort-based within group). Computed over the
    * integer-valued l_quantity so the linear interpolation is exact
    * dyadic arithmetic — identical across engines regardless of
    * formula association.
    */
  def percentileAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        expr("percentile(l_quantity, 0.95)").as("p95"))
      .orderBy(col("l_returnflag"))

  /** Approximate percentiles via Spark's mergeable quantile sketch
    * (Greenwald-Khanna `percentile_approx`) — the sketch companion to
    * the exact sort-based [[percentileAgg]], the same relationship
    * q_approx_distinct has to exact COUNT(DISTINCT). At 100 TB the
    * exact form's per-group sort is the scaling liability; the GK
    * sketch is bounded-size per group, merges associatively across
    * partitions (one map-side partial + one merge, no sort), and
    * trades a documented rank error ≤ 1/accuracy. No DuckDB twin
    * (different sketch) → rows-only gate; Round10OpsSpec bounds every
    * approximate value inside the exact quartile neighborhood.
    */
  def approxPercentileAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_approx(l_quantity, 0.25, 1000)").as("p25"),
        expr("percentile_approx(l_quantity, 0.5, 1000)").as("p50"),
        expr("percentile_approx(l_quantity, 0.75, 1000)").as("p75"),
        expr("percentile_approx(l_quantity, 0.95, 1000)").as("p95"))
      .orderBy(col("l_returnflag"))

  /** TPC-H Q3 shape (shipping priority): selective filters on BOTH fact
    * tables plus a filtered dim, three-way join, revenue agg, top-10.
    * Plan shape at scale: the mktsegment-filtered customer side
    * broadcasts; orders⋈lineitem is the one real shuffle, with both
    * date predicates pushed to the parquet scans so the join sees only
    * qualifying rows; the top-10 is TakeOrderedAndProject (no global
    * sort). Ordering is on the ROUNDED revenue with an orderkey
    * tie-break so the result is engine-stable.
    */
  def tpchQ3(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-03-15").cast("timestamp")
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape (local supplier volume): six-way join where the
    * lineitem supplier and the ordering customer must share a nation
    * inside one region. customer/supplier/nation/region all broadcast
    * (dims); orders⋈lineitem is the only fact-fact shuffle; the
    * c_nationkey = s_nationkey colocation predicate rides the supplier
    * join rather than a post-filter so non-local rows never survive the
    * join.
    */
  def tpchQ5(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q10 shape (returned-item reporting): which customers
    * returned the most revenue in a quarter — fact-fact join filtered
    * on both sides, customer + nation dims broadcast, top-20 by
    * revenue. The group-by carries the customer attributes (grouping by
    * the key plus functionally-dependent columns — no second join to
    * re-attach attributes after the agg).
    */
  def tpchQ10(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("acctbal"), col("n_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q6 shape (forecasting revenue change): the pure scan-side
    * query — no join at all, three range predicates ALL pushed to the
    * parquet reader, one global agg. The plan-quality bar: the scan
    * must read only the four referenced columns and the aggregation is
    * a two-phase (partial → final) codegen HashAggregate with no
    * shuffle wider than one row per partition.
    */
  def tpchQ6(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue"))

  /** TPC-H Q12 shape (shipping-priority audit): fact-fact join with
    * conditional aggregation — per lineitem status, how many of the
    * joined orders are high-priority (URGENT/HIGH) vs low. The CASE
    * counts fold into ONE pass over the join (no second join, no
    * pivot); sums are exact longs. (The reference fixture carries no
    * l_shipmode/receiptdate, so the status column stands in for the
    * ship-mode grouping — the plan shape is Q12's.)
    */
  def tpchQ12(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        // phrased as the oracle's CASE WHEN high THEN 0 ELSE 1 — the
        // negated-isin form maps a NULL priority to 0 on this side but
        // 1 in SQL's ELSE branch (the one NULL-inequivalent twin the
        // round-12 review found); this form sends NULL to 1 in both
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** TPC-H Q14 shape (promotion effect): broadcast dim join + a ratio
    * of two conditional sums in one aggregation pass — the percent of
    * month revenue from PROMO parts. One shuffle (the global agg);
    * part is the broadcast side.
    */
  def tpchQ14(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(round(
        lit(100.0) *
          sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("promo_revenue_pct"))
  }

  /** TPC-H Q19 shape (discounted revenue): the disjunction-of-
    * conjunctions predicate — three (brand, size-range, quantity-range)
    * clauses OR'd across the part join. The bar: Catalyst pushes the
    * part-only conjuncts into the broadcast side's scan and the
    * quantity bounds into the lineitem scan (derived from the OR), and
    * the residual join condition evaluates inside codegen — no fallback to a
    * cartesian or a post-join filter-only plan.
    */
  def tpchQ19(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val clause =
      (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#22" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#15" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey") && clause)
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }

  /** TPC-H Q18 shape (large-volume customers): an aggregate-HAVING
    * subquery drives the join — orders whose lineitem quantity sum
    * clears a threshold, joined back to orders and customers, top-100
    * by order value. Plan shape at scale: ONE lineitem shuffle
    * (map-side partial sums) produces the big-order table, which the
    * HAVING collapses to an output-bounded selection — AQE broadcasts
    * it into the orders join at runtime (no forced hint: the pre-HAVING
    * size scales with order cardinality, the [[graft.operators
    * .EventAnalytics.eventPathsOn]] lesson); customer is a broadcast
    * dim; the top-100 is TakeOrderedAndProject, never a global sort.
    */
  def tpchQ18(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"))
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
      .filter(col("total_qty") > 300)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"))
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q15 shape (top supplier): a scalar-aggregate subquery as an
    * equality filter — per-supplier revenue over a ship-date window,
    * keep the supplier(s) achieving the corpus MAX. The max is one
    * row of model state (broadcast into the equality join, the
    * decorrelated form of Q15's correlated view); equality compares
    * the ROUNDED revenue on both sides so the tie set is bit-portable
    * across engines. One fact shuffle total, date filter pushed to the
    * scan.
    */
  def tpchQ15(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("total_revenue"))
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_name"))
    rev
      .join(broadcast(rev.agg(max(col("total_revenue")).as("mr"))),
        col("total_revenue") === col("mr"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): a correlated
    * SCALAR-AVG subquery gates the fact rows — lineitems whose
    * quantity is under 20% of their part's corpus-wide average
    * quantity, for one brand/size slice. The canonical decorrelation
    * stress: Catalyst must rewrite the per-part correlated average
    * into ONE grouped aggregate joined back on partkey (an O(n) plan)
    * instead of re-running the subquery per outer row (O(n·m));
    * PlanAuditSpec asserts no nested-loop artifact survives. Fixture
    * adaptation: the fixture part table has no p_container, so the
    * slice is brand + size — same selectivity role, identical plan
    * shape. The quantity comparison is exact across engines
    * (quantities are whole numbers, so the per-part average's integer
    * sum is exact in a double regardless of accumulation order).
    */
  def tpchQ17(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_t17")
    Tables.part(spark, dir).createOrReplaceTempView("part_t17")
    spark.sql(
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem_t17, part_t17
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#12' AND p_size < 15
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM lineitem_t17 l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)
  }

  /** TPC-H Q20 shape (potential part promotion): the nested semi-join
    * chain — suppliers (IN) whose part-supply pairs (IN a name-sliced
    * part set) cleared a correlated availability test, restricted to
    * two nations. Fixture adaptation: no partsupp table exists, so the
    * pair inventory is DERIVED — avail(part, supp) := all-time shipped
    * quantity from lineitem — and the correlated scalar compares it to
    * half the pair's 1997 shipments, preserving Q20's exact plan
    * stress: IN → left-semi, nested IN → second semi, correlated
    * scalar agg → grouped-aggregate join, no nested loop anywhere.
    * All quantity sums are whole-number-exact in doubles, so the
    * comparison is engine-portable without rounding.
    */
  def tpchQ20(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_t20")
    Tables.part(spark, dir).createOrReplaceTempView("part_t20")
    Tables.supplier(spark, dir).createOrReplaceTempView("supplier_t20")
    Tables.nation(spark, dir).createOrReplaceTempView("nation_t20")
    spark.sql(
      """SELECT s_suppkey, s_name
        |FROM supplier_t20, nation_t20
        |WHERE s_suppkey IN (
        |    SELECT ps.l_suppkey FROM
        |      (SELECT l_partkey, l_suppkey, sum(l_quantity) AS avail
        |       FROM lineitem_t20 GROUP BY 1, 2) ps
        |    WHERE ps.l_partkey IN (SELECT p_partkey FROM part_t20 WHERE p_name LIKE 'red%')
        |      AND ps.avail > (SELECT 0.5 * sum(l2.l_quantity) FROM lineitem_t20 l2
        |                      WHERE l2.l_partkey = ps.l_partkey
        |                        AND l2.l_suppkey = ps.l_suppkey
        |                        AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
        |                        AND l2.l_shipdate < TIMESTAMP '1998-01-01'))
        |  AND s_nationkey = n_nationkey AND n_name IN ('NATION_3', 'NATION_7')
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** TPC-H Q21 shape (suppliers who kept waiting): the multi-EXISTS
    * self-join stress — for finished orders, count per supplier the
    * late lineitems in MULTI-supplier orders where that supplier was
    * the ONLY late one: EXISTS (another supplier in the order) AND
    * NOT EXISTS (another supplier also late). Catalyst must plan the
    * EXISTS as a left-semi and the NOT EXISTS as a left-anti self-join
    * of lineitem, both shuffled on l_orderkey (never per-row
    * re-execution). Fixture adaptation: no l_receiptdate/l_commitdate,
    * so "late" := shipped more than 360 days after the order date —
    * which correlates the anti-join on BOTH outer tables (lineitem and
    * orders), a strictly harder decorrelation than stock Q21's
    * self-contained predicate. Ties at the limit boundary are broken
    * by (numwait DESC, s_name), so the top-100 is deterministic.
    */
  def tpchQ21(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_t21")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_t21")
    Tables.supplier(spark, dir).createOrReplaceTempView("supplier_t21")
    Tables.nation(spark, dir).createOrReplaceTempView("nation_t21")
    spark.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier_t21, lineitem_t21 l1, orders_t21, nation_t21
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 360 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem_t21 l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem_t21 l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 360 DAY)
        |  AND s_nationkey = n_nationkey
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)
  }

  /** TPC-H Q2 shape (minimum-cost supplier): the correlated scalar-MIN
    * subquery over the supply relation, re-executed per part —
    * Catalyst must decorrelate it into ONE grouped min aggregate
    * joined back on partkey (never a per-row re-execution), with the
    * region restriction applied inside BOTH the outer block and the
    * min derivation. Fixture adaptation: no partsupp table exists, so
    * the supply relation is DERIVED — cost(part, supp) := the minimum
    * unit price that supplier ever shipped the part at
    * (min(l_extendedprice / l_quantity) from lineitem). The division
    * is one IEEE op both engines evaluate identically and min SELECTS
    * a value rather than accumulating, so the correlated equality is
    * engine-exact without rounding. Scale: supply is a grouped
    * aggregate of lineitem (map-side partials), dims broadcast; the
    * decorrelated min reuses supply's shuffle partitioning.
    */
  def tpchQ2(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_t2")
    Tables.part(spark, dir).createOrReplaceTempView("part_t2")
    Tables.supplier(spark, dir).createOrReplaceTempView("supplier_t2")
    Tables.nation(spark, dir).createOrReplaceTempView("nation_t2")
    Tables.region(spark, dir).createOrReplaceTempView("region_t2")
    spark.sql(
      """WITH supply AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         min(l_extendedprice / l_quantity) AS ps_supplycost
        |  FROM lineitem_t2 GROUP BY 1, 2)
        |SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM part_t2, supply, supplier_t2, nation_t2, region_t2
        |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        |  AND p_size = 15 AND p_type = 'SMALL'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND ps_supplycost = (
        |    SELECT min(s2.ps_supplycost)
        |    FROM supply s2, supplier_t2 sup2, nation_t2 n2, region_t2 r2
        |    WHERE s2.ps_partkey = p_partkey AND s2.ps_suppkey = sup2.s_suppkey
        |      AND sup2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)
  }

  /** TPC-H Q4 shape (order-priority checking): EXISTS against the fact
    * table correlated on the join key AND an outer column — planned as
    * one left-semi join of orders against lineitem shuffled on
    * orderkey, with the date-window filter pushed to the orders scan.
    * Fixture adaptation: no l_commitdate/l_receiptdate, so "late" :=
    * shipped more than 90 days after the order date (the same
    * two-table correlation q_tpch_q21 stresses). All-integer output.
    */
  def tpchQ4(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_t4")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_t4")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders_t4
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem_t4
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** TPC-H Q7 shape (volume shipping): the bidirectional two-nation
    * trade query — supplier nation and customer nation must be the
    * pair (NATION_1, NATION_2) in either direction, revenue by
    * (supp_nation, cust_nation, year). Both nation dims broadcast
    * under DIFFERENT aliases (the same table joined twice on different
    * keys); the direction predicate rides after both joins as one
    * disjunction. orders⋈lineitem is the only fact-fact shuffle; the
    * ship-date window is pushed to the lineitem scan.
    */
  def tpchQ7(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(round(sum(col("volume")), 2).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 shape (national market share): the deepest stock join
    * tree (7 relations: part-sliced lineitem, date-sliced orders,
    * customer→nation→region on one side, supplier→nation on the
    * other) with a conditional aggregate over the nation of interest.
    * Fidelity note: the share is emitted as its two rounded components
    * (nation_volume, total_volume) instead of their quotient — the
    * division of two accumulation-ordered double sums is the one
    * non-portable op in the stock query, and the components carry
    * strictly more information. Scale: every dim broadcasts;
    * lineitem⋈orders is again the single fact-fact shuffle.
    */
  def tpchQ8(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val nc = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nkey"), col("n_regionkey"))
    val r = Tables.region(spark, dir).filter(col("r_name") === "AMERICA")
      .select(col("r_regionkey"))
    val ns = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nc), col("c_nationkey") === col("c_nkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(ns), col("s_nationkey") === col("s_nkey"))
      .groupBy(col("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === "NATION_3", col("volume"))
          .otherwise(lit(0.0))), 2).as("nation_volume"),
        round(sum(col("volume")), 2).as("total_volume"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9 shape (product-type profit): name-sliced parts through
    * the lineitem→orders→supplier→nation tree, profit aggregated by
    * (nation, order year). Fixture adaptation: no ps_supplycost, so
    * unit cost := 60% of p_retailprice — the same per-row arithmetic
    * profile (two multiplies and a subtract against joined columns).
    * The profit is accumulated FIXED-POINT (a long in 10^-4 dollars:
    * prices carry ≤2 decimals, the discount is a whole percent, so the
    * scaling is lossless) because the subtraction makes group sums
    * small enough to land on half-cent boundaries where double
    * accumulation order flips a rounded cent between engines — the
    * integer sum is order-free and the single closing division by
    * 10000.0 is the same IEEE op on both sides, no rounding needed.
    * Only part/supplier/nation broadcast; lineitem⋈orders shuffles.
    */
  def tpchQ9(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_name").like("%gear%"))
      .select(col("p_partkey"),
        round(col("p_retailprice") * 10).cast("long").as("retail10"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("ext_c"),
        round(col("l_discount") * 100).cast("long").as("disc100"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name").as("nation"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("nation"), col("o_year"))
      .agg((sum(col("ext_c") * (lit(100L) - col("disc100")) -
        lit(600L) * col("retail10") * col("qty")) / lit(10000.0)).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11 shape (important stock): grouped aggregate with a
    * HAVING threshold that is itself a scalar subquery over the SAME
    * join — the global total must be computed once and broadcast into
    * the filter, not re-derived per group. Fixture adaptation: no
    * partsupp, so a part's stock value in a nation := total extended
    * price that nation's suppliers ever shipped of it. Cross-engine
    * note: the HAVING compares two unrounded double sums, so a group
    * landing within accumulation-order noise (~1e-11 relative) of the
    * threshold could flip between engines; at the fixture the nearest
    * group sits 3.2e-4 relative from the cut — seven orders of
    * magnitude of margin — the q_tpch_q22 separation argument.
    */
  def tpchQ11(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_t11")
    Tables.supplier(spark, dir).createOrReplaceTempView("supplier_t11")
    Tables.nation(spark, dir).createOrReplaceTempView("nation_t11")
    spark.sql(
      """SELECT l_partkey AS ps_partkey, round(sum(l_extendedprice), 2) AS value
        |FROM lineitem_t11, supplier_t11, nation_t11
        |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_5'
        |GROUP BY l_partkey
        |HAVING sum(l_extendedprice) > (
        |  SELECT sum(l_extendedprice) * 0.001
        |  FROM lineitem_t11, supplier_t11, nation_t11
        |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_5')
        |ORDER BY value DESC, ps_partkey""".stripMargin)
  }

  /** TPC-H Q13 shape (customer order distribution): the outer-join
    * histogram — customers LEFT JOIN orders with the filter ON THE
    * JOIN CONDITION (a WHERE would silently turn it inner and drop
    * the zero-order customers Q13 exists to count), then a double
    * aggregation: orders per customer, customers per order-count.
    * Fixture adaptation: o_comment doesn't exist, so the exclusion
    * filter is the NOT-SPECIFIED priority class. All-integer output.
    * Scale: the first agg shuffles on custkey (map-side partials
    * absorb the fact volume), the second is 25-ish rows.
    */
  def tpchQ13(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select(col("o_orderkey"), col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q16 shape (parts/supplier relationship): count DISTINCT
    * suppliers per (brand, type, size) slice, excluding a NOT-IN
    * supplier set — the NOT IN must plan as a null-aware anti join
    * against the (tiny, broadcastable) supplier side, and the distinct
    * count rides the grouped aggregate (two-phase partial distinct).
    * Fixture adaptation: supply pairs derive from lineitem; the
    * "customer complaints" exclusion := suppliers with negative
    * account balance. All-integer/string output.
    */
  def tpchQ16(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_t16")
    Tables.part(spark, dir).createOrReplaceTempView("part_t16")
    Tables.supplier(spark, dir).createOrReplaceTempView("supplier_t16")
    spark.sql(
      """SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |      FROM lineitem_t16) supply, part_t16
        |WHERE p_partkey = ps_partkey
        |  AND p_brand <> 'Brand#2' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (5, 11, 17, 23, 29, 35, 41, 47)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier_t16
        |                         WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
  }

  /** TPC-H Q22 shape (global sales opportunity): the double-subquery
    * finale — an uncorrelated scalar AVG threshold plus a NOT EXISTS
    * anti join against orders, over a derived "country code" column.
    * Fixture adaptation: no c_phone, so cntrycode := c_custkey % 10
    * (same role: a small categorical derived from a customer
    * attribute, IN-listed in both the outer block and the threshold),
    * and "never ordered" := no order since 2000-01-01 (the fixture's
    * order stream covers every custkey, so the stock unqualified NOT
    * EXISTS would be vacuously empty — dormancy keeps the anti join
    * selective AND non-trivial). The AVG compare is a one-sided
    * inequality on well-separated balances, engine-portable without
    * rounding.
    */
  def tpchQ22(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_t22")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_t22")
    spark.sql(
      """SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        |FROM (SELECT c_custkey % 10 AS cntrycode, c_acctbal
        |      FROM customer_t22
        |      WHERE c_custkey % 10 IN (1, 2, 3, 4, 5, 6, 7)
        |        AND c_acctbal > (SELECT avg(c_acctbal) FROM customer_t22
        |                         WHERE c_acctbal > 0.00
        |                           AND c_custkey % 10 IN (1, 2, 3, 4, 5, 6, 7))
        |        AND NOT EXISTS (SELECT 1 FROM orders_t22
        |                        WHERE o_custkey = c_custkey
        |                          AND o_orderdate >= TIMESTAMP '2000-01-01')) custsale
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin)
  }

  /** Runtime Bloom-filter join (the shuffle-reduction lever): a
    * selective filter on the orders side should cut the LINEITEM
    * shuffle too, even though lineitem itself has no predicate —
    * Catalyst's InjectRuntimeFilter builds a Bloom filter from the
    * filtered creation side and plants `might_contain(xxhash64(
    * l_orderkey))` on the fact scan, so non-qualifying fact rows die
    * BEFORE the shuffle instead of after the join. At 100 TB this is
    * the difference between shuffling the whole fact table and
    * shuffling the ~join-surviving fraction. The join is MERGE-hinted
    * (runtime filters only pay off on shuffle joins — a broadcast join
    * already filters at probe time), and the application-side size
    * threshold is lowered ONLY while this plan is optimized (default
    * 10 GB targets real clusters; [[graft.LocalSession.withConf]]
    * restores the session for every other query). The Bloom filter is
    * semantics-preserving (false positives just pass through the real
    * join), so the values sit under the exact oracle gate while the
    * plan assertion pins the injection.
    *
    * The default path EXECUTES the Bloom-filtered plan inside the conf
    * window via an eager localCheckpoint — a consumer's later write
    * command re-plans from the logical plan under the restored session
    * conf, which would silently drop the injected filter (both Bench's
    * noop write and Verify's parquet write are such consumers), so
    * lazy-returning the frame would mean the audited plan never
    * actually runs. The pin's executed plan
    * ([[graft.plan.PinPlans]]) carries the
    * bloom_filter_agg/might_contain nodes the plan audit asserts on.
    */
  def bloomFilteredJoin(spark: SparkSession, dir: String): DataFrame = {
    // Injection preconditions, scaled down to fixture size: the scan
    // threshold (default 10 GB) targets real fact tables, and
    // InjectRuntimeFilter refuses joins it considers broadcastable —
    // at 100 TB the filtered orders side is far past the broadcast
    // threshold, so planning with broadcast off IS the production
    // plan, not a trick. All three overrides live only until the plan
    // below is forced.
    val overrides = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    graft.LocalSession.withConf(spark, overrides) {
      val o = Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"))
      val l = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_extendedprice"), col("l_discount"))
      val df = l.hint("merge").join(o.hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
      // checkpoint BEFORE the closing sort (the bm25On pattern): the
      // join+agg EXECUTE here, under the overrides; the 3-row sort
      // re-plans later under the restored conf, which is fine
      df.localCheckpoint().orderBy(col("l_returnflag"))
    }
  }

  /** LATERAL correlated subquery (SQL surface): per-region top-2
    * nations by total customer account balance. The lateral derived
    * table re-executes per outer row DECLARATIVELY — Catalyst decorrelates
    * it into a ranked window over one join, so the plan is the same
    * shuffle the explicit window formulation produces, not N subquery
    * executions (the classic optimizer test for this surface).
    */
  def lateralTopNations(spark: SparkSession, dir: String): DataFrame = {
    Tables.region(spark, dir).createOrReplaceTempView("g_region")
    Tables.nation(spark, dir).createOrReplaceTempView("g_nation")
    Tables.customer(spark, dir).createOrReplaceTempView("g_customer")
    spark.sql(
      """SELECT r_name, n_name, bal
        |FROM g_region r,
        |LATERAL (SELECT n_name, round(sum(c_acctbal), 2) AS bal
        |         FROM g_nation JOIN g_customer ON c_nationkey = n_nationkey
        |         WHERE n_regionkey = r.r_regionkey
        |         GROUP BY n_name
        |         ORDER BY bal DESC, n_name LIMIT 2) t
        |ORDER BY r_name, bal DESC, n_name""".stripMargin)
  }

  /** Incremental MERGE/upsert without a table format: the core of an
    * ingest pipeline that maintains a per-customer activity snapshot as
    * new order batches land. `current` is the snapshot built from
    * orders before the cutoff; `incoming` is the next batch's
    * aggregate; the merge is one FULL OUTER join on the key emitting
    * insert/update/keep actions with merged values — exactly the
    * dataflow a MERGE INTO statement lowers to (join on merge key →
    * per-row action). At scale both sides are pre-aggregated by the
    * merge key, so the join is narrow and partial-agg absorbs the fact
    * volume before any shuffle.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2001-01-01").cast("timestamp")
    val o = Tables.orders(spark, dir)
    def snap(cond: Column, nOut: String, vOut: String, dOut: String) =
      o.filter(cond).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as(nOut),
          round(sum(col("o_totalprice")), 2).as(vOut),
          date_format(max(col("o_orderdate")), "yyyy-MM-dd").as(dOut))
    val current = snap(col("o_orderdate") < cutoff,
      "cur_n", "cur_v", "cur_d").withColumnRenamed("o_custkey", "cur_key")
    val incoming = snap(col("o_orderdate") >= cutoff,
      "inc_n", "inc_v", "inc_d").withColumnRenamed("o_custkey", "inc_key")
    current.join(incoming, col("cur_key") === col("inc_key"), "full_outer")
      .select(
        coalesce(col("cur_key"), col("inc_key")).as("custkey"),
        when(col("cur_key").isNull, "insert")
          .when(col("inc_key").isNull, "keep").otherwise("update").as("action"),
        (coalesce(col("cur_n"), lit(0L)) + coalesce(col("inc_n"), lit(0L)))
          .as("n_orders"),
        round(coalesce(col("cur_v"), lit(0.0)) + coalesce(col("inc_v"), lit(0.0)), 2)
          .as("total_value"),
        coalesce(col("inc_d"), col("cur_d")).as("last_order"))
      .orderBy(col("custkey"))
  }

  /** Incremental aggregate maintenance (materialized-view delta-apply):
    * the daily-ingest shape a warehouse runs — a pre-aggregated table
    * at (month, order-status) grain is maintained by merging in the
    * new batch's aggregate instead of recomputing from all history.
    * Counts and sums are self-maintainable (add the delta); avg is
    * DERIVED from the maintained sum/count (the classic reason MVs
    * store sum+count, never avg). The merge is [[mergeUpsert]]'s
    * full-outer dataflow on the MV key; Round15OpsSpec pins the
    * maintained table equal to a from-scratch recompute over all
    * orders — the correctness contract of any incremental view.
    *
    * 100 TB shape: the delta aggregate only carries the batch's
    * touched keys, so the merge join is |touched keys|-sized, not
    * history-sized — the base table is only read at its aggregated
    * grain (months × statuses), never the raw fact history. Cent
    * exactness makes the delta-apply bit-identical to recompute:
    * each side's rounded sum is exact cents, their double sum is
    * exact cents, and the final round restores the canonical form.
    */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2001-01-01").cast("timestamp")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderdate"), col("o_orderstatus"), col("o_totalprice"))
    def agg(cond: Column, nOut: String, vOut: String) =
      o.filter(cond)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as(nOut), round(sum(col("o_totalprice")), 2).as(vOut))
    val base = agg(col("o_orderdate") < cutoff, "b_n", "b_v")
      .withColumnsRenamed(Map("month" -> "b_month", "status" -> "b_status"))
    val delta = agg(col("o_orderdate") >= cutoff, "d_n", "d_v")
    base.join(delta,
        col("b_month") === col("month") && col("b_status") === col("status"),
        "full_outer")
      .select(
        coalesce(col("month"), col("b_month")).as("month"),
        coalesce(col("status"), col("b_status")).as("status"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n_orders"),
        round(coalesce(col("b_v"), lit(0.0)) + coalesce(col("d_v"), lit(0.0)), 2)
          .as("total_value"))
      .withColumn("avg_value",
        round(col("total_value") / col("n_orders"), 6))
      .orderBy(col("month"), col("status"))
  }

  /** Cost-based-optimizer surface: ANALYZE-driven join REORDERING with
    * no hints and no hand-pinned shape — the one optimizer lever every
    * other plan here deliberately avoids (they pin shapes so the gate
    * is deterministic; this entry certifies the stats path itself).
    * The fixture parquet is registered as EXTERNAL catalog tables
    * (zero copy — the production posture: stats are computed in place
    * over data that already lives in tables) and
    * `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS` records
    * row counts + per-column NDV/min/max. The query is then written in
    * a deliberately BAD syntactic order — the two big tables first
    * (orders ⋈ customer), the selective dimension (nation filtered to
    * one name) last — and CBO's CostBasedJoinReorder, fed by the
    * column stats (n_name's NDV prices the filter at ~1/25
    * selectivity), rewrites it to join customer with the ~1-row
    * filtered nation FIRST, so the orders join only carries that
    * nation's customers. At 100 TB that is the difference between
    * shuffling every order against every customer and shuffling 4% of
    * them; PlanAuditSpec asserts the reorder structurally (the
    * innermost join holds customer+nation, orders joins LAST — the
    * opposite of the written order) and that it is genuinely
    * stats-driven (same query with CBO off keeps the bad syntactic
    * order). Values are join-order-invariant, so the DuckDB oracle
    * gate holds regardless — the plan assertion is what grades the
    * optimizer surface.
    *
    * Executes under the conf window via eager localCheckpoint (the
    * [[bloomFilteredJoin]] contract: a consumer's later write would
    * re-plan under the restored session conf and silently lose the
    * CBO plan); the pin's executed plan carries the reordered joins
    * the plan audit asserts on.
    */
  def cboStarJoin(spark: SparkSession, dir: String): DataFrame = {
    val Seq(tOrders, tCust, tNat) =
      Seq("orders", "customer", "nation").map(analyzedTable(spark, dir, _))
    val overrides = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    graft.LocalSession.withConf(spark, overrides) {
      val df = spark.table(tOrders)
        .join(spark.table(tCust), col("o_custkey") === col("c_custkey"))
        .join(spark.table(tNat), col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_name") === "NATION_7")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
      df.localCheckpoint().orderBy(col("c_mktsegment"))
    }
  }

  /** The 4-relation CBO star — [[cboStarJoin]]'s second optimizer
    * lever: stats-driven BROADCAST selection, no hints. Written order
    * is again deliberately bad (orders ⋈ customer first, the selective
    * region-filtered dimension chain last). With CBO + ANALYZE stats
    * two things must happen that size-only planning cannot do:
    * (a) CostBasedJoinReorder pushes the filtered region → nation →
    * customer chain inward (the [[cboStarJoin]] reorder, one relation
    * deeper), and (b) the JOIN ESTIMATES propagate row counts — the
    * (customer ⋈ nation ⋈ σregion) intermediate is estimated at
    * ~|customer|/5 ROWS (r_name NDV = 5), far under
    * autoBroadcastJoinThreshold, so the planner BROADCASTS the whole
    * dimension composite into the orders join. Without CBO the
    * size-only visitor estimates an inner join at the PRODUCT of its
    * children's sizeInBytes, so the same intermediate blows past any
    * threshold and the orders join falls back to sort-merge — i.e.
    * the broadcast is provably chosen from recorded statistics, not
    * from file sizes (PlanAuditSpec asserts the BHJ-with-stats /
    * SMJ-without pair on the orders join). At 100 TB this is the
    * optimizer picking a map-side join for a star schema because the
    * catalog KNOWS the dimension composite is small — the lever that
    * replaces every hand-written broadcast() hint in this repo's
    * pinned-shape entries.
    */
  def cboStarJoin4(spark: SparkSession, dir: String): DataFrame = {
    val Seq(tOrders, tCust, tNat, tReg) =
      Seq("orders", "customer", "nation", "region")
        .map(analyzedTable(spark, dir, _))
    val overrides = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    graft.LocalSession.withConf(spark, overrides) {
      val df = spark.table(tOrders)
        .join(spark.table(tCust), col("o_custkey") === col("c_custkey"))
        .join(spark.table(tNat), col("c_nationkey") === col("n_nationkey"))
        .join(spark.table(tReg), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
      df.localCheckpoint().orderBy(col("c_mktsegment"))
    }
  }

  /** External catalog table over `dir/<name>.parquet` with full
    * statistics, created+analyzed once per (catalog, corpus): the
    * table name carries the corpus digest so sf fixtures never
    * collide, and existence is checked against the session CATALOG
    * (not a JVM-wide memo set) because an in-memory catalog does not
    * outlive its session — a fresh session re-registers and
    * re-analyzes, which is exactly the state ANALYZE maintains.
    */
  private[graft] def analyzedTable(spark: SparkSession, dir: String,
      name: String): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val tbl = s"g_cbo_${name}_$tag"
    if (!spark.catalog.tableExists(tbl)) synchronized {
      if (!spark.catalog.tableExists(tbl)) {
        spark.catalog.createTable(tbl, s"$dir/$name.parquet", "parquet")
        spark.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
      }
    }
    tbl
  }
}
