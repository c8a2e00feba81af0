package graft.sources

import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sink surface (reference K1, worker.ex:120-138 generalized to
  * DataFrameWriter): the driver-graded query writes a PARTITIONED
  * parquet dataset and reads it back through a partition-pruning
  * filter, so the whole write → layout → pruned-read contract sits
  * under the oracle gate (the oracle computes the same aggregate from
  * the original table — any loss, duplication, or mis-partitioning in
  * the round trip breaks the hash match). At 100 TB partitioned layout
  * IS the table format; pruning is what makes selective reads O(hit
  * partitions) instead of O(corpus).
  *
  * The read-backs here stay raw `spark.read.parquet` calls, not
  * [[Scratch.readParquetOnce]]: every call overwrites its path, so a
  * memoized schema or file listing would serve the previous write.
  */
object Sinks {

  /** Scratch dataset location — conf-derived ([[Scratch]]); overwritten
    * per run.
    */
  def roundTripDir(spark: SparkSession): String =
    Scratch.dir(spark, "sink_roundtrip")

  def partitionedRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .write.mode("overwrite")
      .partitionBy("o_orderstatus")
      .parquet(roundTripDir(spark))
    readBack(spark)
  }

  /** The read-back half, exposed separately so the plan can be
    * inspected (SinkRoundTripSpec asserts PartitionFilters prune the
    * non-matching partitions from the scan).
    */
  def readBack(spark: SparkSession): DataFrame =
    spark.read.parquet(roundTripDir(spark))
      .filter(col("o_orderstatus") === "F") // partition-pruned, never scanned
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))

  /** Bucketed-table round trip: write orders and customer bucketed on
    * the join key, join the BUCKETED tables, aggregate. Bucketing is
    * the persisted co-located join — at 100 TB the fact table joined on
    * the same key every day never shuffles again (BucketingSpec proves
    * the no-Exchange plan; this query puts the write→read→join VALUES
    * under the oracle gate).
    */
  def bucketedJoinRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    writeBucketed(spark, Tables.orders(spark, dir), "graft_b_orders", "o_custkey")
    writeBucketed(spark, Tables.customer(spark, dir), "graft_b_customer", "c_custkey")
    spark.table("graft_b_orders")
      .join(spark.table("graft_b_customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  /** CSV round-trip: write a projection as headered CSV, read it back
    * with an explicit schema (inference would re-scan the data), and
    * aggregate — Java's Double.toString is value-round-trippable, so
    * the text format must reproduce the parquet-sourced aggregate
    * exactly or the oracle hash breaks.
    */
  def csvRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "csv_roundtrip")
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").option("header", "true").csv(out)
    spark.read
      .option("header", "true")
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .csv(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** JSON-lines round-trip: Jackson writes doubles value-round-trippably
    * (like CSV's Double.toString), so the aggregate over the read-back
    * must equal the parquet-sourced oracle exactly. Read with an
    * explicit schema — inference would re-scan and can widen types.
    */
  def jsonRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "json_roundtrip")
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), col("o_totalprice"))
      .write.mode("overwrite").json(out)
    spark.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE")
      .json(out)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** ORC round-trip: the other columnar format (distinct reader/writer
    * path from parquet — vectorized ORC batches); binary-faithful for
    * longs/doubles so it shares the exact-aggregate contract.
    */
  def orcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "orc_roundtrip")
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy(pmod(col("o_custkey"), lit(10L)).as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("bucket"))
  }

  /** Small-file COMPACTION round trip — the storage-maintenance op
    * every streaming/micro-batch landing needs: the raw landing is
    * written as 32-files-per-partition debris (each micro-batch task
    * leaves its own file; at 100 TB this is millions of KB-sized files
    * whose open cost dominates every subsequent scan), then compacted
    * into per-partition FILE GROUPS sized by bytes: each partition
    * directory's measured raw bytes (driver-side listing, O(#dirs)
    * metadata) divide by [[CompactionTargetFileBytes]] into
    * ceil(bytes/target) groups, rows salt into their group by
    * pmod(hash(key), n_groups), and the write range-shuffles on the
    * globally sequential group id so every group is its own task — a
    * terabyte
    * hot partition compacts through thousands of parallel writers
    * instead of funneling through one (the round-15 version
    * repartitioned on the 3-value partition column alone, serializing
    * each directory through a single task; `maxRecordsPerFile`
    * re-splits files but adds no write parallelism). The layout
    * contract — ≤ n_groups files per partition dir, vs 32-per-task
    * debris before — is pinned by GatedSourceSinkSpec on the actual
    * directories, including a small-target run that forces multi-group
    * partitions. The graded values re-aggregate the COMPACTED dataset
    * against the oracle computed from the original table, so a
    * compaction that drops, duplicates, or cross-partitions rows
    * breaks the hash — lossless-ness is gate-proven, not assumed.
    */
  def compactionRoundTrip(spark: SparkSession, dir: String,
      targetFileBytes: Long = CompactionTargetFileBytes): DataFrame = {
    Tables.orders(spark, dir)
      .repartition(32)
      .write.mode("overwrite").partitionBy("o_orderstatus")
      .parquet(compactionRawDir(spark))
    val groups = partitionFileGroups(spark, compactionRawDir(spark),
      "o_orderstatus", targetFileBytes)
    val totalGroups = math.max(1L, groups.map(_._2).sum)
    // globally sequential group ids: status S's groups occupy
    // [offset(S), offset(S) + n_groups(S)) — rows salt into their gid
    // by key hash, and the shuffle is repartitionByRange on gid with
    // one target partition per group, NOT a hash repartition on the
    // (status, grp) tuple: murmur3 of (string, small-int) tuples has
    // measurably correlated low bits (at the fixture every status's
    // two groups collided mod 6 — parity-preserving), while contiguous
    // gid ranges give the structural guarantee directly: a gid never
    // SPLITS across tasks, so each dir holds ≤ n_groups files. Range
    // bounds are sample-derived, so adjacent gids CAN share a task —
    // the ceiling is exact, while write parallelism is n_groups in
    // expectation (uniform hash salting), not a per-gid guarantee.
    // The null-safe join keeps a __HIVE_DEFAULT_PARTITION__ dir's
    // rows (part value NULL) in the compaction.
    val offsets = groups.scanLeft(0L)(_ + _._2)
    val groupsDf = spark.createDataFrame(
        groups.zip(offsets).map { case ((st, n), off) => (st, n, off) })
      .toDF("part_value", "n_groups", "g_off")
    spark.read.parquet(compactionRawDir(spark))
      .join(broadcast(groupsDf),
        col("o_orderstatus") <=> col("part_value"))
      .drop("part_value")
      .withColumn("gid",
        col("g_off") + pmod(hash(col("o_orderkey")), col("n_groups")))
      .repartitionByRange(totalGroups.toInt, col("gid"))
      .drop("gid", "n_groups", "g_off")
      .write.mode("overwrite").partitionBy("o_orderstatus")
      .parquet(compactionOutDir(spark))
    spark.read.parquet(compactionOutDir(spark))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_keys"))
      .orderBy(col("o_orderstatus"))
  }

  /** ~128 MB compacted files — the standard HDFS/object-store sweet
    * spot (big enough to amortize open cost, small enough to split).
    */
  val CompactionTargetFileBytes: Long = 128L * 1024 * 1024

  /** Driver-side per-partition-directory group counts:
    * (partition value, ceil(dir bytes / target)). Listing is
    * O(#partition dirs + #files) pure metadata against the store —
    * the same listing every scan's planning already does — and the
    * returned map is #partitions rows, broadcastable by construction.
    */
  private def partitionFileGroups(spark: SparkSession, path: String,
      partCol: String, targetFileBytes: Long): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
      .map { d =>
        val bytes = fs.listStatus(d.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .map(_.getLen).sum
        // directory names are Hive-ESCAPED ('A B' → 'A%20B'; NULL →
        // __HIVE_DEFAULT_PARTITION__): un-escape before joining back
        // against the read-back column values, or any partition whose
        // value Spark escapes silently drops out of the inner join —
        // lossy compaction the single-letter fixture could never catch
        val raw = d.getPath.getName.substring(partCol.length + 1)
        val unescaped = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(raw)
        val value = if (unescaped ==
          org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
          else unescaped
        (value, math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes))
      }
  }

  def compactionRawDir(spark: SparkSession): String =
    Scratch.dir(spark, "compact_raw")

  def compactionOutDir(spark: SparkSession): String =
    Scratch.dir(spark, "compact_out")

  /** Dynamic-partition-pruning round trip: the fact table lands
    * partitioned by ship year, then joins a dimension whose qualifying
    * years are only known at RUNTIME (urgent orders in a date window —
    * the filter is on o_orderdate, the join key is a derived year, so
    * no static rule can prune the fact scan). Catalyst must inject a
    * dynamicpruning subquery into the fact scan's PartitionFilters,
    * reusing the broadcast dim, so only the qualifying year partitions
    * are read (plan-asserted in PlanAuditSpec). At 100 TB this is THE
    * date-dim star-join access path: the fact scan is O(hit
    * partitions) even though the hit set is computed by the query
    * itself. Values sit under the oracle gate (DuckDB re-derives the
    * semi-join from the raw tables), so a pruning bug that drops or
    * duplicates partitions breaks the hash, not just the plan shape.
    */
  def dppJoinRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Scratch.dir(spark, "dpp_lineitem")
    Tables.lineitem(spark, dir)
      .withColumn("ship_year", year(col("l_shipdate")))
      // consolidated partitioned write (guide §6): hash-repartition on
      // the partition column so each year lands as ONE file instead of
      // one per (task, year) — same rows, ~30x fewer files for the
      // pruned read-back to list and open
      .repartition(col("ship_year"))
      .write.mode("overwrite").partitionBy("ship_year").parquet(out)
    val fact = spark.read.parquet(out)
    val dim = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(year(col("o_orderdate")).as("o_year")).distinct()
    fact.join(broadcast(dim), col("ship_year") === col("o_year"))
      .groupBy(col("ship_year"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy(col("ship_year"))
  }

  /** MERGE landed on storage: the full-outer merge dataflow
    * ([[graft.operators.Relational.mergeUpsert]]) written as an
    * action-partitioned parquet snapshot — `mode("overwrite")` makes
    * the landing IDEMPOTENT (re-running the merge replaces the
    * snapshot; a failed run never leaves a half-merged table visible) —
    * then read back through a partition-PRUNED filter on the merge
    * action. The graded rows are the row-level 'update' partition, so
    * any loss, duplication, or mis-partitioning between the merge join
    * and the storage round trip breaks the hash against the oracle
    * computed from the ORIGINAL orders table. At 100 TB this is the
    * nightly snapshot-maintenance shape: merge → partitioned overwrite
    * → consumers prune to the partitions they need.
    */
  def mergeDir(spark: SparkSession): String =
    Scratch.dir(spark, "merge_roundtrip")

  def mergeRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val out = mergeDir(spark)
    graft.operators.Relational.mergeUpsert(spark, dir)
      .repartition(col("action")) // one file per action partition (§6)
      .write.mode("overwrite").partitionBy("action").parquet(out)
    spark.read.parquet(out)
      .filter(col("action") === "update") // partition-pruned, never scanned
      .select(col("custkey"), col("n_orders"), col("total_value"),
        col("last_order"))
      .orderBy(col("custkey"))
  }

  /** saveAsTable with a clean slate: the in-memory session catalog of
    * a fresh JVM does not know about a previous run's table, and CTAS
    * onto a non-empty managed location refuses — drop + delete first.
    */
  private def writeBucketed(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
                            table: String, key: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = java.nio.file.Paths.get(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val loc = wh.resolve(table)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(table)
  }
}
