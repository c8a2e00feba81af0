package graft.operators

import graft.functions.TextFunctions._
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation patterns. A hot grouping key (a stopword in word
  * count, a celebrity user in events) concentrates one reducer at
  * 100 TB; salting splits each key across [[SaltBuckets]] sub-keys for
  * the first (heavy) aggregation and re-merges in a second (tiny) one. The rewrite
  * is semantics-preserving for associative+commutative aggregates —
  * q_salted_wordcount shares its DuckDB oracle with q_wordcount, so the
  * gate itself proves the equivalence.
  *
  * (Spark's partial aggregation already combines map-side, which
  * resolves most count-style skew; the explicit two-phase form is for
  * aggregates whose partial state is too big for one reducer — e.g.
  * collect-heavy or high-cardinality-distinct per key — and documents
  * the pattern.)
  */
object Skew {

  val SaltBuckets = 16

  /** Deterministic salt in [0, SaltBuckets): hash of the full row payload. */
  private def saltCol(payload: Column): Column =
    pmod(hash(payload), lit(SaltBuckets))

  /** Two-phase salted count: groupBy(key, salt) → groupBy(key). */
  def saltedCount(df: DataFrame, key: Column, payload: Column): DataFrame =
    df.groupBy(key.as("key"), saltCol(payload).as("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col("key"))
      .agg(sum(col("_partial")).as("cnt"))

  /** Word count via the salted two-phase plan — identical results to
    * [[TextAnalysis.wordCount]] (same oracle), different physical shape:
    * the first shuffle spreads each hot word over [[SaltBuckets]] reducers.
    */
  def saltedWordCount(spark: SparkSession, dir: String): DataFrame =
    saltedCount(
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(upperTokens(col("text"))).as("word")),
      col("word"), col("doc_id"))
      .withColumnRenamed("key", "word")
      .orderBy(col("word"))

  /** Broadcast-salted join: replicate the (small) build side
    * [[SaltBuckets]] times so a skewed probe key fans across that many
    * tasks. With AQE's skew-join handling this is rarely hand-written;
    * kept as the explicit form for engines/configs without it.
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      payload: Column): DataFrame = {
    val salted = probe.withColumn("_salt", saltCol(payload))
    val replicated = build.withColumn("_salt",
      explode(sequence(lit(0), lit(SaltBuckets - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Brand revenue via the salted-join plan — identical results to
    * [[Relational.joinBroadcast]] (shares its oracle: the gate proves
    * the salting rewrite lossless), but the probe side fans each part
    * key over [[SaltBuckets]] sub-keys before the join.
    */
  def saltedJoinBrand(spark: SparkSession, dir: String): DataFrame = {
    val probe = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p_partkey"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
    val build = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    saltedJoin(probe, build, "p_partkey",
        struct(col("l_orderkey"), col("l_linenumber")))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice")), 2).as("brand_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }
}
