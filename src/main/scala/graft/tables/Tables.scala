package graft.tables

import java.io.FileNotFoundException

import graft.sources.Scratch
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver-generated TPC-H-ish fixtures
  * (TESTDATA.md). The reference's only source is a directory
  * of text files read whole (reference lib/map_reduce/master.ex:112-120,
  * lib/map_reduce/worker.ex:105-109); here the generalized engine reads
  * columnar parquet and lets Catalyst push filters/projections into the
  * scan. At 100 TB these would be partitioned/bucketed external tables —
  * the loaders keep that swap behind one seam.
  *
  * Like the reference's map phase, which knows its input format before
  * it reads a split, every load reads with an explicit schema: the
  * parquet footer is inferred (a one-task Spark job) once per session
  * and file version, in [[schemaOf]], not once per table reference.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A fresh scan of `<dir>/<name>.parquet` on every call — only the
    * schema is memoized, so two loads of one table in one plan keep
    * distinct attribute ids (self-joins resolve) and the file listing
    * stays live. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    read(spark, path, fingerprint(spark, path))
  }

  private def read(spark: SparkSession, path: String, fp: String): DataFrame =
    spark.read.schema(schemaOf(spark, path, fp)).parquet(path)

  /** The parquet schema of `path`, inferred at most once per (session,
    * path, [[fingerprint]]): a file rewritten inside a live session is
    * inferred again. The memo is session-scoped ([[Scratch.once]])
    * because the inferred type depends on session conf —
    * `spark.sql.legacy.parquet.nanosAsLong` reads `events.ts` as a
    * LongType. An inference that throws is not memoized.
    */
  def schemaOf(spark: SparkSession, path: String): StructType =
    schemaOf(spark, path, fingerprint(spark, path))

  private def schemaOf(spark: SparkSession, path: String, fp: String): StructType =
    Scratch.once(spark, s"schema:$path#$fp")(spark.read.parquet(path).schema)

  /** Version stamp of a table path from one `getFileStatus`: length and
    * modification time of a file; for a directory, the count, total
    * length and newest modification time of its leaf files. A missing
    * path gets a constant stamp, so Spark's own read raises its usual
    * path-not-found error (and a failed inference is never memoized).
    */
  private[graft] def fingerprint(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      if (st.isFile) s"${st.getLen}@${st.getModificationTime}"
      else {
        val files = fs.listFiles(p, true)
        var n, bytes, newest = 0L
        while (files.hasNext) {
          val f = files.next()
          n += 1; bytes += f.getLen; newest = newest.max(f.getModificationTime)
        }
        s"$n:$bytes@$newest"
      }
    } catch { case _: FileNotFoundException => "absent" }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects. Read it as raw nanos and truncate to microseconds
    * with integral division (`div`, not `/` — double division would
    * lose precision above 2^53 ns). DuckDB performs the identical
    * ns→µs truncation when it reads the same file, so oracle
    * comparisons stay exact.
    *
    * REQUIRES `spark.sql.legacy.parquet.nanosAsLong=true` at session
    * build time (set by [[graft.LocalSession.build]]) —
    * a session-wide conf flip inside a loader would silently change how
    * every later nanos-timestamp parquet in the session reads.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // With a TIMESTAMP(NANOS) fixture the raw read itself throws
    // ("Illegal Parquet type: INT64 (TIMESTAMP(NANOS,...))") during
    // schema inference — before normalizedTs can inspect the schema —
    // so the actionable conf hint must wrap the load, not follow it.
    val raw =
      try load(spark, dir, "events")
      catch {
        case e: Throwable if Option(e.getMessage).exists(m =>
            m.contains("Illegal Parquet type") && m.contains("NANOS")) =>
          throw new IllegalArgumentException(
            "events.parquet is TIMESTAMP(NANOS): set " +
              "spark.sql.legacy.parquet.nanosAsLong=true when building " +
              "the session (as graft.LocalSession.build does), so the " +
              "nanos column reads as raw longs for " +
              "normalizedTs to truncate", e)
      }
    raw.withColumn("ts", normalizedTs(spark, raw.schema))
  }

  /** events.ts normalized to session-zone TIMESTAMP across the fixture
    * encodings the driver has shipped: TIMESTAMP(NANOS) (read as raw
    * longs under `spark.sql.legacy.parquet.nanosAsLong=true`, truncated
    * ns→µs with integral `div` — double division would lose precision
    * above 2^53 ns), TIMESTAMP(MICROS) NTZ (cast; the UTC session zone
    * makes the wall-clock values identical to the nanos path), and
    * plain TIMESTAMP. DuckDB performs the identical normalization on
    * the same file, so oracle comparisons stay exact either way.
    */
  def normalizedTs(spark: SparkSession, schema: org.apache.spark.sql.types.StructType): Column =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
          "set spark.sql.legacy.parquet.nanosAsLong=true when building the session (events.parquet is TIMESTAMP(NANOS))")
        timestamp_micros(expr("ts div 1000"))
      case _: org.apache.spark.sql.types.TimestampNTZType => col("ts").cast("timestamp")
      case _ => col("ts")
    }
  /** The documents table ships behind the [[documentsScan]] scan-parallelism
    * floor: every heavy per-row TEXT producer (quality metrics, MinHash
    * signatures, shingle sets, rolling-window hashes, postings, codecs)
    * reads it, and the gate fixtures are single-row-group parquet files
    * whose scans plan as ONE split — so each of those producers ran its
    * expensive projection on one core while the rest idled. Embeddings
    * deliberately do NOT widen: vector kernels cost ~µs/row, so the
    * added exchange + AQE stage per scan reference MEASURED as a
    * uniform ~+1 s regression across the 20-query knn family (full
    * RUNS=3 A/B, plans/r21) with no compute win to offset it.
    */
  def documents(spark: SparkSession, dir: String): DataFrame = {
    val (df, narrow, width) = documentsScan(spark, dir)
    if (narrow) df.repartition(width) else df
  }
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "embeddings")

  /** The memoized widen DECISION for the documents corpus, exposed so
    * the streaming twin ([[graft.streaming.DocumentStreams]]) can gate
    * its arrival-time repartition on the SAME scale-adaptive probe: a
    * replayed single-file fixture is narrow (widen), a production
    * many-split corpus is not (no per-micro-batch exchange is ever
    * planned — the round-21 verdict's unconditional-widenStream fix).
    */
  def documentsNarrow(spark: SparkSession, dir: String): Boolean =
    documentsScan(spark, dir)._2

  /** Width of the parallelism floor, derived from the SCAN'S BYTES —
    * ceil(sizeInBytes / widenBytesPerPartition) clamped to
    * [1, defaultParallelism] — so the floor scales with the data
    * instead of pinning the core count: a tiny gate corpus fans out
    * ~10 ways (A/B at sf0.1: width 8–12 beat 32, whose per-task
    * overhead cost the cheap consumers more than the heavy kernels
    * gained; width 4 starts re-serializing the compute-dense passes),
    * a bigger single-file corpus approaches the cores, and at
    * production widths the floor never fires at all. Both knobs stay
    * conf-overridable (`spark.graft.scan.widenPartitions` wins,
    * `spark.graft.scan.widenBytesPerPartition` tunes the divisor) —
    * the scale-dependent-settings-stay-parameterised rule.
    */
  private def widenTo(spark: SparkSession, df: DataFrame): Int = {
    def confInt(k: String): Option[Int] =
      spark.conf.getOption(k).flatMap(s => scala.util.Try(s.trim.toInt).toOption)
    confInt("spark.graft.scan.widenPartitions").getOrElse {
      val bytesPer = confInt("spark.graft.scan.widenBytesPerPartition")
        .getOrElse(64 * 1024)
      val sz = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val want = (sz + bytesPer - 1) / bytesPer
      want.min(spark.sparkContext.defaultParallelism).max(1).toInt
    }
  }

  /** Scan-parallelism floor (guide §2.5, "input skew: one huge
    * unsplittable file"): round-robin repartition to the session's
    * parallelism ONLY when the scan yields fewer splits than cores —
    * profiled at sf0.1 as 0.5–2.3 s single-task stages across the
    * corpus operators. At production scale a corpus spans thousands of
    * row groups, the condition is false, and no repartition (and no
    * extra pass over the data) is ever planned — the floor is
    * scale-adaptive, not a local-mode constant. Deterministic:
    * round-robin repartition local-sorts its input first
    * (spark.sql.execution.sortBeforeRepartition, default on) and the
    * scan's row order is fixed, so the row→partition assignment — and
    * with it every downstream value — is reproducible; consumers are
    * hash/integer/per-row operators, partitioning-independent by
    * construction (the full DuckDB gate re-proves this each round).
    * The split-count probe plans the scan once per (path, fingerprint,
    * width) and memoizes the decision, so repeated loads inside one
    * session don't re-plan just to re-learn the split count, while a
    * corpus rewritten inside a live session is probed again. The scan,
    * the decision and the width come from one [[fingerprint]] and one
    * [[widenTo]].
    */
  private def documentsScan(spark: SparkSession,
      dir: String): (DataFrame, Boolean, Int) = {
    val path = s"$dir/documents.parquet"
    val fp = fingerprint(spark, path)
    val df = read(spark, path, fp)
    val width = widenTo(spark, df)
    (df, Scratch.once(spark, s"narrow:$path#$fp#$width")(df.rdd.getNumPartitions < width), width)
  }
}
