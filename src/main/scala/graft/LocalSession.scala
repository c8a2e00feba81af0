package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The one local session shape shared by every main (Bench, Verify,
  * ProfOne, ExplainOne, ScalingProbe) and the test suite, the one
  * session-conf window ([[withConf]]), plus the noop-sink execution
  * and the untimed warm-up the timing mains share.
  *
  * Options read here, each with one default:
  *   - `$SPARK_GRAFT_CPUS`: local cores and shuffle partitions (default:
  *     the machine's core count);
  *   - `$SPARK_GRAFT_SF_DIR`: the fixture directory (default sf0.1).
  */
object LocalSession {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[cpus]` with `cpus` shuffle partitions and a UTC session
    * zone. `events.parquet` is TIMESTAMP(NANOS), so nanos read as raw
    * longs ([[graft.tables.Tables.events]] truncates them); the flag is
    * set at build time so no loader flips session state. The SQL
    * function surface installs by class-name STRING, exactly as a
    * user's `spark-submit --conf` would (SqlFunctionsSpec proves it
    * took effect). The UI is off: no port, no status-page overhead.
    */
  def build(cpus: Int = LocalSession.cpus,
      warehouse: String = "target/tmp/warehouse"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val confLock = new Object

  /** Run `body` with `overrides` set in the session conf, then restore
    * each key (unset again if it was unset). Every window holds one
    * lock, so no two interleave; `src/main` changes session conf only
    * here.
    */
  def withConf[T](spark: SparkSession, overrides: Seq[(String, String)])(body: => T): T =
    confLock.synchronized {
      val saved = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

  /** Run a registered query's FULL plan through the `noop` sink (a bare
    * count() lets Spark skip final sorts and prune columns). */
  def exec(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

  /** Untimed session warm-up: one query (JIT, codegen and parquet-footer
    * caches are session costs, not query costs), the dedup codegen
    * paths, then an empty cache. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    try exec(spark, sfDir, "q_topk") catch {
      case NonFatal(e) => System.err.println(s"warmUp q_topk skipped: $e")
    }
    warmDedupCodegen(spark, sfDir)
    spark.catalog.clearCache()
  }

  /** Untimed warm-up of the heavy codegen/JIT paths (shingle-set
    * build, sorted merge intersect, 64-member signature agg) on a
    * 64-document slice: first-touch JIT of these expressions measured
    * ~10 s at sf0.1 and landed on whichever dedup query ran first — a
    * session cost, same class as the q_topk warm-up's codegen +
    * parquet-footer caches, not a property of any query.
    */
  def warmDedupCodegen(spark: SparkSession, sfDir: String): Unit =
    try {
      val tiny = graft.tables.Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text").limit(64)
      graft.operators.Dedup.ngramJaccardPairsOn(tiny)
        .write.format("noop").mode("overwrite").save()
      graft.operators.Dedup.minhashSignaturesOn(tiny)
        .write.format("noop").mode("overwrite").save()
    } catch {
      case NonFatal(e) => System.err.println(s"warmDedupCodegen skipped: $e")
    }
}
