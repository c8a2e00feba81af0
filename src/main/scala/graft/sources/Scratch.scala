package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tables.Tables

/** Cluster-safe scratch roots for materialized layouts and sink
  * round-trips, and the one slot policy of every stored artifact.
  *
  * Paths derive from session conf: `graft.scratch.dir` when set (point
  * it at a shared filesystem or object-store prefix in production),
  * otherwise a `graft_scratch` prefix under `spark.sql.warehouse.dir`
  * — the one location a deployment already has to make durable and
  * shared.
  *
  * Slot policy: every artifact derived from an input table (pair
  * graphs, label tables, ANN layouts and edges, BM25/winnow/lexical
  * index commits, BPE models) lives in a write-once [[slot]] keyed on
  * the input's directory AND its file fingerprint, written at most
  * once per session ([[slotOnce]], [[storedOnce]]). A rewritten input
  * therefore gets fresh slots, and a slot's content is always a
  * deterministic rebuild of the input version its path names — the
  * paper's write-once task output. Chained indexes build their commits
  * through [[Commits.chain]] on top of these slots.
  */
object Scratch {
  def dir(spark: SparkSession, name: String): String = {
    val root = spark.conf.getOption("graft.scratch.dir")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/graft_scratch")
    s"$root/$name"
  }

  /** The slot policy of every stored artifact:
    * `<name>/<md5(dir#fingerprint(dir/<table>.parquet))>`, the input
    * table the artifact is derived from named by `table` ("documents",
    * "embeddings"). The 128-bit key keeps two corpora touched by one
    * session apart, and the input's fingerprint ([[Tables.fingerprint]])
    * makes a table rewritten inside a live session land in fresh slots
    * instead of serving artifacts built from the old file. A slot is
    * written at most once per session ([[slotOnce]]) and never
    * reopened, so a stored artifact is always a deterministic function
    * of the input version its path names.
    */
  def slot(spark: SparkSession, dir: String, table: String,
      name: String): String = {
    val key = s"$dir#${Tables.fingerprint(spark, s"$dir/$table.parquet")}"
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    this.dir(spark, s"$name/$md5")
  }

  /** Write the [[slot]] at most once per session (`write` receives its
    * path; [[materializeOnce]] semantics) and return its path.
    */
  def slotOnce(spark: SparkSession, dir: String, table: String,
      name: String)(write: String => Unit): String = {
    val path = slot(spark, dir, table, name)
    materializeOnce(spark, path)(write(path))
    path
  }

  /** A single-table artifact: `df` written once as plain parquet into
    * its [[slot]] and read back through [[readParquetOnce]].
    */
  def storedOnce(spark: SparkSession, dir: String, table: String,
      name: String)(df: => DataFrame): DataFrame =
    readParquetOnce(spark, slotOnce(spark, dir, table, name)(
      df.write.mode("overwrite").parquet(_)))

  /** The session's memo, the one place session-scoped state lives:
    * `f` runs at most once per (session, key) and its value is returned
    * to every later caller in that session. Concurrent first callers
    * wait behind one computation; the lock is PER KEY, so a minutes-long
    * BPE train never serializes an unrelated corpus's edge build. A
    * computation that throws is not memoized — the next caller retries.
    * Sessions are weak keys compared by reference, so
    * `spark.newSession()` starts with an empty memo. (A memoized frame
    * references its session, so that session's memo lives until the
    * JVM exits; release on `stop()` is not implemented.)
    */
  def once[T](spark: SparkSession, key: String)(f: => T): T = {
    val cells = memo.synchronized(
      memo.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Cell]()))
    cells.computeIfAbsent(key, _ => new Cell).get(f)
  }

  private final class Cell {
    @volatile private var done = false
    private var value: Any = _
    def get[T](f: => T): T = {
      if (!done) synchronized { if (!done) { value = f; done = true } }
      value.asInstanceOf[T]
    }
  }

  private val memo =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Cell]]()

  /** The write-once guard under [[slotOnce]]: `build` must write its
    * output(s) under `key`; it runs at most once per (session, key) —
    * [[once]]'s semantics. Operators reach it only through the slot
    * policy, so the key always carries the input's fingerprint.
    */
  def materializeOnce(spark: SparkSession, key: String)(build: => Unit): Unit =
    once(spark, s"built:$key")(build)

  /** Run independent build closures CONCURRENTLY from driver threads
    * (guide §2.6 — Spark happily schedules several jobs at once; the
    * builds here are small-parallelism stages that leave most cores
    * idle when run back to back). Blocks until all complete and
    * returns their results in task order. The first failure cancels
    * the siblings' Spark jobs — each thread tags its jobs with a tag
    * unique to this call, and every job still running under a tag, or
    * started under one later, is cancelled until its thread ends (tags,
    * not job groups: the caller's group stays on every job) — and is
    * rethrown once every thread has finished, with every sibling
    * failure attached as a suppressed throwable, so a shared root
    * cause manifesting differently per thread keeps all its
    * diagnostics, and a failed sibling cannot leave another build
    * half-observed. Use ONLY for builds with no data dependency on
    * each other (e.g. two ingest commits over disjoint doc splits).
    */
  def inParallel[T](tasks: (() => T)*): Seq[T] = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val call = s"graft-inParallel-${java.util.UUID.randomUUID()}"
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val out = new Array[Any](tasks.size)
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() =>
        try {
          sc.foreach(_.addJobTag(s"$call-$i"))
          out(i) = t()
        } catch { case e: Throwable => errs.add(e); () })
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach { th =>
      while (th.isAlive) {
        th.join(100)
        if (!errs.isEmpty)
          for (c <- sc; i <- tasks.indices) c.cancelJobsWithTag(s"$call-$i")
      }
    }
    if (!errs.isEmpty) {
      val it = errs.iterator()
      val first = it.next()
      while (it.hasNext) first.addSuppressed(it.next())
      throw first
    }
    out.toSeq.asInstanceOf[Seq[T]]
  }

  /** Read-back of a [[materializeOnce]] artifact with the FILE LISTING
    * and schema inference paid once per (session, path) — guide §6's
    * session file-listing cache, made explicit for path-based reads
    * (Spark's filesourcePartitionFileCacheSize covers catalog tables
    * only; every `spark.read.parquet(path)` otherwise builds a fresh
    * InMemoryFileIndex, and a cell-partitioned ANN layout lists ~50
    * directories per consumer query — profiled at 0.1–0.2 s per
    * listing job). SAFE ONLY for write-once paths: materializeOnce
    * keys are written at most once per session and always before the
    * first read, so the memoized plan's file snapshot can never go
    * stale (two LIVE sessions sharing one scratch root would each
    * build, so give concurrent sessions their own `graft.scratch.dir`).
    * The DATA is still scanned from parquet on every execution — this
    * caches planning metadata, never rows.
    */
  def readParquetOnce(spark: SparkSession, path: String): DataFrame =
    readParquetMultiOnce(spark, Seq(path))

  /** [[readParquetOnce]] over a path LIST — one parquet relation (one
    * FileScan node) spanning identically-schemed write-once
    * directories (e.g. the BM25 commit layout's per-ingest
    * postings/dl/df directories), instead of one scan + union branch
    * per commit.
    */
  def readParquetMultiOnce(spark: SparkSession, paths: Seq[String]): DataFrame =
    once(spark, s"parquet:${paths.mkString("\u0000")}")(spark.read.parquet(paths: _*))
}
