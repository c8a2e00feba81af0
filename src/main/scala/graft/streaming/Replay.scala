package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.graft.SessionArtifacts
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The one runner for a FINITE streaming replay: start the query into a
  * memory sink, drive it to completion, stop it, and hand back its rows
  * as a frame — the streaming twin of running a batch job to completion
  * and reading its output. Every graded stream query runs through
  * [[run]]; only the query body, the output mode, the trigger and the
  * drive loop differ per caller.
  *
  * State-partition sizing: shuffle partitions are frozen into a
  * streaming query's state store at query START, and every micro-batch
  * then pays per-partition state-store open/commit/maintenance —
  * measured at ~18 s for a 3.4k-row result with the batch session's 32
  * partitions, almost all of it state-store fixed cost, not
  * aggregation. A few thousand group keys need a handful of state
  * partitions, so the runner drops `spark.sql.shuffle.partitions` to
  * [[StatePartitions]] around the query and restores it after; at
  * production stream volume this knob is sized to key cardinality, not
  * to the batch session's CPU count.
  *
  * Two more entries in the same window remove a warm replay's fixed
  * cost that is not stream work (measured on `q_stream_tumbling`,
  * `local[4]`, Hadoop 3.4.2 without `libhadoop`):
  *
  *  - `spark.sql.streaming.checkpointFileManagerClass` is Spark's own
  *    [[FileSystemBasedCheckpointFileManager]]. The default FileContext
  *    manager renames through `RawLocalFs.getFileLinkStatus`, which
  *    forks a `readlink` process per checkpoint file: 112 of a replay's
  *    152 forks (the other 40 are `chmod`, from
  *    `RawLocalFileSystem.setPermission`, which stays). The file-system
  *    manager renames with `rename(2)` and, on a no-overwrite rename,
  *    throws `FileAlreadyExistsException` for an existing target, as the
  *    FileContext path does; checksum files still wrap it. State-store
  *    commit fell from 250–470 ms to 25–50 ms per batch.
  *  - `spark.sql.artifact.isolation.enabled` is `false` for the session
  *    the stream clones for itself. An isolated clone runs its tasks
  *    under a class loader made for its own session id, and the codegen
  *    cache is keyed by class loader, so every replay compiled the same
  *    12 classes again (about 240 ms of compiler time, with state tasks
  *    waiting on each other's compiles). A non-isolated clone runs under
  *    the executor's default loader, and a warm replay compiles nothing.
  *    The parent session's own isolation is fixed before the window
  *    opens, and a parent holding artifacts of its own is refused
  *    ([[SessionArtifacts.requireNone]]): the clone would run without
  *    them.
  *
  * Micro-batch trigger time fell from about 800 to 420 ms with both.
  *
  * That set/restore mutates SHARED session conf, so it runs in the one
  * conf window ([[graft.LocalSession.withConf]]), whose lock serializes
  * it against every other window: the conf is only ever observed
  * mutated inside it. A production pipeline sizes state partitions per
  * query at its own checkpoint birth, not via session conf.
  */
object Replay {
  private val StatePartitions = 4
  private val ids = new AtomicLong

  /** Run `df` as a streaming query into a memory sink named for this
    * call alone, under the replay's conf window; `drive` runs the
    * started query to the end of its replay (by default, until an
    * AvailableNow trigger terminates it). The query is stopped and the
    * sink's temp view dropped whatever `drive` does; the returned frame
    * keeps the sink's rows for as long as it is referenced.
    */
  def run(df: DataFrame, mode: OutputMode, trigger: Trigger = Trigger.AvailableNow())(
      drive: StreamingQuery => Unit = _.awaitTermination()): DataFrame = {
    val spark = df.sparkSession
    val name = s"graft_replay_${ids.incrementAndGet()}"
    SessionArtifacts.requireNone(spark)
    try {
      graft.LocalSession.withConf(spark, Seq(
          "spark.sql.shuffle.partitions" -> StatePartitions.toString,
          "spark.sql.streaming.checkpointFileManagerClass" ->
            classOf[FileSystemBasedCheckpointFileManager].getName,
          "spark.sql.artifact.isolation.enabled" -> "false")) {
        val q = df.writeStream.format("memory").queryName(name)
          .outputMode(mode).trigger(trigger).start()
        try drive(q) finally q.stop()
      }
      spark.table(name)
    } finally { spark.catalog.dropTempView(name); () }
  }

  /** A `drive` that runs the replay to completion and asserts the data
    * arrived in ONE micro-batch. The stateful per-user ops sort each
    * batch by (ts, event_id) and rely on that being the GLOBAL order per
    * user — true only when the whole fixture lands in a single batch,
    * which holds because events.parquet is one file under AvailableNow
    * with no maxFilesPerTrigger. A multi-file fixture (or a trigger cap)
    * would split users across batches and break oracle parity, so the
    * assumption is asserted, not trusted: the replay fails loudly
    * instead of silently diverging.
    */
  def oneDataBatch(q: StreamingQuery): Unit = {
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    require(dataBatches <= 1,
      s"replay delivered data in $dataBatches micro-batches; the per-batch " +
        "(ts, event_id) sort only reproduces the batch/oracle order when " +
        "each user's events arrive in one batch (single-file fixture)")
  }
}
