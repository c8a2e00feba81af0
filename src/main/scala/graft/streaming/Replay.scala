package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
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
  * That set/restore mutates SHARED session conf, so two concurrent
  * replays on one session would race the restore. A lock serializes the
  * window: the conf is only ever observed mutated inside it. A
  * production pipeline sizes state partitions per query at its own
  * checkpoint birth, not via session conf.
  */
object Replay {
  private val StatePartitions = 4
  private val lock = new Object
  private val ids = new AtomicLong

  /** Run `df` as a streaming query into a memory sink named for this
    * call alone, under the state-partition window; `drive` runs the
    * started query to the end of its replay (by default, until an
    * AvailableNow trigger terminates it). The query is stopped and the
    * sink's temp view dropped whatever `drive` does; the returned frame
    * keeps the sink's rows for as long as it is referenced.
    */
  def run(df: DataFrame, mode: OutputMode, trigger: Trigger = Trigger.AvailableNow())(
      drive: StreamingQuery => Unit = _.awaitTermination()): DataFrame = {
    val spark = df.sparkSession
    val name = s"graft_replay_${ids.incrementAndGet()}"
    try {
      lock.synchronized {
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
        try {
          val q = df.writeStream.format("memory").queryName(name)
            .outputMode(mode).trigger(trigger).start()
          try drive(q) finally q.stop()
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
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
