package graft

import java.sql.Timestamp

import java.nio.file.Files
import java.util.jar.JarOutputStream

import graft.streaming.{EventStreams, Replay}
import graft.streaming.EventStreams.{ClosedSession, Event}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ArtifactProbe
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic streaming replay (SURVEY.md §7 Phase 3): MemoryStream
  * micro-batches through the same transforms the batch oracle queries
  * use, asserting stream results equal the batch computation and that
  * watermark-driven state (flatMapGroupsWithState + event-time timeout)
  * closes sessions exactly once. The graded stream queries run through
  * [[Replay]], which leaves no sink registered, guards the
  * single-batch replay the stateful per-user queries rely on, reuses
  * the classes earlier replays compiled, and leaves its session's own
  * artifact isolation as it found it.
  */
class StreamingSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Event(id, ts(t), user, typ, v)

  test("streaming tumbling counts equal the batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("t_tumbling")
      .outputMode("complete").start()
    try {
      input.addData(
        ev(1, "2024-01-01 00:10:00", 1, "click", 1.0),
        ev(2, "2024-01-01 00:40:00", 2, "click", 2.0),
        ev(3, "2024-01-01 01:10:00", 1, "view", 3.0))
      q.processAllAvailable()
      input.addData(ev(4, "2024-01-01 00:20:00", 3, "click", 4.0)) // late but within watermark
      q.processAllAvailable()
      val streamed = spark.table("t_tumbling")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      val batch = EventStreams.tumblingCounts(Seq(
        ev(1, "2024-01-01 00:10:00", 1, "click", 1.0),
        ev(2, "2024-01-01 00:40:00", 2, "click", 2.0),
        ev(3, "2024-01-01 01:10:00", 1, "view", 3.0),
        ev(4, "2024-01-01 00:20:00", 3, "click", 4.0)).toDF())
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(streamed === batch)
      assert(streamed.exists { case (w, t, n, v) =>
        w == ts("2024-01-01 00:00:00") && t == "click" && n == 3L && v == 7.0 })
    } finally q.stop()
  }

  test("streaming session windows equal the batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionCounts(input.toDF())
      .writeStream.format("memory").queryName("t_sessions")
      .outputMode("complete").start()
    try {
      input.addData(
        ev(1, "2024-01-01 00:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 00:10:00", 1, "click", 2.0),  // same session (10m gap)
        ev(3, "2024-01-01 02:00:00", 1, "click", 4.0),  // new session
        ev(4, "2024-01-01 00:05:00", 2, "view", 8.0))
      q.processAllAvailable()
      val got = spark.table("t_sessions")
        .as[(Long, Timestamp, Long, Double)].collect().toSet
      assert(got === Set(
        (1L, ts("2024-01-01 00:00:00"), 2L, 3.0),
        (1L, ts("2024-01-01 02:00:00"), 1L, 4.0),
        (2L, ts("2024-01-01 00:05:00"), 1L, 8.0)))
    } finally q.stop()
  }

  test("closedSessions: event-time timeout emits each session exactly once") {
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    val input = MemoryStream[Event]
    val q = EventStreams.closedSessions(input.toDS())
      .writeStream.format("memory").queryName("t_closed")
      .outputMode("append").start()
    try {
      // batch 1: user 1 has two events 10m apart; user 2 one event
      input.addData(
        ev(1, "2024-01-01 00:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 00:10:00", 1, "click", 2.0),
        ev(3, "2024-01-01 00:05:00", 2, "view", 8.0))
      q.processAllAvailable()
      // batch 2: user 1 reappears 3h later -> closes their first session
      // inline; advances watermark to 02:30
      input.addData(ev(4, "2024-01-01 03:00:00", 1, "click", 4.0))
      q.processAllAvailable()
      // batch 3: unrelated user far in the future -> watermark passes
      // every pending timeout; users 1 and 2 state evicted
      input.addData(ev(5, "2024-01-01 05:00:00", 3, "click", 0.5))
      q.processAllAvailable()
      val got = spark.table("t_closed").as[ClosedSession].collect().toSet
      // total_cents: sums of math.round(value*100) per event
      assert(got === Set(
        ClosedSession(1L, 2L, 300L, ts("2024-01-01 00:10:00")),
        ClosedSession(1L, 1L, 400L, ts("2024-01-01 03:00:00")),
        ClosedSession(2L, 1L, 800L, ts("2024-01-01 00:05:00"))))
    } finally q.stop()
  }

  test("dedupStream drops redundant deliveries of the same event_id") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, "2024-01-01 00:00:00", 1, "click", 1.0),
        ev(1, "2024-01-01 00:00:00", 1, "click", 1.0), // duplicate delivery
        ev(2, "2024-01-01 00:01:00", 2, "view", 2.0))
      q.processAllAvailable()
      input.addData(ev(1, "2024-01-01 00:02:00", 1, "click", 1.0)) // redelivery, later batch
      q.processAllAvailable()
      val ids = spark.table("t_dedup").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to prior clicks") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.attributionJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("t_attr")
      .outputMode("append").start()
    try {
      clicks.addData(
        ev(10, "2024-01-01 09:30:00", 1, "click", 0),
        ev(11, "2024-01-01 09:50:00", 1, "click", 0),
        ev(12, "2024-01-01 07:00:00", 2, "click", 0)) // stale for user 2
      purchases.addData(
        ev(100, "2024-01-01 10:00:00", 1, "purchase", 9.99),
        ev(101, "2024-01-01 10:00:00", 2, "purchase", 5.0)) // no click in window
      q.processAllAvailable()
      val got = spark.table("t_attr")
        .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
      // user 1's purchase matches both clicks in the prior hour; user 2's
      // click is 3h stale -> no attribution
      assert(got === Set((100L, 10L), (100L, 11L)))
    } finally q.stop()
  }

  test("streaming MinHash ingest: per-arrival signatures equal the batch computation") {
    // incremental near-dup ingest (SURVEY §9 lead): signatures computed
    // AS DOCUMENTS ARRIVE — explode/hash are stateless, the 64-member
    // min agg is per-doc state, Update mode emits each completed doc.
    // Every doc's shingles arrive within one batch here, so each doc is
    // emitted exactly once with its final signature; the set must equal
    // the batch operator over the full corpus.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.Dedup.minhashSignaturesUnsorted(
        input.toDF().toDF("doc_id", "text"), prodHash = true)
      .writeStream.format("memory").queryName("t_minhash")
      .outputMode("update").start()
    try {
      input.addData((0L, "the quick brown fox jumps over the lazy dog"),
        (1L, "pack my box with five dozen liquor jugs"))
      q.processAllAvailable()
      input.addData((2L, "the quick brown fox jumps over the lazy dogs")) // near-copy of 0
      q.processAllAvailable()
      val streamed = spark.table("t_minhash").collect()
        .map(r => (r.getLong(0), r.toSeq.drop(1))).toSet
      val batch = graft.operators.Dedup.minhashSignaturesUnsorted(
          Seq((0L, "the quick brown fox jumps over the lazy dog"),
            (1L, "pack my box with five dozen liquor jugs"),
            (2L, "the quick brown fox jumps over the lazy dogs"))
            .toDF("doc_id", "text"), prodHash = true)
        .collect().map(r => (r.getLong(0), r.toSeq.drop(1))).toSet
      assert(streamed === batch)
      // and the near-copy pair actually minhash-agrees more than the
      // unrelated pair (sanity that the streamed signatures are usable)
      def sig(s: Set[(Long, Seq[Any])], id: Long) = s.find(_._1 == id).get._2
      def agree(a: Seq[Any], b: Seq[Any]) = a.zip(b).count { case (x, y) => x == y }
      assert(agree(sig(streamed, 0L), sig(streamed, 2L)) >
        agree(sig(streamed, 0L), sig(streamed, 1L)))
    } finally q.stop()
  }

  test("file-source stream over the events fixture produces rows") {
    val out = java.nio.file.Files.createTempDirectory("graft-stream").toString
    // copy the fixture parquet in as a "landing zone" drop
    val events = graft.tables.Tables.events(spark, sfDir)
    events.limit(100).write.mode("overwrite").parquet(s"$out/drops")
    val q = EventStreams.tumblingCounts(
        EventStreams.readEventStream(spark, s"$out/drops"))
      .writeStream.format("memory").queryName("t_file")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("t_file").count() > 0)
    } finally q.stop()
  }

  private def tempViews(s: SparkSession): Set[String] =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("a graded stream query leaves no temp view behind; its frame still collects") {
    val s = spark.newSession()
    val before = tempViews(s)
    val streamed = SparkEntry.queries("q_stream_tumbling")(s, sfDir)
    assert(tempViews(s) === before)
    val rows = streamed.collect().toSeq
    assert(rows.nonEmpty &&
      rows === SparkEntry.queries("q_tumbling")(s, sfDir).collect().toSeq)
  }

  test("Replay.oneDataBatch refuses a replay delivered in two micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    spark.range(0, 10).coalesce(1).write.parquet(s"$dir/one")
    spark.range(0, 5).coalesce(1).write.parquet(s"$dir/two")
    spark.range(5, 10).coalesce(1).write.mode("append").parquet(s"$dir/two")
    def replay(path: String) = Replay.run(
      spark.readStream.schema("id BIGINT").option("maxFilesPerTrigger", "1")
        .parquet(path),
      OutputMode.Append())(Replay.oneDataBatch)
    assert(replay(s"$dir/one").count() === 10)
    val before = tempViews(spark)
    val e = intercept[IllegalArgumentException](replay(s"$dir/two"))
    assert(e.getMessage.contains("2 micro-batches"), e.getMessage)
    assert(tempViews(spark) === before)
  }

  test("a warm replay compiles no code: the second replay reuses the first's classes") {
    def replay() = SparkEntry.queries("q_stream_tumbling")(spark, sfDir)
    replay()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    replay()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0L)
  }

  test("a replay leaves its session isolated, whether or not it ran SQL first") {
    val dir = Files.createTempDirectory("graft-isolation")
    spark.range(0, 10).coalesce(1).write.parquet(s"$dir/rows")
    // the drive runs SQL on the replay's own session inside the replay's
    // conf window: for a fresh session, that is its first SQL execution
    def replay(s: SparkSession) = Replay.run(
        s.readStream.schema("id BIGINT").parquet(s"$dir/rows"), OutputMode.Append()) { q =>
      q.awaitTermination()
      s.range(1).collect()
      ()
    }
    val replayFirst = spark.newSession()
    replay(replayFirst)
    val batchFirst = spark.newSession()
    SparkEntry.queries("q_tumbling")(batchFirst, sfDir).collect()
    replay(batchFirst)
    assert(ArtifactProbe.isolatedAsItself(replayFirst))
    assert(ArtifactProbe.isolatedAsItself(batchFirst))
  }

  test("Replay.run refuses a session holding an artifact of its own") {
    val dir = Files.createTempDirectory("graft-artifact")
    spark.range(0, 10).coalesce(1).write.parquet(s"$dir/rows")
    val jar = dir.resolve("probe.jar")
    new JarOutputStream(Files.newOutputStream(jar)).close()
    val s = spark.newSession()
    s.addArtifact(jar.toString)
    val e = intercept[IllegalArgumentException](Replay.run(
      s.readStream.schema("id BIGINT").parquet(s"$dir/rows"), OutputMode.Append())())
    assert(e.getMessage.contains("artifacts of its own"), e.getMessage)
  }
}
