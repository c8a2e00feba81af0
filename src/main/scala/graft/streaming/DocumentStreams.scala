package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Multimodal}
import graft.functions.TextFunctions.{charShingles, md5Hash32, normalized, rollingFingerprint}

/** Streaming surface over documents-shaped data: incremental ingest of
  * an unbounded corpus drop directory, computing near-dup state AS
  * DOCUMENTS ARRIVE instead of re-running the batch pipeline per drop.
  *
  * The pipeline splits exactly where state is genuinely needed:
  *  - signature ingest ([[streamedMinhashSignatures]]) is STATELESS —
  *    a MinHash signature is a pure per-document function, one codegen
  *    expression per row;
  *  - the near-dup DECISION ([[streamedNearDupPairs]]) is the stateful
  *    half: arrivals are banded and joined against the accumulated
  *    signature store per LSH band bucket, emitting verified pairs the
  *    moment the second member of a pair arrives.
  */
object DocumentStreams {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** One banded arrival: the document's full signature riding each of
    * its [[Dedup.Bands]] band keys (bucket = band + key, the shuffle and
    * state key).
    */
  case class BandedSig(bucket: String, band: Int, doc_id: Long, sig: Array[Long])

  /** Accumulated band-bucket state: every signature ever filed under
    * this bucket (the gate query's exact semantics necessarily keep all
    * of them, like the streaming-DISTINCT gate; an unbounded production
    * stream bounds the horizon with a TTL/watermark on arrival time —
    * dedup against the last N days — exactly as [[EventStreams.dedupStream]]
    * bounds exact dedup).
    */
  case class BucketMember(doc_id: Long, sig: Array[Long])
  case class BucketState(members: List[BucketMember])

  case class NearDupMatch(id_a: Long, id_b: Long, est_jaccard: Double)

  private def streamedDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"), col("text"))

  /** Parallelism floor for heavy STATELESS stream projections (codec
    * decodes, signature/BPE/winnow kernels): the replayed file source
    * plans one task per file, so a single-file micro-batch ran its
    * whole decode pass on one core — the [[graft.tables.Tables.documents]]
    * problem at arrival time. A round-robin repartition inside the
    * stream fans the batch across the session's cores; the consumers
    * here are pure per-row functions (no state, no watermark
    * dependence), so micro-batch OUTPUT is untouched — only where rows
    * compute.
    *
    * CONDITIONAL since round 22 (round-21 verdict: the unconditional
    * form planned a full extra exchange per micro-batch even on
    * production sources that already arrive wide): `narrow` must say
    * whether the SOURCE actually plans fewer splits than the floor.
    * Streaming plans cannot be probed pre-execution, so callers pass
    * the decision — [[streamedDocs]] consumers gate on the memoized
    * BATCH probe of the same documents.parquet
    * ([[graft.tables.Tables.documentsNarrow]]: a production corpus
    * spans thousands of row groups and the stream inherits that width,
    * so no repartition is ever planned); the TTL replay passes
    * narrow=true because its chunks are 1 file each BY CONSTRUCTION
    * (the coalesce(1) atomic-append contract — that source is always
    * one scan task per micro-batch, at any scale of the replayed
    * corpus).
    */
  private def widenStream(df: DataFrame, narrow: Boolean): DataFrame =
    if (narrow) df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  /** [[streamedDocs]] widened on the batch probe of the same file. */
  private def widenedDocs(spark: SparkSession, dir: String): DataFrame =
    widenStream(streamedDocs(spark, dir),
      graft.tables.Tables.documentsNarrow(spark, dir))

  /** Incremental MinHash ingest under the driver gate: the SAME
    * per-row signature expression as the batch operator
    * ([[Dedup.minhashSignatureArray]]) executed as a real StreamingQuery
    * over the streaming file source — STATELESS (append mode, no state
    * store at all): a signature is a pure function of its document, so
    * the streaming twin is a map, not an aggregation. Each document
    * emits exactly one signature row on arrival, which is why a finite
    * replay reproduces the batch signature table bit-for-bit and the
    * query shares q_minhash_signatures' DuckDB oracle (the stronger
    * gate than rows-only). Downstream, signatures flow into the
    * band-bucket store ([[streamedNearDupPairs]]) as they land.
    */
  def streamedMinhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val unpack = (0 until Dedup.NumHashes).map(i =>
      element_at(col("sig"), i + 1).as(s"mh$i"))
    val sig = widenedDocs(spark, dir)
      .select(col("doc_id"),
        Dedup.minhashSignatureArray(col("text"), prodHash = false).as("sig"))
      .select(col("doc_id") +: unpack: _*)
    Replay.run(sig, OutputMode.Append())().orderBy(col("doc_id"))
  }

  /** Streaming decontamination — the STREAM-STATIC JOIN pattern (the
    * one canonical Structured Streaming join family the surface did
    * not yet exercise; stream-stream is q_stream_attribution): the
    * TRAIN shingle vocabulary is a static batch frame (in production,
    * read from the ingested corpus's layout), and eval/val/test
    * documents arrive as a stream, shingled per micro-batch and
    * left-joined against it. Stream-static joins are STATELESS — each
    * micro-batch joins its own rows, the static side is simply re-used
    * — so emissions depend only on the document set, a finite replay
    * equals the batch computation, and the query shares
    * q_decontamination's full DuckDB oracle. The per-doc aggregation
    * runs in Complete mode (the running-dashboard form: every arriving
    * eval doc's contamination is current after each batch); state is
    * one row per EVAL doc — the benchmark suite, orders of magnitude
    * smaller than the train corpus, the side you CAN hold. A
    * production variant bounding even that would window + watermark
    * per arrival day.
    */
  def streamedDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.tables.Tables.documents(spark, dir)
    val bucket = pmod(md5Hash32(col("text")), lit(10))
    val splitCol = when(bucket < 8, "train").when(bucket === 8, "val")
      .otherwise("test")
    // static side: distinct train shingle fingerprints, persisted —
    // re-read by every micro-batch's join
    val trainVocab = docs.filter(splitCol === "train")
      .select(explode(array_distinct(
        charShingles(normalized(col("text")), Dedup.ShingleK))).as("sh"))
      .select(rollingFingerprint(col("sh")).as("hh"))
      .distinct().withColumn("hit", lit(1L))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Replay via a temp-dir FILE source (the q_stream_tumbling
      // pattern): the eval split is WRITTEN by executors — range-split
      // into 3 files so AvailableNow + maxFilesPerTrigger=1 still
      // exercises multi-batch Complete-mode updates — and never lands
      // on the driver (the prior MemoryStream form collected the
      // arriving side driver-side; bounded, but needlessly so).
      val replayDir =
        graft.sources.Scratch.dir(spark, "stream_decontamination_replay")
      docs.select(col("doc_id"), splitCol.as("split"), col("text"))
        .filter(col("split") =!= "train")
        .repartitionByRange(3, col("doc_id"))
        .write.mode("overwrite").parquet(replayDir)
      val streamSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("split", StringType),
        StructField("text", StringType)))
      val stream = spark.readStream.schema(streamSchema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(replayDir)
      // the shingle pass is the batch's heavy kernel and each replay
      // file is one scan task — fan it out (stateless projection; the
      // grouped aggregation shuffles by doc afterwards either way)
      val shingled = widenStream(stream, narrow = true).select(col("doc_id"), col("split"),
          explode(array_distinct(
            charShingles(normalized(col("text")), Dedup.ShingleK))).as("sh"))
        .select(col("doc_id"), col("split"),
          rollingFingerprint(col("sh")).as("hh"))
      val agg = shingled.join(trainVocab, Seq("hh"), "left")
        .groupBy(col("doc_id"), col("split"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
        .withColumn("contamination",
          col("n_overlap").cast("double") / col("n_shingles"))
      Replay.run(agg, OutputMode.Complete())()
        .orderBy(col("doc_id")).localCheckpoint()
    } finally { trainVocab.unpersist(); () }
  }

  /** The streaming near-dup DECISION join — the back half of the
    * incremental dedup pipeline: "is this arriving document a near-dup
    * of anything seen so far?", answered the moment it arrives instead
    * of by a nightly batch rebuild.
    *
    * Dataflow (the streaming restatement of the batch
    * [[Dedup.minhashLshPairsOn]] band→candidate→verify pipeline, the
    * same way q_stream_distinct restates dropDuplicates):
    *  1. stateless per-row signature (one codegen expression);
    *  2. explode into the [[Dedup.Bands]] band keys, the full signature
    *     riding each banded row;
    *  3. ONE stateful operator: flatMapGroupsWithState keyed on the
    *     band bucket. State is the bucket's accumulated members; each
    *     arrival is verified (exact signature-agreement count — the
    *     same est_jaccard arithmetic as the batch verification join)
    *     against them and appended.
    *
    * Exactly-once pair emission WITHOUT a downstream distinct: a pair
    * colliding in several bands would be emitted by several buckets, so
    * a bucket for band b emits a pair only if b is the SMALLEST band the
    * two signatures agree on — decidable locally because both full
    * signatures are in hand, and deterministic regardless of arrival
    * interleaving. (The batch pipeline needs a candidate `distinct()`
    * shuffle for the same dedup; the streaming form gets it free.)
    *
    * State per bucket is one 64-long vector per member — the signature
    * store, not the corpus. Emissions depend only on the SET of
    * documents seen, so a finite replay reproduces the batch pair set
    * exactly and q_stream_neardup shares q_minhash_lsh_pairs' full-hash
    * DuckDB oracle.
    */
  def streamedNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    // widenStream BEFORE the signature projection: the 64-hash MinHash
    // kernel otherwise runs on the file source's one scan task per
    // micro-batch; the banded rows re-shuffle to the 4 state partitions
    // afterwards either way, and per-bucket processing sorts by doc_id,
    // so emissions are unchanged
    val pairs = nearDupPairStream(widenedDocs(spark, dir))(spark)
    Replay.run(pairs.toDF(), OutputMode.Append())()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The streaming TRANSFORM half of [[streamedNearDupPairs]], factored
    * over any streaming (doc_id, text) frame so a MemoryStream replay
    * can pin batch parity and re-delivery idempotence without the file
    * source.
    */
  def nearDupPairStream(docs: DataFrame)(implicit spark: SparkSession): Dataset[NearDupMatch] = {
    import spark.implicits._
    val r = Dedup.RowsPerBand
    val bandStructs = array((0 until Dedup.Bands).map { b =>
      val key = concat_ws("_",
        (0 until r).map(i => element_at(col("sig"), b * r + i + 1)): _*)
      struct(lit(b).as("band"), concat_ws("|", lit(b), key).as("bucket"))
    }: _*)
    val banded = docs
      .select(col("doc_id"),
        Dedup.minhashSignatureArray(col("text"), prodHash = false).as("sig"))
      .select(col("doc_id"), col("sig"), explode(bandStructs).as("bb"))
      .select(col("bb.bucket").as("bucket"), col("bb.band").as("band"),
        col("doc_id"), col("sig"))
      .as[BandedSig]

    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, NearDupMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[BandedSig], state: org.apache.spark.sql.streaming.GroupState[BucketState]) =>
          var members = state.getOption.map(_.members).getOrElse(Nil)
          val out = List.newBuilder[NearDupMatch]
          // doc_id order makes same-batch processing deterministic; across
          // batches emissions are order-independent (see scaladoc)
          rows.toSeq.sortBy(_.doc_id).foreach { a =>
            // a re-delivered doc_id (file re-drop, restart replay) is
            // already in state with the identical signature — storing a
            // second copy would make later arrivals emit its pairs twice
            if (!members.exists(_.doc_id == a.doc_id)) {
              members.foreach { m =>
                if (firstSharedBand(a.sig, m.sig) == a.band) {
                  var eq = 0
                  var i = 0
                  while (i < a.sig.length) {
                    if (a.sig(i) == m.sig(i)) eq += 1
                    i += 1
                  }
                  // eq/64 is exact in binary — no round() (oracle parity)
                  val est = eq.toDouble / a.sig.length
                  if (est >= 0.5)
                    out += NearDupMatch(math.min(a.doc_id, m.doc_id),
                      math.max(a.doc_id, m.doc_id), est)
                }
              }
              members = BucketMember(a.doc_id, a.sig) :: members
            }
          }
          state.update(BucketState(members))
          out.result().iterator
      }
  }

  /** Replay clock for the GATED TTL variant (q_stream_neardup_ttl):
    * ts(doc) = [[TtlBaseMs]] + doc_id·1000 (one second per doc_id),
    * replayed in ascending doc_id order as one micro-batch per
    * chunk-wide doc_id range, watermark delay 0. The chunk width is
    * max([[TtlChunk]], ceil((max_id+1)/5)) — floored so the gate
    * corpus (500 docs) replays in exactly 5 chunks, and scaled so a
    * 10× corpus still replays in ~5 micro-batches instead of paying
    * 10× per-batch engine overhead (the bench corpus measured 35s in
    * 50 batches vs ~6s in 5; the oracle re-derives the same width via
    * a scalar subquery, so the two sides stay in lockstep at any SF).
    * Everything is deterministic, so the watermark while chunk c
    * processes is exactly max(doc_id of earlier chunks)·1000 + base —
    * and the operator's watermark-relative horizon reduces to pure
    * doc_id arithmetic the DuckDB oracle re-derives: pair (a, b)
    * survives iff a ≥ prevmax(chunk(b)) − [[TtlHorizonMs]]/1000. At
    * the gate corpus (5 chunks, 150 s horizon) that splits the batch
    * LSH pair set roughly in half — both aging-out and survival are
    * exercised, promoting the production memory bound from spec-only
    * to driver-graded.
    */
  val TtlChunk = 100L
  val TtlHorizonMs = 150L * 1000
  val TtlBaseMs = 1704067200000L // 2024-01-01T00:00:00Z

  /** ceil((maxId+1)/5) floored at [[TtlChunk]] — mirrored by the
    * oracle's `greatest(100, (max(doc_id)+5)//5)`.
    */
  def ttlChunkWidth(maxId: Long): Long =
    math.max(TtlChunk, (maxId + 5) / 5)

  def streamedNearDupPairsTtl(spark: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = spark
    // Replay HARNESS, not operator: batch boundaries (and therefore
    // watermark advancement) must be deterministic, so the gate corpus
    // is APPENDED to a temp-dir FILE source one doc_id-range chunk per
    // processAllAvailable — each chunk written by executors, never
    // collected to the driver (only the O(1) max(doc_id) scalar lands
    // driver-side to size the chunk width). The operator under the
    // gate (nearDupPairStreamTtl) is source-agnostic and unchanged;
    // ts derives from doc_id IN the stream transform, so the replay
    // files carry only (doc_id, text). A production deployment feeds
    // the same operator from a real source with real arrival times.
    val docs0 = graft.tables.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val maxId = Option(docs0.agg(max(col("doc_id"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val chunkW = ttlChunkWidth(maxId)
    val replayDir =
      graft.sources.Scratch.dir(spark, "stream_neardup_ttl_replay")
    // clean slate: the file source tracks files it has seen, and stale
    // files from a prior run would all land in chunk 0's batch
    val replayPath = new org.apache.hadoop.fs.Path(replayDir)
    val fs = replayPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(replayPath)) fs.delete(replayPath, true)
    fs.mkdirs(replayPath)
    val streamSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(streamSchema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(replayDir)
      .withColumn("ts", timestamp_millis(lit(TtlBaseMs) + col("doc_id") * lit(1000L)))
      .withWatermark("ts", "0 seconds")
    // widenStream above the watermark: each chunk is ONE file (the
    // atomic-append contract above), so the signature kernel otherwise
    // runs single-core per micro-batch; the banded rows re-shuffle to
    // the state partitions afterwards and per-bucket processing sorts
    // by doc_id, so emissions are unchanged
    val pairs = nearDupPairStreamTtl(widenStream(stream, narrow = true), TtlHorizonMs)
    Replay.run(pairs.toDF(), OutputMode.Append(),
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) { q =>
      var c = 0L
      while (c <= maxId / chunkW) {
        // ONE file per chunk: the running query polls the directory
        // continuously (processing-time trigger, no interval), and a
        // multi-file append is only atomic per FILE rename — a poll
        // landing mid-commit would split the chunk across two
        // micro-batches, advance the watermark mid-chunk, and flake
        // near-horizon pairs (surfaced when the widened corpus scan
        // made chunk writes 32-file). Batch boundaries ARE the replay's
        // semantics; they must not depend on the writer's partitioning.
        docs0.filter(col("doc_id") >= c * chunkW &&
            col("doc_id") < (c + 1) * chunkW)
          .coalesce(1)
          .write.mode("append").parquet(replayDir)
        q.processAllAvailable()
        c += 1
      }
    }.orderBy(col("id_a"), col("id_b"))
  }

  case class TimedBandedSig(bucket: String, band: Int, doc_id: Long,
      sig: Array[Long], ts: java.sql.Timestamp)
  case class TimedMember(doc_id: Long, sig: Array[Long], tsMs: Long)
  case class TimedBucketState(members: List[TimedMember])

  /** The PRODUCTION memory bound for the streaming near-dup join:
    * bucket members older than `horizonMs` of event time are aged out,
    * so state is "signatures seen in the last N days", not the whole
    * history — the same trade [[EventStreams.dedupStream]] makes for
    * exact dedup. A new arrival pairs only against in-horizon members;
    * eviction happens on every bucket invocation and, for quiet
    * buckets, on an event-time timeout at (newest member + horizon),
    * after which empty state is removed entirely.
    *
    * The caller supplies (doc_id, text, ts) WITH a watermark already
    * set on ts — the watermark is what drives both the eviction clock
    * and the timeouts.
    *
    * The horizon is WATERMARK-relative, not pairwise: a member is kept
    * iff its ts >= (current watermark - horizon) at the moment a new
    * arrival is processed, so whether two docs within `horizonMs` of
    * each other pair depends on how far the watermark had advanced
    * when the later one arrived — emissions near the horizon boundary
    * are batching/trigger-cadence-dependent. That is the standard
    * state-TTL contract (the pairwise-exact alternative would need
    * per-pair event-time bookkeeping the state store can't bound);
    * replay the same batch boundaries and the output is deterministic,
    * which is exactly what the gate harness and Round9OpsSpec do.
    */
  def nearDupPairStreamTtl(docs: DataFrame, horizonMs: Long)(
      implicit spark: SparkSession): Dataset[NearDupMatch] = {
    import spark.implicits._
    val r = Dedup.RowsPerBand
    val bandStructs = array((0 until Dedup.Bands).map { b =>
      val key = concat_ws("_",
        (0 until r).map(i => element_at(col("sig"), b * r + i + 1)): _*)
      struct(lit(b).as("band"), concat_ws("|", lit(b), key).as("bucket"))
    }: _*)
    val banded = docs
      .select(col("doc_id"), col("ts"),
        Dedup.minhashSignatureArray(col("text"), prodHash = false).as("sig"))
      .select(col("doc_id"), col("ts"), col("sig"), explode(bandStructs).as("bb"))
      .select(col("bb.bucket").as("bucket"), col("bb.band").as("band"),
        col("doc_id"), col("sig"), col("ts"))
      .as[TimedBandedSig]

    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[TimedBucketState, NearDupMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[TimedBandedSig], state: org.apache.spark.sql.streaming.GroupState[TimedBucketState]) =>
          val wm = state.getCurrentWatermarkMs()
          var members = state.getOption.map(_.members).getOrElse(Nil)
            .filter(_.tsMs >= wm - horizonMs)
          def park(): Unit =
            if (members.isEmpty) { if (state.exists) state.remove() }
            else {
              state.update(TimedBucketState(members))
              // wake when the newest member ages out (must stay ahead
              // of the current watermark or the engine rejects it)
              state.setTimeoutTimestamp(
                math.max(members.map(_.tsMs).max + horizonMs, wm + 1))
            }
          if (state.hasTimedOut) { park(); Iterator.empty }
          else {
            val out = List.newBuilder[NearDupMatch]
            rows.toSeq.sortBy(_.doc_id).foreach { a =>
              val aMs = a.ts.getTime
              if (aMs >= wm - horizonMs &&
                  !members.exists(_.doc_id == a.doc_id)) {
                members.foreach { m =>
                  if (firstSharedBand(a.sig, m.sig) == a.band) {
                    var eq = 0
                    var i = 0
                    while (i < a.sig.length) {
                      if (a.sig(i) == m.sig(i)) eq += 1
                      i += 1
                    }
                    val est = eq.toDouble / a.sig.length
                    if (est >= 0.5)
                      out += NearDupMatch(math.min(a.doc_id, m.doc_id),
                        math.max(a.doc_id, m.doc_id), est)
                  }
                }
                members = TimedMember(a.doc_id, a.sig, aMs) :: members
              }
            }
            park()
            out.result().iterator
          }
      }
  }

  /** Streaming BPE tokenization — the DEPLOYED-TOKENIZER shape: rules
    * are trained batch-side ([[graft.operators.Tokenizer.learnRules]],
    * the model artifact) and inlined as literals into a STATELESS
    * per-document projection over the arriving stream — token counting
    * is a pure function of (text, rules), so there is no join, no
    * state store, and no shuffle at all on the hot path (the per-doc
    * word fold runs inside the projection via array HOFs, never an
    * explode + re-aggregate). Append mode; a finite replay therefore
    * equals the batch computation and the query shares
    * q_bpe_tokenize's full DuckDB oracle. At 100 TB/day this is the
    * tokenizer-service dataflow: O(rules) broadcast state, scan-bound
    * throughput.
    */
  def streamedBpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    import graft.operators.Tokenizer
    val rules = Tokenizer.learnRules(spark, dir)
    val toks = TextFunctions.tokens(col("text"))
    val out = widenedDocs(spark, dir)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_words"),
        aggregate(toks, lit(0L),
          (acc, w) => acc + Tokenizer.tokenCountExpr(lower(w), rules))
          .as("n_tokens"))
      // the oracle's inner join drops token-free docs; match it
      .filter(col("n_words") > 0)
    Replay.run(out, OutputMode.Append())().orderBy(col("doc_id"))
  }

  /** Streaming winnowed-fingerprint ingest — the MOSS index fed by
    * arrivals: robust winnowing is a pure PER-DOCUMENT function
    * (hash positions, rightmost-min per window, distinct), so the
    * stream computes it as a STATELESS projection — the same two
    * codegen kernels as the batch operator (one Rabin-Karp pass for
    * the hashes, one monotonic-deque pass for the selections), no
    * state store, no shuffle. Each arrival emits its
    * ~2/(W+1)-density fingerprint rows
    * for the downstream near-dup index ([[streamedNearDupPairs]]' seam
    * at sublinear key volume); finite replay equals the batch
    * selection bit-for-bit, so the query shares q_winnow's oracle.
    */
  def streamedWinnow(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis.{WinnowK, WinnowW}
    val k = WinnowK
    val w = WinnowW
    val out = widenedDocs(spark, dir)
      .filter(length(col("text")) >= k + w - 1)
      .withColumn("hs",
        graft.functions.TextFunctions.rollingWindowFingerprint(col("text"), k))
      .select(col("doc_id"), col("hs"),
        explode(org.apache.spark.sql.graft.ArrayMathExpressions
          .winnowSelectCol(col("hs"), w)).as("pos"))
      .select(col("doc_id"), col("pos"),
        element_at(col("hs"), col("pos").cast("int")).as("fp"))
    Replay.run(out, OutputMode.Append())().orderBy(col("doc_id"), col("pos"))
  }

  /** Streaming multimodal ingest — the deployed-DECODER shape: each
    * arriving document's image is REALLY decoded (JDK ImageIO) and
    * perceptual-hashed inside a STATELESS streaming projection (typed
    * mapPartitions — per-row pure function, no state, no shuffle), the
    * dataflow of a media-ingest service fingerprinting arrivals for
    * near-dup lookup. Append mode; finite replay = the batch
    * computation, so it shares q_image_ahash's DuckDB oracle (which
    * re-derives the bits from the closed-form pixels while this path
    * exercises the actual codec on the stream).
    */
  def streamedImageAhash(spark: SparkSession, dir: String): DataFrame =
    Replay.run(Multimodal.ahashOf(spark, widenedDocs(spark, dir)),
      OutputMode.Append())().orderBy(col("doc_id"))

  /** Streaming acoustic-fingerprint ingest — the audio twin of
    * [[streamedImageAhash]]: each arriving clip is synthesized, REALLY
    * RIFF-parsed, and energy-fingerprinted in the same stateless
    * streaming projection shape (typed mapPartitions, no state, no
    * shuffle). Finite replay = the batch computation, so it shares
    * q_audio_fingerprint's DuckDB oracle (closed-form samples on the
    * oracle side, the actual chunk-walk parser on the stream side).
    */
  def streamedAudioFingerprint(spark: SparkSession, dir: String): DataFrame =
    Replay.run(Multimodal.audioFingerprintOn(spark, widenedDocs(spark, dir)),
      OutputMode.Append())().orderBy(col("doc_id"))

  /** The WIDE 64-frame fingerprint's deployed-decoder twin — the same
    * stateless streaming projection over
    * [[graft.operators.Multimodal.RealCodecs.fingerprintWavWide]], so
    * the bandable acoustic key a near-dup index ingests is proven
    * identical whether computed batch or at arrival time (finite
    * replay == batch on q_audio_fingerprint_wide's shared oracle).
    */
  def streamedAudioFingerprintWide(spark: SparkSession, dir: String): DataFrame =
    Replay.run(Multimodal.audioFpWideOf(spark, widenedDocs(spark, dir)),
      OutputMode.Append())().orderBy(col("doc_id"))

  /** STREAMING delta visual near-dup — the SERVING shape of
    * [[graft.operators.Multimodal.deltaNeardupFromHashes]]: new images
    * arrive as a stream (the mod-10 ingest batch of the delta family),
    * are decoded + perceptually hashed in a stateless projection, and
    * probe the STORED corpus's band index through a stream-STATIC
    * equi-join — each arrival's near-dups against everything already
    * ingested, emitted the moment it lands. NO state store at all: the
    * dedup decision against a frozen corpus is a pure per-row function,
    * so (unlike [[streamedNearDupPairs]], which must accumulate state
    * to pair arrivals with EACH OTHER) this query is watermark-free and
    * its output is independent of micro-batch boundaries — which is
    * exactly why a finite replay is value-identical to the batch delta
    * operator restricted to new-vs-existing pairs and shares its
    * oracle restriction.
    *
    * Band-collision dedup WITHOUT a stateful distinct: a pair sharing
    * k of the 4 bands would emit k times from the join, so rows are
    * kept only when the joined band is the pair's FIRST shared band —
    * a closed-form predicate on the XOR halves (16-bit field j is zero
    * iff band j agrees), the [[firstSharedBand]] idea as one codegen
    * CASE instead of a shuffle.
    */
  def streamedDeltaImageNeardup(spark: SparkSession, dir: String): DataFrame = {
    // the stored side: the materialized corpus hash table's base split
    val base = Multimodal.ahashTable(spark, dir)
      .filter(col("doc_id") % 10 < 8)
    // the arrival side: stateless decode + hash
    val arrivals = Multimodal.ahashOf(spark,
      widenedDocs(spark, dir).filter(col("doc_id") % 10 >= 8))
    streamedDeltaBandProbe(base, arrivals)
  }

  /** The acoustic twin: new clips stream in, fingerprint at arrival
    * ([[graft.operators.Multimodal.RealCodecs.fingerprintWavWide]] —
    * the bandable wide key), and probe the stored base fingerprints'
    * band index through the SAME stream-static engine — a probe/dedup
    * fix in either modality serves both (the deltaAudioNeardup
    * discipline at serving time). Shares the batch audio delta's
    * oracle restricted to the new-vs-existing cut.
    */
  def streamedDeltaAudioNeardup(spark: SparkSession, dir: String): DataFrame = {
    def asAhash(fps: DataFrame): DataFrame =
      fps.select(col("doc_id"), col("afp_hi").as("ahash_hi"),
        col("afp_lo").as("ahash_lo"))
    val base = asAhash(Multimodal.audioFpWideTable(spark, dir)
      .filter(col("doc_id") % 10 < 8))
    val arrivals = asAhash(Multimodal.audioFpWideOf(spark,
      widenedDocs(spark, dir).filter(col("doc_id") % 10 >= 8)))
    streamedDeltaBandProbe(base, arrivals)
  }

  /** The shared stream-static probe: band the stored base hashes once
    * (doc_id riding the index rows), band each arrival statelessly,
    * equi-join, first-shared-band dedup, popcount cut — one engine for
    * every 2×32-bit modality key, the
    * [[graft.operators.Multimodal.deltaNeardupFromHashes]] discipline
    * at serving time. `base` and `arrivals` both carry
    * (doc_id, ahash_hi, ahash_lo); only the hash PRODUCER differs per
    * modality.
    */
  private def streamedDeltaBandProbe(base: DataFrame,
      arrivals: DataFrame): DataFrame = {
    val index = Multimodal.bands4(base
        .select(col("doc_id").as("base_id"), col("ahash_hi"),
          col("ahash_lo")))
      .select(col("base_id"), col("ahash_hi").as("base_hi"),
        col("ahash_lo").as("base_lo"), col("cb"), col("kv"))
      .localCheckpoint() // built once, probed by every micro-batch
    val banded = Multimodal.bands4(arrivals)
    val xhi = col("ahash_hi").bitwiseXOR(col("base_hi"))
    val xlo = col("ahash_lo").bitwiseXOR(col("base_lo"))
    val firstShared =
      when(xlo.bitwiseAND(lit(65535L)) === 0L, 0L)
        .when(shiftright(xlo, 16).bitwiseAND(lit(65535L)) === 0L, 1L)
        .when(xhi.bitwiseAND(lit(65535L)) === 0L, 2L)
        .otherwise(3L) // the join guarantees SOME band agrees
    val out = banded.join(index, Seq("cb", "kv"))
      .filter(col("cb") === firstShared)
      .withColumn("dist", (expr("bit_count(ahash_hi ^ base_hi)") +
        expr("bit_count(ahash_lo ^ base_lo)")).cast("long"))
      .filter(col("dist") <= Multimodal.ImageNeardupMaxDist)
      .select(least(col("doc_id"), col("base_id")).as("id_a"),
        greatest(col("doc_id"), col("base_id")).as("id_b"), col("dist"))
    Replay.run(out, OutputMode.Append())().orderBy(col("id_a"), col("id_b"))
  }

  /** Smallest band index on which two signatures fully agree (exists for
    * any two co-members of a bucket — they agree on that bucket's band
    * by construction).
    */
  private def firstSharedBand(a: Array[Long], b: Array[Long]): Int = {
    val r = Dedup.RowsPerBand
    var band = 0
    while (band < Dedup.Bands) {
      var i = band * r
      val end = i + r
      while (i < end && a(i) == b(i)) i += 1
      if (i == end) return band
      band += 1
    }
    -1
  }
}
