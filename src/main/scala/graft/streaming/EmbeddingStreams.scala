package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.functions.VectorFunctions.sqDistD
import graft.operators.Similarity

/** Streaming surface over embeddings-shaped data: the model-serving
  * half of the clustering pipeline — a batch-fitted model scores
  * unbounded arrivals, the classic "train offline, assign online"
  * split (the same batch/streaming seam as
  * [[DocumentStreams.streamedMinhashSignatures]]: scoring is a pure
  * per-row function once the model is data).
  */
object EmbeddingStreams {

  /** Corpus replay through the streaming FILE source — the same
    * executor-side ingest as [[DocumentStreams.streamedDocs]]; the
    * driver never holds a row, so the gate harness survives a 100×
    * embeddings table unchanged. The declared schema is the fixture's
    * own, read from its footer once per session.
    */
  private def embeddingStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(graft.tables.Tables.schemaOf(spark, s"$dir/embeddings.parquet"))
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
      .select(col("vec_id"), col("embedding"))

  /** Assign each (vec_id, embedding) row to its nearest fitted centroid,
    * the `(cid, centroid)` model rows carried as k·dim plan LITERALS
    * (bounded model state). The batch assignment verbatim: quantize to
    * longs at 2^20 and back to exact doubles, then the codegen sqDistD
    * argmin with min(struct) tie-break by (d, cid). Adds `cluster` and
    * `dist` to the vec_id and embedding columns.
    */
  private def assignNearest(vecs: DataFrame, model: Array[Row]): DataFrame = {
    val centArr = array(model.map { r =>
      struct(lit(r.getLong(0)).as("cid"),
        array(r.getSeq[Double](1).map(lit(_)): _*).as("cent"))
    }: _*)
    vecs
      .withColumn("xv", transform(col("embedding"),
        v => round(v.cast("double") * Similarity.KmeansScale, 0).cast("long")
          .cast("double") / Similarity.KmeansScale))
      .withColumn("m", array_min(transform(centArr,
        c => struct(sqDistD(col("xv"), c.getField("cent")).as("d"),
          c.getField("cid").as("cid")))))
      .select(col("vec_id"), col("embedding"),
        col("m.cid").as("cluster"), round(col("m.d"), 6).as("dist"))
  }

  /** Streaming k-means assignment: arrivals score against the
    * batch-fitted [[Similarity.kmeansCentroids]] model, carried as
    * k·dim LITERALS in the plan (model state, not a join side — the
    * broadcast-free degenerate of a stream-static join). Each arrival
    * is one stateless per-row argmin over the literal centroid array
    * (the codegen sqDistD kernel per element, min(struct) tie-break by
    * (d, cid) — bit-identical to the batch [[Similarity.kmeansAssignOn]]
    * assignment), so the query runs APPEND mode with ZERO state rows:
    * the production shape, no watermark, no state store growth,
    * unbounded throughput. Finite replay therefore equals the batch
    * assignment, and the query shares q_kmeans' Lloyd-chain oracle
    * (minus the global size aggregate, which is a batch-side concept —
    * a streaming count per cluster would need Complete-mode state).
    */
  def streamedKmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    // k·dim Lloyd centroids: bounded MODEL state (the one legitimate
    // driver-side materialization — O(k·dim) doubles, never the corpus).
    val model = Similarity.kmeansCentroids(spark,
      graft.tables.Tables.embeddings(spark, dir)).collect()
    val assigned = assignNearest(embeddingStream(spark, dir), model)
      .select(col("vec_id"), col("cluster"), col("dist"))
    Replay.run(assigned, OutputMode.Append())()
      .orderBy(col("vec_id")).localCheckpoint()
  }

  /** Streaming delta-SemDeDup — the SERVING shape of the incremental
    * semantic-dedup family ([[Similarity.deltaSemDedup]]'s twin, the
    * q_stream_image_neardup_delta discipline on embeddings): new
    * vectors stream in, are assigned statelessly against the stored
    * centroid LITERALS (the [[streamedKmeansAssign]] kernel), and each
    * arrival is adjudicated against the FROZEN stored decision table
    * through one stream-STATIC equi-join on its cluster — APPEND mode,
    * ZERO state rows, no watermark; the decision against a frozen
    * store is a pure per-row function, so output is independent of
    * micro-batch boundaries.
    *
    * At serving each arrival is its own batch of one, so there are no
    * intra-batch pairs to adjudicate: rank counts STORED members above
    * (1 + |stored above|) and `kept` drops on a cosine hit against a
    * stored member ranked above — the batch delta operator's
    * vs-stored half exactly (its batch-internal terms vanish at batch
    * size 1). Two static shapes, each sized for what it carries:
    * the EMBEDDING-bearing member table stays ROW-PER-MEMBER (the
    * production-scale shape — a cluster's vectors never concentrate
    * into one row), and `kept` resolves through a left-semi /
    * left-anti stream-static join pair against it (drop iff an
    * above-member cosine-hits — stateless, Append-safe, no stream
    * aggregation); only the 16-byte-per-member (dist, vec_id) RANK
    * DIGEST pre-aggregates per cluster (one array row per cluster —
    * ~16 KB at the production target_cluster_size ≈ 1k, where the
    * round-19 shape concentrated full embeddings and went
    * corpus-proportional). Finite replay is re-derived end-to-end by
    * the DuckDB oracle (the delta chain with the comparison side
    * restricted to base).
    */
  def streamedDeltaSemDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine

    val (centsDf, storedBase, b) = Similarity.semdedupStoredState(spark, dir)
    // static side 1 — the RANK DIGEST: per cluster, its frozen
    // members' (dist, vec_id) only (16 bytes/member; the sort is
    // presentation-stable only, the fold is order-independent)
    val rankDigest = storedBase
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(sort_array(collect_list(struct(col("dist"), col("vec_id"))))
        .as("ds"))
    // static side 2 — the embedding-bearing members ROW-PER-MEMBER:
    // the cosine adjudication joins this shape, so cluster vectors
    // never concentrate into a single row
    val memberRows = storedBase
      .select(col("cluster").cast("long").as("cluster"),
        col("dist").as("m_dist"), col("vec_id").as("m_vid"),
        col("embedding").as("m_emb"))

    // k·dim fitted centroids as plan literals (bounded model state)
    val assigned = assignNearest(
      embeddingStream(spark, dir).filter(col("vec_id") >= b), centsDf.collect())

    // `stored member above this arrival` in the SemDeDup order
    def above(m: Column): Column =
      (m.getField("dist") > col("dist")) ||
        (m.getField("dist") === col("dist") &&
          m.getField("vec_id") < col("vec_id"))
    val ds = coalesce(col("ds"),
      array().cast("array<struct<dist:double,vec_id:bigint>>"))
    val ranked = assigned
      .join(rankDigest, Seq("cluster"), "left")
      .select(col("vec_id"), col("embedding"), col("cluster"), col("dist"),
        (lit(1L) + size(filter(ds, m => above(m))).cast("long")).as("rank"))
    // kept via a semi/anti join PAIR against the row-per-member table
    // (each arrival lands in exactly one branch — stateless
    // stream-static joins, no streaming aggregation): drop iff some
    // above-member cosine-hits
    val hit = col("cluster") === col("m_cluster") &&
      ((col("m_dist") > col("dist")) ||
        (col("m_dist") === col("dist") && col("m_vid") < col("vec_id"))) &&
      round(cosine(col("m_emb"), col("embedding")), 6) >= Similarity.SemDedupThreshold
    val mr = memberRows.withColumnRenamed("cluster", "m_cluster")
    val out = Seq(col("vec_id"), col("cluster"), col("rank"))
    val decided = ranked.join(mr, hit, "left_semi")
      .select(out :+ lit(0L).as("kept"): _*)
      .unionByName(ranked.join(mr, hit, "left_anti")
        .select(out :+ lit(1L).as("kept"): _*))

    Replay.run(decided, OutputMode.Append())()
      .orderBy(col("vec_id")).localCheckpoint()
  }
}
