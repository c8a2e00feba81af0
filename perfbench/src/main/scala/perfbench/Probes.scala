package perfbench

import graft.mapreduce.MapReduceJob
import graft.operators.Dedup
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{ArrayMathExpressions, HashExpressions, MinhashExpressions, TextShingleExpressions}
import org.apache.spark.unsafe.types.UTF8String

/** Layer probes of the traced run: direct calls into the `functions`
  * kernels, the three `MapReduceJob` lowerings and the `Tables` scans,
  * all on the run's generated inputs. */
final class Probes(spark: SparkSession, data: String, tracer: Tracer) {
  import spark.implicits._

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  @volatile private var sink = 0L

  /** ns per call of `f` over inputs 0 until n: three untimed rounds for
    * the JIT, then the median of seven timed rounds. */
  private def nsPerCall(name: String, n: Int)(f: Int => Long): (String, Double) = {
    def round(): Long = {
      var acc = 0L
      var i = 0
      val t0 = System.nanoTime()
      while (i < n) { acc += f(i); i += 1 }
      val dt = System.nanoTime() - t0
      sink += acc
      dt
    }
    (1 to 3).foreach(_ => round())
    var ns = Seq.empty[Double]
    tracer.unit(s"kernel.$name")(_ => ns = (1 to 7).map(_ => round().toDouble / n))
    s"functions.${name}_ns" -> median(ns)
  }

  def kernels(): Map[String, Double] = {
    val texts = Tables.documents(spark, data).select("text").as[String].collect()
      .map(t => UTF8String.fromString(t.trim.toLowerCase))
    val n = texts.length
    val sets = texts.map(TextShingleExpressions.shingleHashSet(_, Dedup.ShingleK))
    val tfs: Array[ArrayData] = texts.map { t =>
      val counts = t.toString.split(" ").groupBy(_.hashCode.toLong).map { case (k, v) => k -> v.length.toLong }
      new GenericArrayData(counts.toSeq.sortBy(_._1).flatMap { case (k, c) => Seq(k, c) }.toArray)
    }
    val vecs = Tables.embeddings(spark, data).select("embedding").as[Array[Float]].collect()
    val packed = vecs.map { v =>
      val scale = v.map(x => math.abs(x.toDouble)).max / 127.0
      ArrayMathExpressions.int8Pack(ArrayData.toArrayData(v), scale)
    }
    val other = (i: Int, m: Int) => (i * 7 + 1) % m
    Seq(
      nsPerCall("minhash_sig", n)(i => MinhashExpressions.minhashSig(texts(i), Dedup.ShingleK, false).numElements()),
      nsPerCall("shingle_hash_set", n)(i => TextShingleExpressions.shingleHashSet(texts(i), Dedup.ShingleK).numElements()),
      nsPerCall("sorted_intersect", n)(i => TextShingleExpressions.sortedIntersectSize(sets(i), sets(other(i, n)))),
      nsPerCall("sorted_tf_dot", n)(i => TextShingleExpressions.sortedTfDot(tfs(i), tfs(other(i, n)))),
      nsPerCall("rolling_window_hash", n)(i => ArrayMathExpressions.rollingWindowHash(texts(i), 8, 31L, 1000000007L).numElements()),
      nsPerCall("md5_prefix32", n)(i => HashExpressions.md5Prefix32(texts(i))),
      nsPerCall("int8_dot", packed.length)(i => ArrayMathExpressions.int8Dot(packed(i), packed(other(i, packed.length))))
    ).toMap
  }

  /** Median wall seconds and shuffle MB of `reps` traced runs of `body`. */
  private def timed(name: String, reps: Int)(body: => Unit): Map[String, Double] = {
    val runs = (1 to reps).map { _ =>
      val (s, c) = tracer.unit(name)(_ => body)
      ((s.end - s.start) / 1e3, c.shuffleWrite / 1e6)
    }
    Map(s"${name}_s" -> median(runs.map(_._1)), s"${name}_shuffle_mb" -> median(runs.map(_._2)))
  }

  /** The three lowerings of the reference word count on the generated
    * corpus; run and run_reduce differ only by the map-side combiner. */
  def mapreduce(): Map[String, Double] = {
    val texts = Tables.documents(spark, data).select("text").as[String]
    val mapper = (content: String) => content.split("[^a-zA-Z]").iterator
      .filter(_.nonEmpty).map(w => (w.toUpperCase, 1L))
    timed("mapreduce.run", 3)(noop(MapReduceJob[String, String, Long, Long](
      mapper, (_, vs) => vs.sum).run(texts).toDF())) ++
    timed("mapreduce.run_reduce", 3)(noop(MapReduceJob.runReduce[String, String, Long](
      texts, mapper, _ + _).toDF())) ++
    timed("mapreduce.rdd_reduce", 3)(MapReduceJob.runRddReduce[String, String, Long](
      texts.rdd, mapper, _ + _).count())
  }

  def tables(): Map[String, Double] =
    Seq("documents" -> (() => Tables.documents(spark, data)),
        "lineitem" -> (() => Tables.lineitem(spark, data))).flatMap { case (t, load) =>
      timed(s"tables.${t}_scan", 5)(noop(load())).filter(_._1.endsWith("_s"))
    }.toMap
}
