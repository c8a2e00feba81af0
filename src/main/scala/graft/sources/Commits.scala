package graft.sources

import org.apache.spark.sql.SparkSession

/** The commit chain of a maintained index: a stored prefix of the
  * corpus cut into ordered, write-once ingest commits (the paper's
  * task outputs, each rebuildable from its own input range), with
  * folds over a chain stored as one more slot. One builder serves
  * every chained family — BM25, winnow, lexical cosine and IVF — and
  * each family supplies only how one range's commit is written.
  */
object Commits {

  /** Build the chain cut at `cuts` over the input `table` of `dir`:
    * `cuts` are bucket boundaries in tenths, increasing within 1..10
    * (10 = the whole corpus stored), and each range `[lo, hi)` of
    * `0 +: cuts` is one [[Scratch.slotOnce]] slot named from `family`
    * and the range, so chains sharing a prefix share its commits.
    * `write(lo, hi, path)` writes one range's commit — the family
    * filters its own split (doc_id mod 10, md5 bucket, vec_id range).
    * Ranges are disjoint, so they build concurrently
    * ([[Scratch.inParallel]]). Returns the commit paths in order.
    */
  def chain(spark: SparkSession, dir: String, table: String, family: String,
      cuts: Seq[Int])(write: (Int, Int, String) => Unit): Seq[String] = {
    requireCuts(cuts)
    Scratch.inParallel((0 +: cuts).zip(cuts).map { case (lo, hi) =>
      () => Scratch.slotOnce(spark, dir, table, s"${family}_$lo-$hi")(write(lo, hi, _))
    }: _*)
  }

  def requireCuts(cuts: Seq[Int]): Unit =
    require(cuts.nonEmpty && cuts.head > 0 && cuts.last <= 10 &&
        cuts.zip(cuts.tail).forall { case (a, b) => a < b },
      s"commit cuts must increase within 1..10 (tenths of the corpus): $cuts")

  /** Slot of a fold over the chain cut at `cuts` (`what` names the
    * fold: a compaction, a retraction).
    */
  def foldSlot(family: String, cuts: Seq[Int], what: String): String =
    s"${family}_cuts${cuts.mkString("_")}_$what"
}
