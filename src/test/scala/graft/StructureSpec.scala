package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-structure guard over `src/main`: sessions are built in one
  * place ([[LocalSession.build]]), planner strategies are installed in
  * one place ([[graft.plan.OutputSort.install]]), stored IVF layouts are read
  * cell-pruned in one place (`Similarity.prunedLayouts`), no state is
  * keyed by an identity hash (session state lives in
  * [[graft.sources.Scratch.once]]), and operators store artifacts only
  * through the slot policy and the commit chain
  * ([[graft.sources.Scratch.slotOnce]], [[graft.sources.Commits.chain]]),
  * every operator has one code path: no switch turns its pins off
  * (plan audits read the pins' executed plans, [[graft.plan.PinPlans]]),
  * every query is named once, in the one registry that pairs its
  * builder with its oracle ([[SparkEntry]]), every streaming query
  * runs through the one finite-replay runner
  * ([[graft.streaming.Replay]]), which alone picks the checkpoint file
  * manager and the stream's artifact isolation, session conf changes only inside the
  * one conf window ([[LocalSession.withConf]]), and an operator value
  * with one setting in use is a named constant, not a parameter.
  */
class StructureSpec extends AnyFunSuite {
  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private def sitesOf(pattern: String): Seq[String] = {
    val re = pattern.r.unanchored
    sources.flatMap { case (p, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (re(), i) => s"$p:${i + 1}"
      }
    }
  }

  test("exactly one SparkSession builder call site") {
    val sites = sitesOf("""SparkSession\s*\.builder\b""")
    assert(sites.size === 1, sites)
  }

  test("one cell-pruned IVF read in Similarity") {
    val sites = sitesOf("""col\("cell"\)\.isin\b""").filter(_.contains("Similarity.scala"))
    assert(sites.size === 1, sites)
  }

  test("exactly one planner-strategy install site") {
    val sites = sitesOf("""experimental\s*\.\s*extraStrategies\s*=(?!=)""")
    assert(sites.size === 1, sites)
  }

  test("no pin-off switch: one code path per operator, no unpinned twin queries") {
    val switches = sitesOf("""checkpoint\s*:\s*Boolean|if\s*\(\s*checkpoint\s*\)""")
    assert(switches.isEmpty, switches)
    val twins = sitesOf(""""x_\w+"""").filter(_.contains("ExplainOne.scala"))
    assert(twins.isEmpty, twins)
  }

  test("one query registry: SparkEntry names each query once") {
    val keys = sitesOf("""^\s*"q_\w+"\s*->""").filter(_.contains("SparkEntry.scala"))
    assert(keys.size === SparkEntry.queries.size, keys.take(5))
  }

  test("one stream runner: memory sinks, triggers and replay waits live in Replay") {
    val sites = sitesOf("""format\("memory"\)|awaitTermination|\.trigger\(""")
      .filterNot(_.contains("streaming/Replay.scala"))
    assert(sites.isEmpty, sites)
    val window = sitesOf("""StreamConf|withStatePartitions""")
    assert(window.isEmpty, window)
    // the checkpoint file manager and the clone's artifact isolation
    // are the runner's choices, made in its conf window
    val replayConf = sitesOf("""checkpointFileManagerClass|artifact\.isolation""")
    assert(replayConf.nonEmpty &&
      replayConf.forall(_.contains("streaming/Replay.scala")), replayConf)
  }

  test("no state keyed by an identity hash") {
    val sites = sitesOf("""System\s*\.identityHashCode\b""")
    assert(sites.isEmpty, sites)
  }

  test("operators store artifacts only through input-keyed slots and the commit chain") {
    def inOperators(pattern: String) =
      sitesOf(pattern).filter(_.contains("graft/operators/"))
    // a raw write-once guard or a directory-only slot key bypasses the
    // input fingerprint
    val rawOnce = inOperators("""materializeOnce\(""")
    assert(rawOnce.isEmpty, rawOnce)
    val dirKeyed = inOperators("""corpusDir\(""")
    assert(dirKeyed.isEmpty, dirKeyed)
    // hand-named commit and compaction directories belong to Commits.chain
    // and Commits.foldSlot
    val commitPaths = inOperators("""\$root/(?:c\d|compacted)""")
    assert(commitPaths.isEmpty, commitPaths)
    // and the closure families' signature and label tables to the chain
    // and its Scratch.storedOnce fold steps
    val closurePaths =
      inOperators("""\$root/(?:sig_c\d|labels_\d)|"cc_multi_|"delta_base_pairs_txt"""")
    assert(closurePaths.isEmpty, closurePaths)
  }

  test("one conf window: session conf is set and unset only in LocalSession.withConf") {
    val sites = sitesOf("""conf\.(?:set|unset)\(""")
      .filterNot(_.contains("graft/LocalSession.scala"))
    assert(sites.isEmpty, sites)
  }

  test("one value, one constant: no operator parameter a single value would fill") {
    val probes = sitesOf("""\bprobes\s*:\s*Int""")
    assert(probes.isEmpty, probes)
    // parameters whose only value in use became a named constant
    val removed = Seq(
      "operators/Similarity.scala" -> Seq("probes", "threshold"),
      "operators/Dedup.scala" -> Seq("threshold", "maxCandPerDoc"),
      "operators/Multimodal.scala" -> Seq("frames"),
      "operators/TextAnalysis.scala" -> Seq("budget", "shards", "chunkSize", "stride"),
      "operators/Pipeline.scala" -> Seq("budget", "shards", "maxContamination"),
      "operators/Skew.scala" -> Seq("salt"),
      "streaming/EmbeddingStreams.scala" -> Seq("threshold"),
      "streaming/EventStreams.scala" -> Seq("dur", "delay", "gap", "gapMs", "window"),
      "sources/TextSources.scala" -> Seq("glob"))
    removed.foreach { case (file, names) =>
      val param = s"""\\b(?:${names.mkString("|")})\\s*:\\s*[\\w\\[\\]., ]+?=(?![=>])"""
      val defaulted = sitesOf(param).filter(_.contains(s"graft/$file:"))
      assert(defaulted.isEmpty, defaulted)
    }
  }
}
