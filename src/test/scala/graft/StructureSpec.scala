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
  * builder with its oracle ([[SparkEntry]]), and every streaming query
  * runs through the one finite-replay runner
  * ([[graft.streaming.Replay]]).
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
  }
}
