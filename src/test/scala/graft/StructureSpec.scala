package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-structure guard over `src/main`: sessions are built in one
  * place ([[LocalSession.build]]) and no state is keyed by an identity
  * hash (session state lives in [[graft.sources.Scratch.once]]).
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

  test("no state keyed by an identity hash") {
    val sites = sitesOf("""System\s*\.identityHashCode\b""")
    assert(sites.isEmpty, sites)
  }
}
