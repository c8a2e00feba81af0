package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.sources.Scratch
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink coverage (SURVEY.md §2.2 scans/sinks row): every
  * DataFrameWriter format round-trips losslessly with an explicit read
  * schema — the generalization of the reference's single text-dir
  * source/append-text sink (reference worker.ex:105-150).
  */
class SourcesSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private def sample = Tables.lineitem(spark, sfDir)
    .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
    .limit(500)

  private def roundTrip(fmt: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$fmt").toString
    val df = sample
    df.write.mode("overwrite").format(fmt).save(s"$dir/out")
    val schema: StructType = df.schema
    val back = spark.read.format(fmt).schema(schema).load(s"$dir/out")
    assert(back.count() === df.count())
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
      s"$fmt round-trip not lossless")
  }

  test("parquet round-trip")(roundTrip("parquet"))
  test("csv round-trip")(roundTrip("csv"))
  test("json round-trip")(roundTrip("json"))
  test("orc round-trip")(roundTrip("orc"))

  test("text sink reproduces the reference's output-line format") {
    // reference worker.ex:137: "#{key} #{count}\n"
    val dir = java.nio.file.Files.createTempDirectory("graft-text").toString
    graft.operators.TextAnalysis.wordCount(spark, sfDir)
      .select(concat_ws(" ", $"word", $"cnt").as("value"))
      .coalesce(1).write.mode("overwrite").text(s"$dir/out")
    val back = spark.read.text(s"$dir/out").as[String].collect()
    assert(back.nonEmpty)
    assert(back.forall(_.matches("[A-Z]+ \\d+")))
  }

  test("partitioned sink prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables.orders(spark, sfDir)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(s"$dir/out")
    val pruned = spark.read.parquet(s"$dir/out").filter($"o_orderstatus" === "O")
    val scanned = pruned.queryExecution.executedPlan.toString
    assert(!scanned.contains("o_orderstatus=F"),
      "partition F should be pruned from the scan")
    assert(pruned.count() ===
      Tables.orders(spark, sfDir).filter($"o_orderstatus" === "O").count())
  }

  // Scratch.once, the session memo behind materializeOnce / readParquetOnce
  private def freshKey(tag: String): String = s"memo-spec-$tag-${System.nanoTime()}"

  test("materializeOnce: racing first callers share one build and both return after it") {
    val key = freshKey("race")
    val builds = new AtomicInteger(0)
    @volatile var finished = false
    val inBuild, release = new CountDownLatch(1)
    val sawFinished = new ConcurrentLinkedQueue[Boolean]()
    def caller(): Thread = {
      val t = new Thread(() => {
        Scratch.materializeOnce(spark, key) {
          builds.incrementAndGet(); inBuild.countDown(); release.await(); finished = true
        }
        sawFinished.add(finished)
      })
      t.start(); t
    }
    val first = caller()
    assert(inBuild.await(30, TimeUnit.SECONDS))
    val second = caller()
    Thread.sleep(200)
    assert(second.isAlive, "the second caller must wait behind the first build")
    release.countDown()
    first.join(); second.join()
    assert(builds.get === 1)
    assert(sawFinished.asScala.toList === List(true, true))
  }

  test("materializeOnce: unrelated keys do not serialise") {
    val otherDone = new CountDownLatch(1)
    val inBuild = new CountDownLatch(1)
    @volatile var sawOther = false
    val t = new Thread(() => Scratch.materializeOnce(spark, freshKey("slow")) {
      inBuild.countDown(); sawOther = otherDone.await(30, TimeUnit.SECONDS)
    })
    t.start()
    assert(inBuild.await(30, TimeUnit.SECONDS))
    Scratch.materializeOnce(spark, freshKey("fast"))(otherDone.countDown())
    t.join()
    assert(sawOther)
  }

  test("materializeOnce: a build that throws runs again on the next call") {
    val key = freshKey("throw")
    var runs = 0
    intercept[IllegalStateException] {
      Scratch.materializeOnce(spark, key) { runs += 1; throw new IllegalStateException("boom") }
    }
    Scratch.materializeOnce(spark, key) { runs += 1 }
    Scratch.materializeOnce(spark, key) { runs += 1 }
    assert(runs === 2)
  }

  test("readParquetOnce: memoized per session, a new session reads its own frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toString + "/t"
    spark.range(3).write.parquet(dir)
    val parent = Scratch.readParquetOnce(spark, dir)
    assert(Scratch.readParquetOnce(spark, dir) eq parent)
    val child = spark.newSession()
    val df = Scratch.readParquetOnce(child, dir)
    assert(df.sparkSession eq child)
    assert(Scratch.readParquetOnce(child, dir) eq df)
    assert(df.count() === 3)
  }
}
