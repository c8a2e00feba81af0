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

  test("inParallel: the first failure cancels a sibling's running Spark job") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Scratch.inParallel(
        () => throw new IllegalStateException("boom"),
        // 4 tasks of 200 rows at 50 ms a row: 10 s uncancelled
        () => sc.parallelize(1 to 800, 4).map { i => Thread.sleep(50); i }.count())
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage === "boom")
    assert(secs < 5, f"rethrown after $secs%.1f s: the sibling's job ran on")
    assert(sc.parallelize(1 to 4, 2).count() === 4)
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

  // Tables.schemaOf: each source table's schema is inferred once per
  // session and file version; every load is still a fresh scan.

  test("schemaOf: a query's first build infers each table it reads once; a rebuild runs no job") {
    val s = spark.newSession()
    assert(jobsIn(s)(SparkEntry.queries("q_tpch_q5")(s, sfDir)) === 6)
    assert(jobsIn(s)(SparkEntry.queries("q_tpch_q5")(s, sfDir)) === 0)
  }

  test("schemaOf: a table rewritten inside the session is read with its new schema and rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite")
    val table = dir.resolve("orders.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/orders.parquet"), table)
    val before = Tables.orders(spark, dir.toString)
    val n = before.count()
    val subset = dir.resolve("subset").toString
    before.filter($"o_orderkey" % 3 === 0).withColumn("o_extra", lit(1))
      .coalesce(1).write.parquet(subset)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(subset)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(part, table, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val after = Tables.orders(spark, dir.toString)
    assert(!before.columns.contains("o_extra"))
    assert(after.columns.last === "o_extra")
    assert(after.count() === Tables.orders(spark, sfDir).filter($"o_orderkey" % 3 === 0).count())
    assert(after.count() < n)
  }

  test("events: a TIMESTAMP(NANOS) inference failure surfaces as the conf hint and is not memoized") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try (1 to 3).foreach(i => w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", i.toLong).append("ts", i * 1500L)))
    finally w.close()
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[IllegalArgumentException](Tables.events(s, dir))
    assert(e.getMessage.contains("nanosAsLong"))
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val micros = Tables.events(s, dir).orderBy($"event_id")
      .select(unix_micros($"ts")).as[Long].collect().toSeq
    assert(micros === Seq(1L, 3L, 4L))
  }

  test("documentsNarrow: a corpus rewritten inside the session gets a new widen decision") {
    // the floor's width is pinned, so only the rewrite can change the decision
    val s = spark.newSession()
    s.conf.set("spark.graft.scan.widenPartitions", "2")
    val dir = java.nio.file.Files.createTempDirectory("graft-renarrow").toString
    val docs = Tables.load(s, sfDir, "documents")
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    assert(Tables.documentsNarrow(s, dir), "one file plans one split: narrow")
    docs.repartition(16).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(!Tables.documentsNarrow(s, dir), "sixteen files plan several splits: not narrow")
    assert(Tables.documents(s, dir).count() === docs.count())
  }

  test("load: two loads of one table self-join on Dataset-bound columns") {
    val a = Tables.orders(spark, sfDir)
    val b = Tables.orders(spark, sfDir)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() === a.count())
    // Spark resolves a trivially-true `x === x` on one shared frame too;
    // an order pair per customer resolves only on distinct attribute ids
    val pairs = a.groupBy($"o_custkey").count()
      .select(sum($"count" * ($"count" - 1) / 2).cast("long")).as[Long].head()
    assert(pairs > 0)
    assert(a.join(b, a("o_custkey") === b("o_custkey") &&
      a("o_orderkey") < b("o_orderkey")).count() === pairs)
  }
}
