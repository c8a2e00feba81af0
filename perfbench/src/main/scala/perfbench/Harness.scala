package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Closed-loop, single-client benchmark harness. One thread submits a
  * workload's registered queries back to back through
  * `SparkEntry.queries` to the `noop` sink on a `local[nproc]` session.
  *
  * Phases: three session set-ups (build plus warm-up query), one cold
  * pass, one warm-up pass, then measured warm passes for `--seconds`. The cold pass writes each
  * query's output as parquet under `<work>/out` for the oracle check
  * instead of to `noop`, so the check costs no extra pass. With `--trace 1`
  * the measured passes alternate between traced and untraced, and layer
  * probes run after them. Everything measured is written as JSON to
  * `<work>/result.json`; `run.py` turns it into metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                 --data DIR --work DIR
  */
object Harness {
  final case class Exec(query: String, pass: Int, traced: Boolean, wall: Double,
      build: Double, exec: Double, error: Option[String], span: Int = 0,
      counters: Map[String, Any] = Map.empty, writes: Map[String, Long] = Map.empty)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val queries = Workloads.all(workload)
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val data = opt("data")
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val heap = new HeapWatch

    // Set-up, three times: build a session, run the warm-up query. The
    // first also pays JVM class loading and JIT warm-up.
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 1 to 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work, cores)
      SparkEntry.queries("q_topk")(spark, data).write.format("noop").mode("overwrite").save()
      setups += (System.nanoTime() - t0) / 1e9
    }
    val jvmToReady = ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - setups.tail.sum

    val tracer = new Tracer(spark)
    val files = new FileWatch(Seq(s"$work/warehouse", s"$work/scratch"))
    val execs = mutable.ArrayBuffer[Exec]()

    def runQuery(q: String, pass: Int, trace: Boolean): Exec = {
      var build, exec = 0.0
      var error: Option[String] = None
      val before = if (trace) files.snapshot() else Map.empty[String, (Long, Long)]
      val t0 = System.nanoTime()
      def body(parent: Span): Unit = try {
        val df = if (trace) tracer.span("SparkEntry.build", parent)(SparkEntry.queries(q)(spark, data))
                 else SparkEntry.queries(q)(spark, data)
        val t1 = System.nanoTime()
        build = (t1 - t0) / 1e9
        def write(): Unit =
          if (pass == 0) df.write.mode("overwrite").parquet(s"$work/out/$q")
          else df.write.format("noop").mode("overwrite").save()
        if (trace) tracer.span("SparkEntry.exec", parent)(write()) else write()
        exec = (System.nanoTime() - t1) / 1e9
      } catch { case e: Throwable => error = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
      val e = if (trace) {
        val (root, c) = tracer.unit(s"query:$q")(body)
        Exec(q, pass, true, (root.end - root.start) / 1e3, build, exec, error, root.id,
          c.toMap(root.start, root.end), files.written(before))
      } else {
        body(null)
        Exec(q, pass, false, (System.nanoTime() - t0) / 1e9, build, exec, error)
      }
      spark.catalog.clearCache()
      e
    }

    val quiesced = mutable.ArrayBuffer[Double]()
    def runPass(pass: Int, trace: Boolean): Unit = {
      if (pass > 0) quiesced += quiesceJit()
      if (trace) tracer.enable()
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries.map(_._1))
      order.foreach(q => execs += runQuery(q, pass, trace))
      if (trace) tracer.disable()
      heap.settle()
    }

    // The cold pass, one untimed warm-up pass (the JIT is still compiling
    // the query paths the cold pass made hot), then measured passes until
    // the measuring time is used.
    System.gc()
    runPass(0, traced)
    runPass(1, false)
    val t0 = System.nanoTime()
    var pass = 2
    val minMeasured = if (traced) 2 else 1
    while (pass < 2 + minMeasured || (System.nanoTime() - t0) / 1e9 < seconds) {
      runPass(pass, traced && pass % 2 == 0)
      pass += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9

    val probes: Map[String, Double] = if (!traced) Map.empty else {
      tracer.enable()
      val p = new Probes(spark, data, tracer)
      val out = p.kernels() ++ p.mapreduce() ++ p.tables()
      // One fixed stream so every workload reports the streaming layer.
      execs += runQuery("q_stream_tumbling", -1, true)
      tracer.disable()
      out
    }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "setup_s" -> setups.toSeq, "jvm_to_ready_s" -> jvmToReady,
      "measured_s" -> measured, "heap_mb" -> heap.retainedMb.toSeq, "jit_wait_s" -> quiesced.toSeq,
      "execs" -> execs.map(e => Map(
        "query" -> e.query, "pass" -> e.pass, "traced" -> e.traced, "wall" -> e.wall,
        "build" -> e.build, "exec" -> e.exec, "error" -> e.error, "span" -> e.span,
        "counters" -> e.counters, "writes" -> e.writes)),
      "modules" -> queries.toMap,
      "oracle_sql" -> SparkEntry.oracleSql.filter(kv => queries.exists(_._1 == kv._1)),
      "excluded" -> Workloads.excluded,
      "probes" -> probes,
      "spans" -> tracer.spans.map(_.toMap))
    Files.writeString(Paths.get(s"$work/result.json"), Json(result))
    spark.stop()
  }

  /** Wait, outside any timed region, until the JIT compilers have been
    * idle for a quarter second (at most two seconds), so that a pass
    * does not pay for compiling what the previous one made hot. Returns
    * the seconds waited. */
  def quiesceJit(): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() - t0 < 2000000000L) {
      last = jit.getTotalCompilationTime
      Thread.sleep(250)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.scratch.dir", s"$work/scratch")
      .config("spark.local.dir", s"$work/local")
      .config("spark.ui.enabled", "false")
      // Keep the status store's history of past jobs small, so the
      // retained heap is the program's state, not the run's length.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Old-generation occupancy after the full collections that end each
  * pass, outside any timed region: the heap the program retains. The
  * second collection frees what Spark's ContextCleaner released after
  * the first (broadcast and shuffle blocks of collected plans). */
final class HeapWatch {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  val retainedMb = mutable.ArrayBuffer[Double]()
  def settle(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    retainedMb += oldPools.map(_.getUsage.getUsed).sum / 1e6
  }
}

/** Files under the harness-owned warehouse and scratch roots, to count
  * what each traced query writes. */
final class FileWatch(roots: Seq[String]) {
  def snapshot(): Map[String, (Long, Long)] = roots.flatMap { r =>
    val root = Paths.get(r)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toList
      finally s.close()
    }
  }.toMap

  def written(before: Map[String, (Long, Long)]): Map[String, Long] = {
    val changed = snapshot().filter { case (p, v) => !before.get(p).contains(v) }
    Map("files" -> changed.size.toLong, "bytes" -> changed.values.map(_._1).sum)
  }
}
