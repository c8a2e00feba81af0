package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.ListenerBus
import scala.collection.mutable

/** Dev profiling tool (guide §1/§7, UI-less sandbox twin): run named
  * queries under the Bench session shape with a SparkListener that
  * records every job's wall time, stage task totals, and shuffle
  * bytes, then print a per-job breakdown. This is how "where does the
  * time go" questions get answered here — the Spark UI is disabled in
  * the bench contract, so the listener IS the Stages tab.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ProfOne q_x q_y"
  * Each query runs twice: pass 1 cold (JIT + any materializeOnce
  * builds land here), pass 2 warm — the printed job table labels the
  * pass so one-time costs are attributable. The `pass=2` total is the
  * query's time under Bench conditions (same warm-up, noop sink, cache
  * cleared between queries). A job is labelled with its SQL execution's
  * description and the first `graft.` frame of its call site; each pass
  * also prints how many classes codegen compiled and the compiler time.
  */
object ProfOne {
  private case class JobRec(id: Int, desc: String, start: Long,
      var end: Long = 0L, var nTasks: Int = 0, var taskTimeMs: Long = 0L,
      var shuffleReadB: Long = 0L, var shuffleWriteB: Long = 0L,
      var inputB: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = LocalSession.sfDir
    val spark = LocalSession.build()
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val execLabels = mutable.HashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => jobs.synchronized {
          val frame = x.details.linesIterator.map(_.trim).find(_.startsWith("graft."))
          execLabels(x.executionId) =
            (x.description.linesIterator.take(1).toSeq ++ frame).mkString(" | ")
        }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val desc = prop(SQLExecution.EXECUTION_ID_KEY).flatMap(id => execLabels.get(id.toLong))
          .orElse(prop("spark.job.description")).getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, desc, e.time)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
            j.nTasks += si.numTasks
            j.taskTimeMs += si.taskMetrics.executorRunTime
            j.shuffleReadB += si.taskMetrics.shuffleReadMetrics.totalBytesRead
            j.shuffleWriteB += si.taskMetrics.shuffleWriteMetrics.bytesWritten
            j.inputB += si.taskMetrics.inputMetrics.bytesRead
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    LocalSession.warmUp(spark, sfDir)
    args.foreach { name =>
      (1 to 2).foreach { pass =>
        jobs.synchronized { jobs.clear(); stageToJob.clear(); execLabels.clear() }
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compileNs0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        LocalSession.exec(spark, sfDir, name)
        val dt = (System.nanoTime() - t0) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
        spark.catalog.clearCache()
        ListenerBus.drain(spark.sparkContext)
        println(f"\n=== PROF $name pass=$pass total=$dt%.2f s ===")
        val snap = jobs.synchronized { jobs.values.toSeq }
        val nJobs = snap.size
        val wall = snap.map(j => math.max(0L, j.end - j.start)).sum / 1e3
        println(f"jobs=$nJobs wallSum=$wall%.2f s (overlap possible)")
        println(f"codegen compiles=$compiles compileTime=$compileS%.3f s")
        snap.sortBy(j => -(j.end - j.start)).take(30).foreach { j =>
          val w = math.max(0L, j.end - j.start) / 1e3
          println(f"  job ${j.id}%4d ${w}%7.3f s tasks=${j.nTasks}%4d " +
            f"taskTime=${j.taskTimeMs / 1e3}%7.2f s " +
            f"shufR=${j.shuffleReadB / 1024}%8d KB shufW=${j.shuffleWriteB / 1024}%8d KB " +
            f"in=${j.inputB / 1024}%8d KB  ${j.desc.take(120)}%s")
        }
      }
    }
    spark.stop()
  }
}
