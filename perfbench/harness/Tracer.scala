package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced runs only: a Spark listener and a query-execution listener that
  * keep every job, stage and SQL execution in memory, to be written out
  * when the run ends. Jobs carry the op id through the job group the
  * harness sets around each op, so work that a query function starts
  * eagerly (lineage cuts, memo builds) is attributed to its op. */
final class Tracer(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val sqls = new ConcurrentLinkedQueue[String]()
  private val passCache = new ConcurrentLinkedQueue[String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobStart.put(e.jobId, (e.time, group, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, group, stageIds) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, "", Nil))
      jobs.add(Json.obj("job" -> e.jobId.toString, "group" -> Json.str(group),
        "start_ms" -> t0.toString, "end_ms" -> e.time.toString,
        "ok" -> (e.jobResult == JobSucceeded).toString,
        "stages" -> Json.arr(stageIds.map(_.toString))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      def ms(v: Option[Long]) = v.getOrElse(0L).toString
      val fields = Seq(
        "stage" -> s.stageId.toString, "attempt" -> s.attemptNumber().toString,
        "tasks" -> s.numTasks.toString,
        "start_ms" -> ms(s.submissionTime), "end_ms" -> ms(s.completionTime),
        "failed" -> s.failureReason.isDefined.toString) ++ (if (m == null) Nil else Seq(
        "run_ms" -> m.executorRunTime.toString,
        "cpu_ns" -> m.executorCpuTime.toString,
        "gc_ms" -> m.jvmGCTime.toString,
        "result_bytes" -> m.resultSize.toString,
        "input_bytes" -> m.inputMetrics.bytesRead.toString,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toString,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toString,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toString))
      stages.add(Json.obj(fields: _*))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases.toSeq.sortBy(_._1).map { case (name, p) =>
        name -> Json.arr(Seq(p.startTimeMs.toString, p.endTimeMs.toString))
      }
      sqls.add(Json.obj("func" -> Json.str(func), "ok" -> ok.toString,
        "end_ms" -> System.currentTimeMillis().toString,
        "phases" -> Json.obj(phases: _*)))
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, ok = false)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)

  /** Block-manager footprint of cached and checkpointed RDDs after a pass. */
  def passSnapshot(pass: Int): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    passCache.add(Json.obj("pass" -> pass.toString, "rdds" -> infos.length.toString,
      "mem_bytes" -> infos.map(_.memSize).sum.toString,
      "disk_bytes" -> infos.map(_.diskSize).sum.toString))
  }

  def json: String = {
    def a(q: ConcurrentLinkedQueue[String]) = Json.arr(q.asScala.toSeq)
    Json.obj("jobs" -> a(jobs), "stages" -> a(stages), "sql" -> a(sqls), "cache" -> a(passCache))
  }
}
