package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced mode's recorder, all from outside the program: a span around
  * every call the benchmark makes into a layer, plus Spark job/stage/task,
  * SQL-execution and streaming-progress listeners. Events are kept raw;
  * they attach to the span whose interval holds their start time (one
  * caller, so spans never overlap), and `perfbench/trace.py` folds them
  * into the per-layer metrics once the run ends. */
final class Tracer(spark: SparkSession) {
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val jobs = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tallies = new ConcurrentHashMap[Int, Array[Long]]() // job → stages, tasks, shuffle B, out B, out rows
  private val sqlStarts = new ConcurrentHashMap[Long, (Long, String)]()
  private val sqls = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private val fenceSeen = new java.util.concurrent.CountDownLatch(1)

  private def tally(job: Int, i: Int, v: Long): Unit = {
    tallies.computeIfAbsent(job, _ => new Array[Long](5))(i) += v
    ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      if (desc.contains(Tracer.Fence)) return
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, Map("id" -> e.jobId, "start" -> e.time,
        "desc" -> desc.orNull))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobs.containsKey(e.jobId)) { jobEnds.put(e.jobId, e.time); () }
      else fenceSeen.countDown()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => tally(j, 0, 1L))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        tally(j, 1, 1L)
        Option(e.taskMetrics).foreach { m =>
          tally(j, 2, m.shuffleWriteMetrics.bytesWritten)
          tally(j, 3, m.outputMetrics.bytesWritten)
          tally(j, 4, m.outputMetrics.recordsWritten)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.put(s.executionId, (s.time, s.physicalPlanDescription)); ()
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(s.executionId)).foreach { case (t0, plan) =>
          sqls.add(Map("id" -> s.executionId, "start" -> t0, "end" -> s.time,
            "kind" -> Tracer.sqlKind(plan)))
        }
      case _ => ()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map(
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      ()
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  /** Time `f` as a span of `kind` carrying `attrs` (for example the index
    * of the operation it times). [[annotate]] adds what the caller measured
    * around the call (for example a file census before and after). */
  def span[A](kind: String, attrs: Map[String, Any] = Map.empty)(f: => A): A = {
    val t0 = Clock.nowMs
    try f finally spans += (attrs ++ Map("kind" -> kind, "start" -> t0, "end" -> Clock.nowMs))
  }

  def annotate(attrs: Map[String, Any]): Unit =
    if (spans.nonEmpty) spans(spans.size - 1) = spans.last ++ attrs

  /** Wait until the listener bus has delivered every job event posted so
    * far: a labelled no-op job's end arrives after all of them. */
  private def fence(): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Tracer.Fence)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(prev)
    fenceSeen.await(20, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }

  /** Every raw record of the run, for `trace.py`. */
  def dump(): Map[String, Any] = {
    fence()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    val jobRecs = jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      val a = Option(tallies.get(id)).getOrElse(new Array[Long](5))
      j ++ Map("end" -> Option(jobEnds.get(id)).map(_.longValue),
        "stages" -> a(0), "tasks" -> a(1), "shuffle_bytes" -> a(2),
        "output_bytes" -> a(3), "output_records" -> a(4))
    }
    Map("spans" -> spans.toSeq, "jobs" -> jobRecs,
      "sql" -> sqls.asScala.toSeq.sortBy(_("id").asInstanceOf[Long]),
      "progress" -> progress.asScala.toSeq)
  }
}

object Tracer {
  val Fence = "perfbench trace fence"

  /** The landing layer's SQL executions, told apart by physical plan:
    * partition registration, the staged ORC write, and the distinct-
    * logdate collect that opens every batch's epilogue. */
  def sqlKind(plan: String): String =
    if (plan.contains("AlterTableAddPartition")) "register"
    else if (plan.contains("InsertIntoHadoopFsRelationCommand")) "write"
    else if (plan.contains("logdate") && plan.contains("HashAggregate")) "collect"
    else "other"
}
