package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark's job-description local property key. */
private[graftbench] object JobDescription {
  val key = "spark.job.description"
}

/** One benchmark-side span around a call into a layer. Times are epoch
  * milliseconds (fractional), the clock Spark's listener events use, so
  * job intervals and span intervals compare directly.
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val start: Double) {
  var end: Double = start
}

/** In-memory span recorder. When disabled, `span` only runs its body:
  * no job descriptions, nothing recorded.
  *
  * An open span labels the jobs its body submits through the job
  * description (`bench-span:<id>`); graft's own spawned jobs carry the
  * caller's description along, so the listener attributes them too.
  */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val nanoBase = System.nanoTime()
  private val wallBase = System.currentTimeMillis().toDouble
  var op: Int = -1

  def now(): Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
        op, now())
      spans += s
      stack = s :: stack
      val prevDesc = sc.getLocalProperty(JobDescription.key)
      sc.setJobDescription(s"bench-span:${s.id}")
      try body
      finally {
        s.end = now()
        stack = stack.tail
        sc.setJobDescription(prevDesc)
      }
    }
}

/** Per-job record: which span submitted it, its call site (e.g.
  * `treeReduce at DistributedTrainer.scala:173`), its interval, and the
  * task metrics summed over its stages.
  */
final class JobRec(val id: Int, val span: Int, val site: String,
    val execution: Long, val start: Long) {
  var end: Long = start
  var tasks = 0L
  var gcMs = 0L
  var resultBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
}

/** Attributes jobs and task metrics to the span open at submission.
  *
  * A SQL query's jobs (adaptive execution submits its query stages from
  * its own threads) take their call site from the query's execution
  * event; other jobs from their final stage's name.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val executionSite = mutable.HashMap.empty[Long, String]

  /** `method at File.scala:line` from a long-form call site, whose first
    * line is the last Spark frame and whose second is the caller.
    */
  private def shortSite(longForm: String): Option[String] =
    longForm.split("\n").toSeq match {
      case Seq(spark, caller, _*) if caller.contains("(") =>
        val method = spark.takeWhile(_ != '(').split('.').last
        Some(s"$method at ${caller.dropWhile(_ != '(').drop(1).takeWhile(_ != ')')}")
      case _ => None
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      shortSite(x.details).foreach(s => synchronized(executionSite(x.executionId) = s))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val desc = prop(JobDescription.key).getOrElse("")
    val span =
      if (desc.startsWith("bench-span:")) desc.stripPrefix("bench-span:").toInt
      else -1
    val execution = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val site = executionSite.getOrElse(execution, e.stageInfos.maxBy(_.stageId).name)
    jobs(e.jobId) = new JobRec(e.jobId, span, site, execution, e.time)
    e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      j <- stageJob.get(e.stageId).flatMap(jobs.get)
      m <- Option(e.taskMetrics)
    } {
      j.tasks += 1
      j.gcMs += m.jvmGCTime
      j.resultBytes += m.resultSize
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputRecords += m.inputMetrics.recordsRead
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toVector)

}
