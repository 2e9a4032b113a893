package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; all spans of one
  * op carry that op's id.
  */
final case class Span(id: Int, parent: Int, op: String, name: String,
    start: Double, end: Double, attrs: Map[String, Any] = Map.empty)

/** In-memory span recorder for the traced passes.
  *
  * The benchmark's own spans (run, pass, op, build, action, etl.write,
  * scd.*) are opened and closed around calls into the program. Spark
  * jobs are tied to their op through the job group the op sets, read
  * back from `SparkListenerJobStart`; their stages and task metrics
  * come from the same listener, and Catalyst's phase times from a
  * `QueryExecutionListener`. The listener is attached only while a
  * traced pass runs, so untraced passes pay nothing for it.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  def open(parent: Int, op: String, name: String): Int = {
    nextId += 1
    spans += Span(nextId, parent, op, name, now(), Double.NaN)
    nextId
  }
  def close(id: Int, attrs: Map[String, Any] = Map.empty, at: Double = Double.NaN): Unit = {
    val i = spans.lastIndexWhere(_.id == id)
    val s = spans(i)
    spans(i) = s.copy(end = if (at.isNaN) now() else at, attrs = s.attrs ++ attrs)
  }
  def add(parent: Int, op: String, name: String, start: Double, end: Double,
      attrs: Map[String, Any]): Int = {
    nextId += 1
    spans += Span(nextId, parent, op, name, start, end, attrs)
    nextId
  }

  import Tracer._

  // ---- Spark events, filled on the listener thread ----
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val plans = new ConcurrentLinkedQueue[Map[String, (Long, Long)]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, group, site, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val r = stages.computeIfAbsent(e.stageInfo.stageId,
      id => new StageRec(id, e.stageInfo.name))
    r.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach(
      _.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stages.get(e.stageId)
    val t = e.taskMetrics
    if (r != null && t != null) r.synchronized {
      val v = Seq(1L, t.executorRunTime, t.executorCpuTime / 1000000L,
        t.jvmGCTime, math.max(0L, e.taskInfo.launchTime - r.submitted),
        t.inputMetrics.recordsRead, t.inputMetrics.bytesRead,
        t.shuffleWriteMetrics.bytesWritten, t.shuffleReadMetrics.totalBytesRead,
        t.shuffleWriteMetrics.recordsWritten, t.diskBytesSpilled)
      for (i <- v.indices) r.m(i) += v(i)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    plans.add(qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) })
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Close an op: drain the bus, then turn the op's jobs, stages and
    * plan phases into spans under its build or action span.
    */
  def collectOp(op: String, buildId: Int, actionId: Int): Unit = {
    PerfbenchBus.drain(sc)
    val a = spans.find(_.id == actionId).get
    plans.asScala.toList.foreach { phases =>
      for ((k, (s, e)) <- phases if k != "parsing") {
        val (cs, ce) = (math.max(s.toDouble, a.start), math.min(e.toDouble, a.end))
        if (ce > cs) add(actionId, op, s"plan.$k", cs, ce, Map.empty)
      }
    }
    plans.clear()
    val mine = jobs.values.asScala.toSeq.sortBy(_.id)
    mine.foreach { j =>
      jobs.remove(j.id)
      val parent = if (j.start < a.start - 1) buildId else actionId
      val sts = j.stageIds.flatMap(id => Option(stages.remove(id)))
      val sums = Keys.indices.map(i => sts.map(_.m(i)).sum)
      val jid = add(parent, j.group, "job", j.start.toDouble, j.end.toDouble,
        Map("job_id" -> j.id, "group" -> j.group, "call_site" -> j.callSite,
          "stages" -> sts.count(_.m(0) > 0)) ++ Keys.zip(sums))
      if (j.callSite.contains("Tables.scala"))
        add(buildId, j.group, "tables.open", j.start.toDouble, j.end.toDouble,
          Map("job_id" -> j.id))
      sts.filter(_.m(0) > 0).foreach { s =>
        add(jid, j.group, "stage", s.submitted.toDouble, s.completed.toDouble,
          Map("stage_id" -> s.id, "name" -> s.name) ++ Keys.zip(s.m.toSeq))
      }
    }
    stages.clear()
  }
}

object Tracer {
  /** Task-metric sums kept per stage, in this order. */
  val Keys = Seq("tasks", "task_ms", "cpu_ms", "gc_ms", "sched_wait_ms",
    "input_rows", "input_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "shuffle_records", "spill_bytes")

  private final class StageRec(val id: Int, val name: String) {
    @volatile var submitted = 0L
    @volatile var completed = 0L
    val m = new Array[Long](Keys.size)
  }
  private final case class JobRec(id: Int, group: String, callSite: String,
      start: Long, stageIds: Seq[Int]) { @volatile var end = 0L }
}
