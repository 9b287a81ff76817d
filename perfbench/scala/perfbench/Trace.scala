package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins._

/** One timed interval. `blocking` spans are the children an op waits for
  * on its calling thread (entry.build, plan.optimize, execute); job and stage
  * spans are linked to their op by job group but run on the engine, so
  * they do not count against their parent's self time.
  */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startNs: Long, endNs: Long, blocking: Boolean = true) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, written once at the end of the run. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)

  def reserve(): Int = nextId.getAndIncrement()

  def add(parent: Int, name: String, op: String, startNs: Long, endNs: Long,
          blocking: Boolean = true, id: Int = 0): Int = {
    val sid = if (id > 0) id else reserve()
    spans.add(Span(sid, parent, name, op, startNs, endNs, blocking))
    sid
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Duration minus the union of its blocking children's intervals. */
  def selfS(s: Span, children: Map[Int, Seq[Span]]): Double = {
    val kids = children.getOrElse(s.id, Nil).filter(_.blocking)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter(iv => iv._2 > iv._1).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  def json: String = Json.arr(all.sortBy(_.id).map(s => Json.obj(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "blocking" -> s.blocking)))
}

/** Engine meter keyed by job group: every job the benchmark starts for
  * an op carries the group `op#<n>`, so jobs, stages and tasks attribute
  * to the op execution that caused them.
  */
final class StageMeter extends SparkListener {
  final case class Task(group: String, stage: Int, busyMs: Long, cpuNs: Long,
                        gcMs: Long, shWrite: Long, shRead: Long, spill: Long,
                        input: Long, failed: Boolean)
  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long)
  final case class Stage(id: Int, group: String, submitMs: Long,
                         var firstLaunchMs: Long, var endMs: Long,
                         durations: mutable.ArrayBuffer[Long])

  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobs = mutable.Map[Int, Job]()
  val stages = mutable.Map[Int, Stage]()
  private val stageGroup = mutable.Map[Int, String]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobs(e.jobId) = Job(e.jobId, g, e.time, -1L)
    e.stageIds.foreach(s => stageGroup(s) = g)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = Stage(i.stageId, stageGroup.getOrElse(i.stageId, groupOf(e.properties)),
      i.submissionTime.getOrElse(System.currentTimeMillis()), -1L, -1L,
      mutable.ArrayBuffer[Long]())
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      if (s.firstLaunchMs < 0) s.firstLaunchMs = e.taskInfo.launchTime
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(
      _.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val g = synchronized {
      stages.get(e.stageId).foreach(_.durations += e.taskInfo.duration)
      stageGroup.getOrElse(e.stageId, "")
    }
    val failed = e.reason != org.apache.spark.Success
    if (m == null) tasks.add(Task(g, e.stageId, e.taskInfo.duration, 0, 0, 0, 0, 0, 0, failed))
    else tasks.add(Task(g, e.stageId, e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead, failed))
  }
}

/** Final AQE plan census: join strategies, exchanges and skew splits. */
object PlanCensus extends AdaptiveSparkPlanHelper {
  val keys = Seq("smj", "bhj", "shj", "bnlj", "exchanges", "skew_splits")

  def of(df: DataFrame): Map[String, Int] = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    def count(pf: PartialFunction[SparkPlan, Int]): Int =
      collectWithSubqueries(plan)(pf).sum
    Map(
      "smj" -> count { case _: SortMergeJoinExec => 1 },
      "bhj" -> count { case _: BroadcastHashJoinExec => 1 },
      "shj" -> count { case _: ShuffledHashJoinExec => 1 },
      "bnlj" -> count { case _: BroadcastNestedLoopJoinExec => 1 },
      "exchanges" -> count { case _: ShuffleExchangeLike => 1 },
      "skew_splits" -> count {
        case j: SortMergeJoinExec if j.isSkewJoin => 1
        case j: ShuffledHashJoinExec if j.isSkewJoin => 1
      })
  }
}
