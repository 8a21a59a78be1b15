package ccmbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.ccmbench.BusFence
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Spark counters for one job group. `readStageTasks` counts the tasks of
  * stages that read shuffle output (for `Ccm.perSeries` that is the
  * flatMapGroups stage).
  */
final case class Counts(
    jobs: Long = 0,
    stages: Long = 0,
    tasks: Long = 0,
    taskMs: Long = 0,
    shuffleWriteBytes: Long = 0,
    shuffleReadBytes: Long = 0,
    spillBytes: Long = 0,
    peakMemBytes: Long = 0,
    readStageTasks: Long = 0
) {
  def +(o: Counts): Counts = Counts(
    jobs + o.jobs,
    stages + o.stages,
    tasks + o.tasks,
    taskMs + o.taskMs,
    shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes,
    math.max(peakMemBytes, o.peakMemBytes),
    readStageTasks + o.readStageTasks
  )
}

/** Benchmark-side listener: accumulates counters per job group (one group
  * per timed call) and tracks how many jobs and stages are still active.
  */
final class Counters extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = scala.collection.mutable.HashMap.empty[String, Counts]
  private var activeJobs = 0
  private var activeStages = 0

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(GroupKey)))

  private def update(group: String)(f: Counts => Counts): Unit =
    byGroup.update(group, f(byGroup.getOrElse(group, Counts())))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    activeJobs += 1
    groupOf(e.properties).foreach(g => update(g)(c => c.copy(jobs = c.jobs + 1)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    activeJobs -= 1
    notifyAll()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    activeStages += 1
    groupOf(e.properties).foreach(g => stageGroup.put(e.stageInfo.stageId, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    activeStages -= 1
    val info = e.stageInfo
    Option(stageGroup.get(info.stageId)).foreach { g =>
      val reads = Option(info.taskMetrics).exists(_.shuffleReadMetrics.recordsRead > 0)
      update(g)(c =>
        c.copy(
          stages = c.stages + 1,
          tasks = c.tasks + info.numTasks,
          readStageTasks = c.readStageTasks + (if (reads) info.numTasks else 0)
        )
      )
    }
    notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    Option(stageGroup.get(e.stageId)).filter(_ => m != null).foreach { g =>
      update(g)(c =>
        c.copy(
          taskMs = c.taskMs + m.executorRunTime,
          shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          spillBytes = c.spillBytes + m.diskBytesSpilled,
          peakMemBytes = math.max(c.peakMemBytes, m.peakExecutionMemory)
        )
      )
    }
  }

  /** Counters of `group`, read once every event posted so far has been
    * delivered and no job or stage is active any more.
    */
  def take(sc: SparkContext, group: String, timeoutMs: Long = 60000L): Counts = {
    val deadline = System.currentTimeMillis() + timeoutMs
    BusFence.drain(sc, timeoutMs)
    synchronized {
      while (activeJobs > 0 || activeStages > 0) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0)
          throw new IllegalStateException(s"$activeJobs jobs / $activeStages stages still active")
        wait(left)
      }
      byGroup.remove(group).getOrElse(Counts())
    }
  }
}

object PlanRows extends AdaptiveSparkPlanHelper {

  /** Summed SQL `numOutputRows` of the equi-join nodes in `df`'s executed
    * plan — the pair joins of the kNN and EDM operators (cross joins
    * against lib-size or theta lists have no join keys and are left out).
    * Read after `df` has run.
    */
  def equiJoinRows(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case j: BaseJoinExec if j.leftKeys.nonEmpty =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}
