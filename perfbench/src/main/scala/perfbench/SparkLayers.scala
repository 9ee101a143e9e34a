package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own accounting of one op: scheduling, executor, exchange, scan
  * and planning figures, gathered from listener events. */
final class OpLayers {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskWaitMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, exchanges = 0L
  var planMs = 0.0
  var scanFiles, scanBytes = 0L
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  /** Milliseconds of [startMs, endMs] that no Spark job covered. */
  def driverOnlyMs(startMs: Long, endMs: Long): Long = {
    var covered = 0L
    var reach = startMs
    jobIntervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (endMs - startMs) - covered
  }
}

/** Attributes listener events to the op the benchmark thread is running.
  * Each op sets its id as the job group, and the traced run drains the
  * listener bus after every op, so every event of op n is handled while
  * `current` still reads n. */
final class SparkLayers extends SparkListener with QueryExecutionListener {
  @volatile var current: Int = -1
  private val byOp = mutable.HashMap.empty[Int, OpLayers]
  private val jobOp = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(SparkLayers.GroupPrefix))
      .flatMap(_.stripPrefix(SparkLayers.GroupPrefix).toIntOption).getOrElse(current)

  private def layers(op: Int): Option[OpLayers] =
    if (op < 0) None else Some(byOp.getOrElseUpdate(op, new OpLayers))

  def get(op: Int): OpLayers = synchronized(byOp.getOrElse(op, new OpLayers))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    jobOp(e.jobId) = (op, e.time)
    layers(op).foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, start) =>
      layers(op).foreach(_.jobIntervals += ((start, e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    layers(opOf(e.properties)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    layers(current).foreach { l =>
      l.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        l.taskRunMs += m.executorRunTime
        l.taskCpuNs += m.executorCpuTime
        l.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        l.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
      stageSubmitted.get(e.stageId).foreach(t => l.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    layers(current).foreach { l =>
      try {
        l.planMs += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
        val plan = qe.executedPlan
        l.exchanges += SparkLayers.nodes(plan).count(_.isInstanceOf[ShuffleExchangeLike])
        SparkLayers.nodes(plan).foreach {
          case f: FileSourceScanExec =>
            l.scanFiles += f.metrics.get("numFiles").fold(0L)(_.value)
            l.scanBytes += f.metrics.get("filesSize").fold(0L)(_.value)
          case b: BatchScanExec =>
            l.scanFiles += b.metrics.get("numFiles").fold(b.inputPartitions.size.toLong)(_.value)
            l.scanBytes += b.metrics.get("filesSize").fold(0L)(_.value)
          case _ =>
        }
      } catch { case NonFatal(_) => () } // accounting never fails an op
    }
  }
}

object SparkLayers {
  val GroupPrefix = "perfbench-op-"

  /** Every node of an executed plan: adaptive wrappers, query stages and
    * subqueries included. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
