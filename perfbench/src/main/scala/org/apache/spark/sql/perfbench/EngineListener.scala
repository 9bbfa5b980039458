package org.apache.spark.sql.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Engine-side counters for the benchmark, read from Spark's listener
  * bus with no change to the engine: task and stage metrics, the final
  * physical plan of every SQL execution, and the staging registry's
  * builds, recognised by their `graft_stage_<family>_<hash>` output
  * path. Only scans of the corpus under `dataDir` count as `tables.*`.
  * It lives under `org.apache.spark.sql` only to read the query
  * execution attached to a finished SQL execution and to drain the bus.
  */
final class EngineListener(dataDir: String) extends SparkListener {
  import EngineListener._

  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** SQL execution id -> (staging family, start ms) for executions that write a staged table. */
  private val stagingWrites = mutable.Map.empty[Long, (String, Long)]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val builds = mutable.ArrayBuffer.empty[Build]

  private val corpusPrefix = dataDir.stripSuffix("/") + "/"

  private def add(name: String, v: Double): Unit = c(name) = c(name) + v

  /** The cumulative counters so far, by metric name. */
  def snapshot(): Map[String, Double] = synchronized(c.toMap)

  /** Staging builds finished since the last call, oldest first. */
  def takeBuilds(): Seq[Build] = synchronized {
    val out = builds.toSeq
    builds.clear()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => e.stageIds.foreach(stageExec(_) = id.toLong))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("exec.stages", 1)
    stageExec.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("exec.tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("exec.busy_ms", m.executorRunTime)
      if (stageExec.get(e.stageId).exists(stagingWrites.contains)) {
        add("staging.rows_total", m.outputMetrics.recordsWritten)
        add("staging.bytes_total", m.outputMetrics.bytesWritten)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      // the write's output path is in the details of its own node, which
      // the formatted plan lists after the nodes it reads from
      val write = s.physicalPlanDescription.lastIndexOf("InsertIntoHadoopFsRelationCommand")
      if (write >= 0)
        StagePath.findFirstMatchIn(s.physicalPlanDescription.substring(write))
          .foreach(m => stagingWrites(s.executionId) = (m.group(1), s.time))
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      stagingWrites.remove(end.executionId).foreach { case (family, startMs) =>
        add("staging.builds", 1)
        builds += Build(family, startMs, end.time)
      }
      Option(end.qe).flatMap(qe => scala.util.Try(qe.executedPlan).toOption).foreach(countPlan)
    }
    case _ =>
  }

  private def countPlan(p: SparkPlan): Unit = nodes(p).foreach {
    case _: BroadcastHashJoinExec => add("plan.bhj", 1)
    case _: BroadcastNestedLoopJoinExec => add("plan.bnlj", 1)
    case b: BroadcastExchangeExec => add("broadcast.bytes", metric(b, "dataSize"))
    case s: FileSourceScanExec =>
      val roots = s.relation.location.rootPaths.map(_.toUri.getPath)
      if (roots.exists(_.contains("graft_stage_"))) add("staging.requests", 1)
      else if (roots.exists(_.startsWith(corpusPrefix))) {
        add("tables.scan_ms", metric(s, "scanTime"))
        add("tables.scan_bytes", metric(s, "filesSize"))
      }
    case _ =>
  }
}

object EngineListener {
  private val StagePath = "graft_stage_([A-Za-z0-9_]+?)_[0-9a-f]{8}\\b".r

  final case class Build(family: String, startMs: Long, endMs: Long)

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).fold(0.0)(_.value.toDouble)

  /** Every node of a final physical plan: adaptive plans by their final
    * plan, query stages by their stage plan, subqueries included; a
    * reused exchange counts once.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def install(spark: SparkSession, dataDir: String): EngineListener = {
    val l = new EngineListener(dataDir)
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
