package luxbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** Per-op trace of one Spark session, collected from outside the engine.
  *
  * Every job is charged to the engine module that issued it: the
  * innermost `graft.` frame of the call site its SQL execution recorded
  * (`SparkListenerSQLExecutionStart.details`, joined on the job's
  * `spark.sql.execution.id` property), or of its result stage when the
  * job has no SQL execution. A job with no engine frame was issued by the
  * benchmark's own action and is charged to `materialize`.
  *
  * Usage: `attach()`, then `begin()` / run one op / `end(wall, cores)` per
  * op, then `detach()`. `begin` and `end` drain the listener bus first.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  private val sc = spark.sparkContext
  private val execSites = mutable.HashMap[Long, String]()
  private val jobs = mutable.HashMap[Int, Job]()
  private val stageTasks = mutable.HashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val inMemory = mutable.HashSet[RDDBlockId]()
  private var stages, tasks, evicted = 0
  private var runMs, shuffleW, shuffleR, spillB, scanB = 0L
  private var cachedPeak = 0L
  private val phases = mutable.HashMap[String, Long]().withDefaultValue(0L)
  private var outBytes, outFiles = 0L

  private val qeListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain(spark)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(this)
  }

  /** Start an op: clear the per-op counters. */
  def begin(): Unit = {
    drain(spark)
    synchronized {
      jobs.clear(); stageTasks.clear(); phases.clear()
      stages = 0; tasks = 0; evicted = 0
      runMs = 0; shuffleW = 0; shuffleR = 0; spillB = 0; scanB = 0
      outBytes = 0; outFiles = 0
      inMemory.clear()
      cachedPeak = cachedBytes(sc)
    }
  }

  /** Finish an op that took `wall` seconds; per-op metrics by name. */
  def end(wall: Double, cores: Int): Map[String, Double] = {
    drain(spark)
    synchronized {
      cachedPeak = cachedPeak max cachedBytes(sc)
      val done = jobs.values.filter(_.end > 0).toSeq
      val byLayer = done.groupBy(_.layer)
      val perLayer = Layers.flatMap { l =>
        val js = byLayer.getOrElse(l, Nil)
        Seq(s"$l.jobs" -> js.size.toDouble,
          s"$l.job_s" -> js.map(j => j.end - j.start).sum / 1e3)
      }
      val skews = stageTasks.values.filter(_.size >= 2).flatMap { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2)
        if (med > 0) Some(sorted.last.toDouble / med) else None
      }
      Map(
        "spark.jobs" -> done.size.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.driver_gap_s" -> (wall - unionMs(done.map(j => (j.start, j.end))) / 1e3),
        "spark.plan_analysis_s" -> phases("analysis") / 1e3,
        "spark.plan_optimization_s" -> phases("optimization") / 1e3,
        "spark.plan_planning_s" -> phases("planning") / 1e3,
        "spark.exec_busy_frac" -> runMs / 1e3 / (wall * cores),
        "spark.shuffle_write_mb" -> shuffleW / MB,
        "spark.shuffle_read_mb" -> shuffleR / MB,
        "spark.spill_mb" -> spillB / MB,
        "spark.task_skew" -> (if (skews.isEmpty) 1.0 else skews.max),
        "tables.scan_mb" -> scanB / MB,
        "substrate.cached_peak_mb" -> cachedPeak / MB,
        "substrate.evicted_blocks" -> evicted.toDouble,
        "buildchain.output_mb" -> outBytes / MB,
        "buildchain.files_written" -> outFiles.toDouble) ++ perLayer
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case w: DataWritingCommandExec =>
        val m = w.cmd.metrics
        synchronized {
          outBytes += m.get("numOutputBytes").map(_.value).getOrElse(0L)
          outFiles += m.get("numFiles").map(_.value).getOrElse(0L)
        }
        w.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    synchronized {
      for ((k, v) <- ph) phases(k) += v.durationMs
    }
    walk(qe.executedPlan)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSites(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(s => execSites.get(s.toLong))
    val site = exec.getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
    jobs(e.jobId) = Job(e.time, 0L, layerOf(site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    cachedPeak = cachedPeak max cachedBytes(sc)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      val si = e.stageInfo
      if (si.rddInfos.exists(_.name == "FileScanRDD") && si.taskMetrics != null)
        scanB += si.taskMetrics.inputMetrics.bytesRead
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      shuffleR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      spillB += m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case id: RDDBlockId => synchronized {
        // removed outright, or dropped from memory after this op cached it
        if (!b.storageLevel.isValid || (b.memSize == 0 && inMemory(id))) evicted += 1
        if (b.memSize > 0) inMemory += id else inMemory -= id
      }
      case _ =>
    }
  }
}

object Trace {
  val MB: Double = 1024.0 * 1024.0

  /** Engine layers reported per op; a job whose innermost engine frame
    * lies elsewhere in the engine is charged to `other`. */
  val Layers: Seq[String] = Seq("tables", "reconcile", "graph", "joinplanner",
    "buildchain", "other", "materialize")

  private final case class Job(start: Long, end: Long, layer: String)

  private val Frame = """^\s*(?:at\s+)?graft\.([\w.$]+)\.[^.(]+\(""".r.unanchored

  /** Layer of the innermost `graft.` frame of a call site. */
  def layerOf(site: String): String =
    site.linesIterator.collectFirst { case Frame(cls) => cls.takeWhile(_ != '$') }
      .map {
        case "Tables" => "tables"
        case "operators.Reconcile" => "reconcile"
        case "operators.Graph" => "graph"
        case "operators.JoinPlanner" => "joinplanner"
        case "BuildChainQueries" => "buildchain"
        case _ => "other"
      }.getOrElse("materialize")

  /** Bytes held by persisted RDD blocks, in memory and on disk. */
  def cachedBytes(sc: org.apache.spark.SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- iv.sortBy(_._1)) {
      if (open && s <= curE) curE = curE max e
      else { if (open) total += curE - curS; curS = s; curE = e; open = true }
    }
    if (open) total += curE - curS
    total
  }

  /** LiveListenerBus.waitUntilEmpty is private[spark]; called reflectively
    * so an op's events have landed before its counters are read. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }
}
