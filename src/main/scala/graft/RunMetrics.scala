package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The one metrics listener of the measurement mains (StressSweep,
  * Ladders, Profile): per-job intervals with stage and task counts, and
  * per-stage memory spill, disk spill and peak execution memory (the
  * driver-visible proof a pressure regime engaged — a run that passes
  * with zero spill was not under pressure).
  *
  * Listener events arrive asynchronously, so reads go through
  * [[measure]]: it drains the bus before resetting and again before
  * snapshotting, and a snapshot covers exactly the jobs of its body —
  * unless a drain timed out, which the snapshot records. */
final class RunMetrics private (spark: SparkSession, drainTimeoutMillis: Long)
    extends SparkListener {
  import RunMetrics._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageToJob = mutable.HashMap[Int, Int]()
  private var memSpilled, diskSpilled, peakExecMem = 0L
  private var spillStages = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    e.stageIds.foreach(stageToJob(_) = e.jobId)
    jobs(e.jobId) = Job(e.jobId, e.time, e.time, e.stageInfos.size, 0, desc)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(j.id) = j.copy(completed = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      stageToJob.get(si.stageId).flatMap(jobs.get)
        .foreach(j => jobs(j.id) = j.copy(tasks = j.tasks + si.numTasks))
      Option(si.taskMetrics).foreach { m =>
        memSpilled += m.memoryBytesSpilled
        diskSpilled += m.diskBytesSpilled
        if (m.memoryBytesSpilled > 0 || m.diskBytesSpilled > 0) spillStages += 1
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }

  /** Blocks until the listener bus has delivered every posted event, or
    * for at most `drainTimeoutMillis`; false if the bus did not empty (a
    * GC-starved queue, a zombie job still posting, a stopped context).
    * Never throws on a busy bus: a multi-hour sweep must outlive one
    * late event. `LiveListenerBus.waitUntilEmpty` is `private[spark]`
    * (public in bytecode), hence the reflection. */
  def drain(): Boolean = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    try {
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, Long.box(drainTimeoutMillis))
      true
    } catch { case _: java.lang.reflect.InvocationTargetException => false }
  }

  /** Runs `body` and returns its result with the metrics of exactly the
    * jobs it ran. */
  def measure[T](body: => T): (T, Snapshot) = {
    val before = drain()
    synchronized {
      jobs.clear(); stageToJob.clear()
      memSpilled = 0L; diskSpilled = 0L; peakExecMem = 0L; spillStages = 0
    }
    val result = body
    val after = drain()
    synchronized {
      (result, Snapshot(jobs.values.toList, memSpilled, diskSpilled,
        spillStages, peakExecMem, drained = before && after))
    }
  }

  /** One warm-up pass (JIT, codegen, shuffle files), then the faster of
    * two timed passes; `reset` runs after every pass, outside its timer.
    * The snapshot covers the two timed passes and is taken before the
    * caller runs any untimed job. */
  def warmMinOfTwo(pass: () => Unit, reset: () => Unit = () => ())
      : (Double, Snapshot) = {
    pass(); reset()
    measure {
      val a = secs(pass()); reset()
      val b = secs(pass()); reset()
      math.min(a, b)
    }
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)
}

object RunMetrics {
  final case class Job(id: Int, submitted: Long, completed: Long,
      stages: Int, tasks: Int, desc: String) {
    def millis: Long = (completed - submitted).max(0L)
  }

  /** `drained` is false when a drain timed out: the counters may then
    * hold an earlier body's stages or miss some of this one's. */
  final case class Snapshot(jobs: Seq[Job], memSpilled: Long,
      diskSpilled: Long, spillStages: Int, peakExecMem: Long,
      drained: Boolean) {
    /** Seconds during which at least one job ran: the union of the job
      * intervals, so overlapping jobs count once. */
    def jobUnionSecs: Double = jobs.map(j => (j.submitted, j.submitted + j.millis))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (s, e)) =>
        if (e <= end) (sum, end) else (sum + e - math.max(s, end), e)
      }._1 / 1e3

    /** The spill and peak fields, plus `metrics_tainted` when they may
      * hold stages of another body: a drain timed out, or the caller
      * knows of a live zombie job. */
    def spillFields(tainted: Boolean = !drained): List[JField] = List(
      "mem_spilled_bytes" -> JLong(memSpilled),
      "disk_spilled_bytes" -> JLong(diskSpilled),
      "spill_stages" -> JInt(spillStages),
      "peak_exec_mem_bytes" -> JLong(peakExecMem)) ++
      (if (tainted) List("metrics_tainted" -> JBool(true)) else Nil)
  }

  /** Bound of one [[RunMetrics.drain]]: three times Spark's own 10 s
    * default, so a GC-pressured bus still empties. */
  val DrainTimeoutMillis = 30000L

  def attach(spark: SparkSession,
      drainTimeoutMillis: Long = DrainTimeoutMillis): RunMetrics = {
    val m = new RunMetrics(spark, drainTimeoutMillis)
    spark.sparkContext.addSparkListener(m)
    m
  }

  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

/** JSON artifacts of the measurement mains. */
object Artifact {
  /** `v` rounded to `places` decimals. A decimal, not a formatted
    * string: `f""` follows the JVM locale, and a comma separator is not
    * JSON. */
  def num(v: Double, places: Int = 3): JValue =
    JDecimal(BigDecimal(v).setScale(places, BigDecimal.RoundingMode.HALF_UP))

  /** The applied `SPARK_GRAFT_CONF` pairs, so a run under a session
    * setting is never mistaken for a default-conf run. */
  def envConf: JObject =
    JObject(Sessions.envConf.map { case (k, v) => k -> JString(v) }.toList)

  /** Writes through a temp file and an atomic move: a sweep rewrites its
    * artifact after every key, and a JVM killed mid-write (an executor
    * OOM in local mode exits the process) must leave the previous
    * complete artifact, not a truncated one. */
  def write(path: String, doc: JValue): Unit = {
    val target = Paths.get(path).toAbsolutePath
    val tmp = Files.createTempFile(target.getParent, ".artifact", ".tmp")
    Files.writeString(tmp, JsonMethods.compact(doc))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
