package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of one span: a phase of an op (build, plan, exec) or a whole
  * op. All times are seconds; executor times are summed over tasks.
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var stageWaitS, runS, cpuS, gcS, fetchWaitS = 0.0
  var shuffleWrite, shuffleRead, spill, inputBytes = 0L
  var blocks, blockBytes = 0L

  /** this + sign * o, as a new value. */
  def plus(o: Counters, sign: Int = 1): Counters = {
    val r = new Counters
    r.jobs = jobs + sign * o.jobs; r.stages = stages + sign * o.stages
    r.tasks = tasks + sign * o.tasks; r.stageWaitS = stageWaitS + sign * o.stageWaitS
    r.runS = runS + sign * o.runS; r.cpuS = cpuS + sign * o.cpuS; r.gcS = gcS + sign * o.gcS
    r.fetchWaitS = fetchWaitS + sign * o.fetchWaitS
    r.shuffleWrite = shuffleWrite + sign * o.shuffleWrite
    r.shuffleRead = shuffleRead + sign * o.shuffleRead; r.spill = spill + sign * o.spill
    r.inputBytes = inputBytes + sign * o.inputBytes; r.blocks = blocks + sign * o.blocks
    r.blockBytes = blockBytes + sign * o.blockBytes
    r
  }

  def minus(o: Counters): Counters = plus(o, -1)

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "stage_wait_s" -> stageWaitS, "run_s" -> runS, "cpu_s" -> cpuS,
    "gc_s" -> gcS, "fetch_wait_s" -> fetchWaitS,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "input_bytes" -> inputBytes,
    "blocks" -> blocks, "block_bytes" -> blockBytes)
}

/** A timed interval with a parent, kept in memory until the run ends. */
final case class Span(id: String, parent: String, kind: String, name: String,
                      startNs: Long, endNs: Long,
                      attrs: Map[String, Any] = Map.empty) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Records spans per op, phase, Spark job and stage, all keyed by the op
  * id the harness puts in a local property before each phase. Spark
  * events arrive on the listener thread; every mutable map is either
  * concurrent or guarded by `this`.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private val byPhase = new ConcurrentHashMap[String, Counters]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val firstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val phaseDurs = new ConcurrentHashMap[String, java.lang.Double]()
  @volatile private var currentPhase: String = "none"
  @volatile private var active = false

  def attach(): Unit = { sc.addSparkListener(this); active = true }
  def detach(): Unit = { active = false; sc.removeSparkListener(this) }

  /** Runs `body` as phase `phase` of op `opId`: jobs it submits are
    * attributed to it, and it is recorded as a span under the op.
    */
  def phase[A](opId: String, phase: String)(body: => A): A = {
    val key = s"$opId/$phase"
    currentPhase = key
    sc.setLocalProperty(PhaseProp, key)
    val t0 = nowNs()
    try body
    finally {
      val t1 = nowNs()
      sc.setLocalProperty(PhaseProp, null)
      currentPhase = "none"
      phaseDurs.put(key, (t1 - t0) / 1e9)
      if (active) addSpan(Span(key, opId, "phase", phase, t0, t1))
    }
  }

  def addSpan(s: Span): Unit = synchronized { spans += s }

  def isActive: Boolean = active

  def counters(opId: String, phase: String): Counters = {
    org.apache.spark.PerfbenchShim.drainListeners(sc)
    Option(byPhase.get(s"$opId/$phase")).getOrElse(new Counters)
  }

  /** Seconds spent in `phase` of op `opId`; 0 if the op has no such phase. */
  def phaseDur(opId: String, phase: String): Double =
    Option(phaseDurs.get(s"$opId/$phase")).map(_.doubleValue).getOrElse(0.0)

  /** Counters summed over every span so far, drained first. */
  def total(): Counters = {
    org.apache.spark.PerfbenchShim.drainListeners(sc)
    byPhase.values.asScala.foldLeft(new Counters)((a, b) => b.synchronized(a.plus(b)))
  }

  private def c(key: String): Counters = byPhase.computeIfAbsent(key, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProp)))
      .getOrElse("none")
    jobStart.put(e.jobId, (key, e.time))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    c(key).synchronized { c(key).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (key, t0) =>
      addSpan(Span(s"job${e.jobId}", key, "job", s"job ${e.jobId}",
        t0 * 1000000L, e.time * 1000000L))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProp)))
      .getOrElse("none")
    stagePhase.put(e.stageInfo.stageId, key)
    c(key).synchronized { c(key).stages += 1 }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    firstLaunch.putIfAbsent(e.stageId, e.taskInfo.launchTime)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val key = Option(stagePhase.get(info.stageId)).getOrElse("none")
    val submitted = info.submissionTime.getOrElse(0L)
    val launched = Option(firstLaunch.remove(info.stageId)).map(_.longValue)
    launched.foreach { l =>
      val cc = c(key)
      cc.synchronized { cc.stageWaitS += math.max(0L, l - submitted) / 1e3 }
    }
    val job = Option(stageJob.get(info.stageId)).map(j => s"job$j").getOrElse(key)
    addSpan(Span(s"stage${info.stageId}.${info.attemptNumber()}", job, "stage",
      info.name, submitted * 1000000L,
      info.completionTime.getOrElse(submitted) * 1000000L,
      Map("tasks" -> info.numTasks)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val cc = c(Option(stagePhase.get(e.stageId)).getOrElse("none"))
    cc.synchronized {
      cc.tasks += 1
      cc.runS += m.executorRunTime / 1e3
      cc.cpuS += m.executorCpuTime / 1e9
      cc.gcS += m.jvmGCTime / 1e3
      cc.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
      cc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      cc.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      val cc = c(currentPhase)
      cc.synchronized {
        cc.blocks += 1
        cc.blockBytes += b.memSize + b.diskSize
      }
    }
  }

  /** Every span with its self time: its duration minus the durations
    * of its children, floored at zero (children may overlap).
    */
  def spansWithSelf: Seq[Map[String, Any]] = synchronized {
    val childSum = spans.groupBy(_.parent).view.mapValues(_.map(_.durS).sum).toMap
    spans.toSeq.sortBy(_.startNs).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ns" -> s.startNs, "dur_s" -> s.durS,
        "self_s" -> math.max(0.0, s.durS - childSum.getOrElse(s.id, 0.0))) ++
        s.attrs ++
        (if (s.kind == "phase") Option(byPhase.get(s.id)).map(_.toMap).getOrElse(Map.empty)
         else Map.empty)
    }
  }
}

object Tracer {
  val PhaseProp = "perfbench.phase"

  private val epochBaseNs = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()

  /** Wall-clock nanoseconds on the same epoch as Spark's event times. */
  def nowNs(): Long = epochBaseNs + (System.nanoTime() - nanoBase)
}
