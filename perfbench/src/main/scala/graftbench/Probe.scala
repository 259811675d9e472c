package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a run. Spans form a tree through `parent`
  * (0 = the run itself): workload -> pass -> op -> build/exec/plan ->
  * Spark job -> stage. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty)

/** In-memory span store; written out once when the run ends. */
final class Tracer(val runId: String) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nextId(): Long = ids.incrementAndGet()
  /** Epoch milliseconds of a `System.nanoTime` reading. */
  def ms(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** What one op spent in one phase ("build" = inside the query function,
  * "exec" = the materializing write), as seen by the Spark listener. */
final class Counters {
  var jobs, stages, tasks, failedTasks, emptyTasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  var inputBytes, outputBytes = 0L
  var planMs = 0.0
  val taskMs = ArrayBuffer.empty[Long]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; emptyTasks += o.emptyTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; planMs += o.planMs; taskMs ++= o.taskMs
  }
}

/** Outside-in probe: a SparkListener plus a QueryExecutionListener that
  * charge every job, stage, task and planned query to the op that caused
  * it. The harness tags each op's work with local properties (op span id,
  * phase, phase span id); jobs carry them, and stages and tasks inherit
  * them through their job. */
final class Probe(tracer: Tracer) extends SparkListener
    with QueryExecutionListener {
  import Probe._

  private case class Owner(op: Long, phase: String, span: Long)
  private val jobs = new ConcurrentHashMap[Int, (Owner, Long, Double)]()
  private val stages = new ConcurrentHashMap[Int, (Owner, Long)]()
  private val counters = new ConcurrentHashMap[(Long, String), Counters]()
  private val unowned = Owner(0L, "none", 0L)
  /** The op whose queries are being planned; the harness drains the bus
    * before it moves on, so a planning event always sees its own op. */
  @volatile var currentOp: Long = 0L

  private def of(o: Owner) =
    counters.computeIfAbsent((o.op, o.phase), _ => new Counters)

  /** Counters of `op` in `phase`, or an empty set. */
  def counters(op: Long, phase: String): Counters =
    Option(counters.get((op, phase))).getOrElse(new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val owner = p.flatMap(x => Option(x.getProperty(OpKey))).fold(unowned) {
      op => Owner(op.toLong, p.get.getProperty(PhaseKey),
        p.get.getProperty(SpanKey).toLong)
    }
    val span = tracer.nextId()
    jobs.put(e.jobId, (owner, span, e.time.toDouble))
    e.stageIds.foreach(id => stages.put(id, (owner, span)))
    of(owner).synchronized { of(owner).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { case (o, span, t0) =>
      tracer.add(Span(span, o.span, "job", s"job ${e.jobId}", t0,
        e.time.toDouble))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val o = Option(stages.get(e.stageInfo.stageId)).fold(unowned)(_._1)
    of(o).synchronized { of(o).stages += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stages.get(info.stageId)).foreach { case (_, job) =>
      tracer.add(Span(tracer.nextId(), job, "stage",
        s"stage ${info.stageId}.${info.attemptNumber()} ${info.name}",
        info.submissionTime.getOrElse(0L).toDouble,
        info.completionTime.getOrElse(0L).toDouble,
        Map("tasks" -> info.numTasks.toDouble)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val o = Option(stages.get(e.stageId)).fold(unowned)(_._1)
    val c = of(o)
    c.synchronized {
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      if (e.reason != TaskSuccess) c.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
          c.emptyTasks += 1
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val op = currentOp
    val summed = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble)
    val c = counters.computeIfAbsent((op, "plan"), _ => new Counters)
    c.synchronized { c.planMs += summed.sum }
    if (phases.nonEmpty)
      tracer.add(Span(tracer.nextId(), op, "plan", "plan",
        phases.values.map(_.startTimeMs).min.toDouble,
        phases.values.map(_.endTimeMs).max.toDouble,
        phases.map { case (k, p) =>
          s"${k}_ms" -> (p.endTimeMs - p.startTimeMs).toDouble }))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = planned(qe)

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
  }

  def detach(s: SparkSession): Unit = {
    org.apache.spark.graftbench.BusDrain(s.sparkContext)
    s.sparkContext.removeSparkListener(this)
    s.listenerManager.unregister(this)
  }
}

object Probe {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"
  val SpanKey = "graftbench.span"

  /** Tags every job the calling thread starts from now on. */
  def tag(s: SparkSession, op: Long, phase: String, span: Long): Unit = {
    val sc = s.sparkContext
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(PhaseKey, phase)
    sc.setLocalProperty(SpanKey, span.toString)
  }

  def untag(s: SparkSession): Unit =
    Seq(OpKey, PhaseKey, SpanKey).foreach(s.sparkContext.setLocalProperty(_, null))
}
