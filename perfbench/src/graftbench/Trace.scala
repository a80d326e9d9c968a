package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine work attributed to one span's job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var shuffleWrite, input, output, spill = 0L
  var gcMs, runMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWrite += o.shuffleWrite
    input += o.input; output += o.output; spill += o.spill
    gcMs += o.gcMs; runMs += o.runMs
  }
}

/** Spark listener that counts jobs, stages and tasks (and their task
  * metrics) per job group. The tracer gives every span its own group, so
  * counters land on the innermost span that caused them, including jobs a
  * graft call fires while it is still building a frame and jobs on threads
  * it starts (Spark's local properties are inherited by child threads). */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.HashMap[String, Counters]()
  private val stageGroup = mutable.HashMap[Int, String]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def c(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c(group(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = group(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    c(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = c(stageGroup.getOrElse(e.stageId, ""))
    k.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      k.input += m.inputMetrics.bytesRead
      k.output += m.outputMetrics.bytesWritten
      k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      k.gcMs += m.jvmGCTime
      k.runMs += m.executorRunTime
    }
  }

  def get(g: String): Counters = synchronized(byGroup.getOrElse(g, new Counters))
}

/** Planning-phase walls of the last query execution that completed. */
final class PhaseListener extends QueryExecutionListener {
  @volatile var last: QueryExecution = null
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = last = qe
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = last = qe

  /** Seconds spent in analysis, optimization and physical planning. */
  def planSeconds: Double = Option(last).map { qe =>
    qe.tracker.phases.collect {
      case (p, s) if p != "parsing" => (s.endTimeMs - s.startTimeMs) / 1e3
    }.sum
  }.getOrElse(0.0)
}

/** In-memory span recorder. A span has a name, start, end and parent and
  * runs under its own Spark job group; spans stay in memory until the run
  * ends. With tracing off, `span` only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var next = 0
  val jobs = new GroupListener
  val phases = new PhaseListener
  private val sc = spark.sparkContext

  if (enabled) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(phases)
  }

  private def groupOf(id: Int) = s"graftbench-$id"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      next += 1
      val id = next
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime())
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p), "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Id of the innermost open span (0 outside any span). */
  def current: Int = stack.headOption.getOrElse(0)

  /** Id of the most recently opened span. */
  def lastId: Int = next

  def drain(): Unit = if (enabled) org.apache.spark.BenchBus.drain(sc)

  private lazy val children = spans.groupBy(_.parent)

  /** Counters of span `s` including its descendants (call after [[drain]],
    * once the run's spans are complete). */
  def counters(s: Span): Counters = {
    val total = new Counters
    total += jobs.get(groupOf(s.id))
    children.getOrElse(s.id, Nil).foreach(ch => total += counters(ch))
    total
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}
