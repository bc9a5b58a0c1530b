package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._

import scala.collection.concurrent.TrieMap

/** Work counters of a set of Spark jobs. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, scan, written = 0L

  def addTask(m: TaskMetrics): Unit = synchronized {
    tasks += 1
    taskMs += m.executorRunTime
    taskCpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    spill += m.memoryBytesSpilled
    scan += m.inputMetrics.bytesRead
    written += m.outputMetrics.bytesWritten
  }

  def +=(o: Counters): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; scan += o.scan; written += o.written
  }

  def copy(): Counters = { val c = new Counters; c += this; c }

  def -(o: Counters): Counters = {
    val c = copy()
    c.jobs -= o.jobs; c.stages -= o.stages; c.tasks -= o.tasks
    c.taskMs -= o.taskMs; c.taskCpuNs -= o.taskCpuNs; c.gcMs -= o.gcMs
    c.shuffleWrite -= o.shuffleWrite; c.shuffleRead -= o.shuffleRead
    c.spill -= o.spill; c.scan -= o.scan; c.written -= o.written
    c
  }
}

/** Counts the work of every Spark job. With spans on, each job and its
  * stages and tasks are also booked to the span it started in: the
  * `perfbench.span` local property of the thread that submitted it, or
  * else its job group (the program's MapReduce jobs run in a group of
  * their own, on a thread the benchmark does not own).
  */
final class Meter(sc: SparkContext, spans: Boolean) extends SparkListener {
  val total = new Counters
  private val bySpan = TrieMap.empty[String, Counters]
  private val stageSpan = TrieMap.empty[Int, String]

  sc.addSparkListener(this)

  /** Book the jobs the calling thread starts from now on to `name`. */
  def enter(name: String): Unit =
    if (spans) sc.setLocalProperty(Meter.SpanKey, name)

  /** Deliver every pending event; call before reading counters. */
  def drain(): Unit = org.apache.spark.perfbench.Drain(sc)

  /** Counters booked to `span` (empty if it started no job). */
  def of(span: String): Counters = bySpan.getOrElse(span, new Counters)

  private def counters(span: String) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.synchronized(total.jobs += 1)
    if (spans) {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Meter.SpanKey)))
        .orElse(props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
        .getOrElse("unattributed")
      val c = counters(span)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(stageSpan.put(_, span))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    total.synchronized(total.stages += 1)
    if (spans) stageSpan.get(e.stageInfo.stageId).foreach { s =>
      val c = counters(s)
      c.synchronized(c.stages += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      total.addTask(m)
      if (spans) stageSpan.get(e.stageId).foreach(counters(_).addTask(m))
    }
}

object Meter {
  val SpanKey = "perfbench.span"
}
