package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Spans around the benchmark's calls into the library's public
  * functions, kept in memory and written out when the run ends. One
  * client thread issues every call, so spans nest strictly and a stack
  * gives each span its parent. Off (the untraced run), `span` only
  * evaluates its body.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op: Int = 0

  /** Spans are recorded only inside an operation (`op` != 0). */
  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled || op == 0) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, parent, op, layer, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def durationsMs(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.ms).toSeq

  /** layer -> seconds of its spans not covered by their child spans */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).view.mapValues(_.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9)
      .toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark runtime counters per benchmark operation, from the
  * benchmark's own listener. Each operation runs under its own job
  * group; jobs that the library starts under a group of its own while
  * an operation is current (the store's concurrent history write) are
  * folded into that operation. */
final class RuntimeCounters(spark: SparkSession) extends SparkListener {
  final class Counts {
    var jobs, stages, tasks, activeJobs = 0
    var runMs, cpuNs, shuffleRead, shuffleWrite, spill, inputRecords = 0L
  }
  private val byOp = mutable.Map.empty[Int, Counts]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, Int]
  @volatile private var current = 0
  private val groupPrefix = "perfbench-op-"

  spark.sparkContext.addSparkListener(this)

  private def counts(op: Int) = byOp.getOrElseUpdate(op, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val op = group.filter(_.startsWith(groupPrefix)).map(_.stripPrefix(groupPrefix).toInt)
      .getOrElse(current)
    jobOp(e.jobId) = op
    e.stageIds.foreach(stageOp(_) = op)
    val c = counts(op)
    c.jobs += 1
    c.activeJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach(op => counts(op).activeJobs -= 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => counts(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counts(op)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  /** Runs `f` as operation `op`; returns when every job the operation
    * started has ended and the listener has seen all its events. */
  def within[A](op: Int)(f: => A): A = {
    val sc = spark.sparkContext
    current = op
    sc.setJobGroup(s"$groupPrefix$op", s"perfbench op $op", interruptOnCancel = false)
    try f
    finally {
      sc.clearJobGroup()
      settle(op)
      current = 0
    }
  }

  private def settle(op: Int): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var done = false
    while (!done) {
      org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
      done = synchronized(counts(op).activeJobs <= 0) || System.nanoTime() > deadline
      if (!done) Thread.sleep(5)
    }
  }

  def of(op: Int): Counts = synchronized(counts(op))
}
