package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One run's state: the session, the work directory, the tracer and
  * the operations the client has issued so far. */
final class Ctx(val spark: SparkSession, val work: java.nio.file.Path, val seed: Long,
    val seconds: Int, val trace: Boolean, val sessionStartS: Double) {

  val tracer = new Tracer(trace)
  val runtime: Option[RuntimeCounters] = if (trace) Some(new RuntimeCounters(spark)) else None

  final case class Op(id: Int, kind: String, ms: Double)
  val ops = mutable.ArrayBuffer.empty[Op]
  private val failedOps = mutable.LinkedHashMap.empty[Int, String]
  private var lastId = 0

  private val born = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.1fs] $msg")

  /** metric name -> (value, unit), in report order */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** The workload's own end-to-end figures, printed by name for a
    * reader; the gated metrics are the ones `put` records. */
  val details = mutable.LinkedHashMap.empty[String, (Double, String)]
  def detail(name: String, value: Double, unit: String): Unit = details(name) = (value, unit)

  /** setup_s: JVM and session start plus the median of the workload's
    * set-ups (generating inputs, warming up). */
  def putSetup(setups: Seq[Double]): Unit = {
    put("setup_s", sessionStartS + Stats.median(setups), "s")
    detail("session_start_s", sessionStartS, "s")
    detail("workload_setup_s", Stats.median(setups), "s")
  }

  private var checkNs = 0L
  /** An output check inside a timed stretch; `checkSeconds` is what
    * such checks took, for the stretch to leave out. */
  def checking[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally checkNs += System.nanoTime() - t0
  }
  def checkSeconds: Double = checkNs / 1e9

  /** Issue one timed operation. Returns None when it threw; the
    * failure is counted and the run goes on. */
  def op[A](kind: String)(f: => A): (Int, Option[A]) = {
    lastId += 1
    val id = lastId
    tracer.op = id
    var ms = Double.NaN
    def timed: Option[A] = {
      val t0 = System.nanoTime()
      try {
        val r = tracer.span("bench", kind)(f)
        ms = (System.nanoTime() - t0) / 1e6
        Some(r)
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          fail(id, s"$kind threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
          None
      }
    }
    val r = runtime.fold(timed)(_.within(id)(timed))
    tracer.op = 0
    if (r.isDefined) ops += Op(id, kind, ms)
    (id, r)
  }

  def fail(op: Int, why: String): Unit =
    if (!failedOps.contains(op)) {
      failedOps(op) = why.replaceAll("\\s+", " ").take(300)
      System.err.println(s"[perfbench] output check failed (op $op): ${failedOps(op)}")
    }

  def check(op: Int, ok: Boolean, why: => String): Unit = if (!ok) fail(op, why)

  def failures: Seq[String] = failedOps.map { case (op, why) => s"op $op: $why" }.toSeq

  def attempted: Int = lastId
  def failed: Int = failedOps.size

  def latencies(kinds: String*): Seq[Double] =
    ops.iterator.filter(o => kinds.contains(o.kind)).map(_.ms).toSeq

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  /** Per-operation runtime medians over the given operation kinds. */
  def putRuntime(kinds: String*): Unit = runtime.foreach { rc =>
    val chosen = ops.filter(o => kinds.contains(o.kind))
    val cs = chosen.map(o => (o, rc.of(o.id)))
    def med(f: rc.Counts => Double) = Stats.median(cs.map(c => f(c._2)).toSeq)
    put("runtime.jobs", med(_.jobs.toDouble), "count")
    put("runtime.stages", med(_.stages.toDouble), "count")
    put("runtime.tasks", med(_.tasks.toDouble), "count")
    put("runtime.task_run_s", med(_.runMs / 1e3), "s")
    put("runtime.task_cpu_s", med(_.cpuNs / 1e9), "s")
    put("runtime.parallelism", Stats.median(cs.map { case (o, c) => c.runMs / math.max(o.ms, 1e-3) }.toSeq), "ratio")
    put("runtime.shuffle_read_bytes", med(_.shuffleRead.toDouble), "B")
    put("runtime.shuffle_write_bytes", med(_.shuffleWrite.toDouble), "B")
    put("runtime.spill_bytes", med(_.spill.toDouble), "B")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** linear interpolation between closest ranks; 0 for no samples */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it. */
  def tailRank(n: Int): Double = if (n <= 10) 0.5 else (n - 11).toDouble / (n - 1)

  def tail(xs: Seq[Double]): Double = quantile(xs, tailRank(xs.size))

  /** "ms (p57 of 24)": which percentile a tail is, of how many samples */
  def tailUnit(n: Int): String = f"ms (p${100 * tailRank(n)}%.0f of $n)"
}
