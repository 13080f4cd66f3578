package perfbench

import org.apache.spark.sql.SparkSession

/** Catalog sizes. Chosen so that one run (set-ups, the measured
  * session and the output checks) fits the benchmark's per-run budget
  * on a 4-core machine. */
final case class Sizes(topics: Int, names: Int, bibs: Int)

object Sizes {
  val SetupReps = 5
  val Catalog = Sizes(topics = 1000, names = 200, bibs = 3000)
}

object Files {
  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }

  /** (bytes, files) of the regular files under `p` */
  def usage(p: java.nio.file.Path): (Long, Long) =
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var bytes, files = 0L
        s.filter(f => java.nio.file.Files.isRegularFile(f)).forEach { f =>
          bytes += java.nio.file.Files.size(f); files += 1
        }
        (bytes, files)
      } finally s.close()
    }
}

/** Entry point, started by run.py in a fresh JVM for every run:
  *
  *   perfbench.Main --workload catalog|operators --seed N
  *     --seconds S --trace 0|1 --work DIR --result FILE [--tables DIR]
  *
  * Writes the run's metrics and operation counts as JSON to FILE (and
  * the spans next to it when tracing). `perfbench.Main selftest`
  * checks the generator instead (see [[SelfTest]]).
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("selftest")) { SelfTest.main(args.drop(1)); return }
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = java.nio.file.Paths.get(a("work")).toAbsolutePath
    val result = java.nio.file.Paths.get(a("result")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      // the same listing threshold graft.Bench runs the library with
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM and session start: the JVM's uptime once the session is up
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val ctx = new Ctx(spark, work, a("seed").toLong, a("seconds").toInt, a("trace") == "1", sessionS)
    try workload match {
      case "catalog" => CatalogWorkload.run(ctx, Sizes.Catalog)
      case "operators" => OperatorsWorkload.run(ctx, a("tables"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      spark.streams.active.foreach(_.stop())
    }
    ctx.put("peak_rss_mb", peakRssMb, "MB")
    if (ctx.trace) {
      ctx.put("runtime.session_start_s", sessionS, "s")
      ctx.tracer.selfSeconds.toSeq.sortBy(_._1).foreach { case (layer, s) =>
        ctx.put(s"$layer.self_s", s, "s")
      }
      ctx.tracer.write(java.nio.file.Paths.get(result.toString + ".spans.jsonl"))
    }
    val json = Json.result(ctx)
    java.nio.file.Files.write(result, json.getBytes("UTF-8"))
    ctx.log("result written")
    spark.stop()
    ctx.log("session stopped")
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def obj(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")

  def result(ctx: Ctx): String =
    s"""{"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":${obj(ctx.metrics)},"details":${obj(ctx.details)},""" +
      s""""failures":${ctx.failures.map(str).mkString("[", ",", "]")}}"""
}
