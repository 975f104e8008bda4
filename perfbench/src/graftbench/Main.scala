package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark driver for one workload run.
  *
  *   graftbench.Main --workload <taxi_pipeline|suite_serial>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <sfDir>
  *     --expected <suite results json> [--record 1]
  *
  * `--record 1` does not benchmark: it runs every inventory query once and
  * writes their expected results to the `--expected` file.
  *
  * Prints one line per metric and, last, `RESULT <json>` holding
  * `correct`, `attempted`, `failed` and every metric measured; the
  * launcher (`perfbench/run.py`) picks the metrics BENCHMARK.json names. With `--trace 1` it
  * also writes every per-layer figure, and the per-query split, to
  * `<work>/trace/<workload>-seed<n>.json`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, data: String, expected: Path)

  /** Outcome of one workload run. `metrics` hold (value, unit). */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val extra = mutable.LinkedHashMap.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    def put(name: String, value: Double, unit: String): Unit =
      metrics(name) = (value, unit)

    def fail(what: String): Unit = synchronized { failures += what }
  }

  val Workloads = Seq("taxi_pipeline", "suite_serial")

  /** Wall seconds since the JVM started. */
  def sinceJvmStart(): Double = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (System.currentTimeMillis() - startMs) / 1000.0
  }

  def cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** One session for every workload, with the confs `graft.Bench` times
    * under (AQE off, cpus/4 but at least 8 shuffle partitions). */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", math.max(8, cpus / 4).toString)
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
      .config("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", "1048576")
      .config("spark.sql.sessionWindow.buffer.in.memory.threshold", "1048576")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs one checked operation; an exception counts as a failure. */
  def attempt[T](res: Main.Result, what: String)(body: => T): Option[T] = {
    res.synchronized(res.attempted += 1)
    try Some(body)
    catch { case e: Throwable =>
      res.fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
  }

  def codegenSeconds(): Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default) of a non-empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; expected one of ${Workloads.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, need("data"),
      Paths.get(need("expected")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    if (argv.containsSlice(Seq("--record", "1"))) {
      Suite.record(args, args.expected)
      return
    }
    val res = new Result
    val traceOut = mutable.LinkedHashMap.empty[String, String]
    args.workload match {
      case "taxi_pipeline" => Taxi.run(args, res, traceOut)
      case _ => Suite.run(args, res, traceOut)
    }
    res.put("peak_rss_mb", peakRssMb(), "MiB")
    // Janino compile seconds since the JVM started: set-up and timed phase.
    res.put("codegen.compile_s", codegenSeconds(), "s")

    val failed = res.failures.size.toLong
    val failedRatio = failed.toDouble / math.max(1L, res.attempted)
    res.failures.foreach(f => System.out.println(s"FAILED $f"))
    val all = res.metrics.toSeq :+ ("failed_ratio" -> (failedRatio, "ratio"))
    all.foreach { case (k, (v, u)) => System.out.println(f"metric $k%-28s ${num(v)}%s $u") }
    res.extra.foreach { case (k, v) => System.out.println(s"info $k $v") }

    if (args.trace) {
      val dir = Files.createDirectories(args.work.resolve("trace"))
      val layers = res.metrics.map { case (k, (v, _)) => s"${jsonString(k)}:${num(v)}" }
      val body = (Seq(s""""workload":${jsonString(args.workload)}""",
        s""""seed":${args.seed}""", s""""failed_ratio":${num(failedRatio)}""",
        s""""layers":${layers.mkString("{", ",", "}")}""") ++
        traceOut.map { case (k, v) => s"${jsonString(k)}:$v" }).mkString("{", ",", "}")
      val f = dir.resolve(s"${args.workload}-seed${args.seed}.json")
      Files.writeString(f, body + "\n")
      System.out.println(s"trace written to $f")
    }

    val metricsJson = res.metrics.map { case (k, (v, u)) =>
      s"${jsonString(k)}:{\"value\":${num(v)},\"unit\":${jsonString(u)}}"
    }.mkString("{", ",", "}")
    System.out.println(
      s"""RESULT {"correct":${failed == 0},"attempted":${res.attempted},"failed":$failed,"metrics":$metricsJson}""")
    System.out.flush()
    SparkSession.getDefaultSession.foreach(_.stop())
  }
}
