package graft

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the query regime from drifting. The benchmark's own session
  * (`perfbench/src/graftbench/Main.scala`, `session`) is a separate copy
  * of the confs Bench times; every literal conf it sets must be the
  * regime's value, or Spark's default for a key the regime leaves unset. */
class GraftSessionSpec extends AnyFunSuite {
  private val benchMain = "perfbench/src/graftbench/Main.scala"

  /** Literal `.config("k", "v")` pairs inside the benchmark's `session`. */
  private def benchSessionConfs(): Seq[(String, String)] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(benchMain)), "UTF-8")
    val start = text.indexOf("def session(")
    assert(start >= 0, s"$benchMain no longer defines session(")
    val end = text.indexOf(".getOrCreate()", start)
    assert(end > start, s"$benchMain session( has no getOrCreate()")
    """\.config\("([^"]+)",\s*"([^"]*)"\)""".r
      .findAllMatchIn(text.substring(start, end))
      .map(m => m.group(1) -> m.group(2)).toSeq
  }

  /** Byte sizes compare by value ("128MB" = "134217728"), the rest as text. */
  private def norm(v: String): String =
    scala.util.Try(JavaUtils.byteStringAsBytes(v).toString)
      .getOrElse(v.trim.toLowerCase)

  private def sparkDefault(k: String): Option[String] =
    scala.util.Try(new SQLConf().getConfString(k)).toOption

  test("the benchmark session sets only the regime's values or Spark's defaults") {
    val regime = GraftSession.queryConf(4)
    val confs = benchSessionConfs()
      .filterNot { case (k, _) => Set("spark.local.dir", "spark.sql.warehouse.dir")(k) }
    assert(confs.size >= 5, s"found only $confs in $benchMain session(")
    confs.foreach { case (k, v) =>
      // A key the regime sets must carry the regime's value; any other
      // key may only restate Spark's default.
      val want = regime.get(k).orElse(sparkDefault(k))
      assert(want.map(norm).contains(norm(v)),
        s"$benchMain sets $k=$v; the regime has ${regime.get(k)}, " +
          s"Spark's default is ${sparkDefault(k)}")
    }
  }

  test("the query regime's shuffle width is max(8, cpus/4)") {
    def width(cpus: Int) = GraftSession.queryConf(cpus)("spark.sql.shuffle.partitions")
    assert(width(4) === "8")
    assert(width(32) === "8")
    assert(width(64) === "16")
    assert(GraftSession.queryConf(4)("spark.sql.adaptive.enabled") === "false")
  }

  test("the CPU count defaults to the JVM's processors when SPARK_GRAFT_CPUS is unset") {
    assert(GraftSession.cpusFrom(None) === Runtime.getRuntime.availableProcessors)
    assert(GraftSession.cpusFrom(Some("6")) === 6)
  }
}
