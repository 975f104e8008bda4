package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (UTC, matching the driver). */
object TestSpark {
  /** Fixture root for the driver-generated parquet tables (overridable
    * for a machine with a different layout — r18 ADVICE: specs were
    * hard-coupling the absolute path). */
  val testdataRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
  def sfDir(sf: String): String = s"$testdataRoot/sf$sf"

  /** Temp dir that is recursively deleted on JVM exit (plain
    * File.deleteOnExit only handles empty directories). */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(d).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      catch { case _: Throwable => () }
    }))
    d.toString
  }

  /** AQE stays on here (Spark's default): SkewJoinSpec and
    * TopKPerGroupSpec read adaptive plans. */
  lazy val spark: SparkSession = GraftSession(Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString),
    master = "local[4]")
}
