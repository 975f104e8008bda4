package graft

import graft.features.Features
import graft.ingest.Ingest
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** End-to-end green-taxi pipeline — the user-facing equivalent of the
  * reference's two entry points (`01.py` ingest, `02.py` features) as one
  * CLI:
  *
  *   runMain graft.GreenTaxiPipeline <raw.csv | http(s)://...csv> <outDir> [--fixed-dow]
  *
  * An http(s) source is streamed to local disk first (`Ingest.fetchToLocal`),
  * matching the reference's smart-open URL invocation (01.py:247-250).
  *
  * Produces `<outDir>/01.parquet` (typed ingest) and `<outDir>/02.parquet`
  * (features), each extracted to a single file like the reference's
  * committed outputs (S15/S17: coalesce(1) + glob-move, 02.py:117-138).
  * `--fixed-dow` selects the corrected day-of-week encoding instead of the
  * reference-bug-compatible one (SURVEY.md §2a S12).
  */
object GreenTaxiPipeline {

  /** Spark writes a directory; the reference contract is a single file —
    * glob the one part-file and move it over the target (02.py:138). */
  def extractSingleFile(sparkOutDir: String, target: String): Unit = {
    val dir = Paths.get(sparkOutDir)
    val part = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq match {
        case Seq(one) => one
        case other => sys.error(s"expected exactly one part file, got $other")
      }
    Files.move(part, Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
  }

  def run(spark: SparkSession, csvPath: String, outDir: String,
      bugCompatDow: Boolean = true): (Path, Path) = {
    Files.createDirectories(Paths.get(outDir))

    val typed = Ingest.ingest(spark, csvPath)
    Ingest.writeParquet(typed, s"$outDir/_01_dir", singleFile = true)
    extractSingleFile(s"$outDir/_01_dir", s"$outDir/01.parquet")

    val features = Features(spark.read.parquet(s"$outDir/01.parquet"), bugCompatDow)
    features.coalesce(1).write.mode("overwrite").parquet(s"$outDir/_02_dir")
    extractSingleFile(s"$outDir/_02_dir", s"$outDir/02.parquet")

    (Paths.get(s"$outDir/01.parquet"), Paths.get(s"$outDir/02.parquet"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GreenTaxiPipeline <raw.csv> <outDir> [--fixed-dow]")
    val Array(csvPath, outDir) = args.take(2)
    val spark = GraftSession(
      master = sys.env.getOrElse("SPARK_MASTER", s"local[${GraftSession.cpus}]"))
    try {
      val src =
        if (csvPath.startsWith("http://") || csvPath.startsWith("https://"))
          Ingest.fetchToLocal(csvPath)
        else csvPath
      val (p1, p2) = run(spark, src, outDir,
        bugCompatDow = !args.contains("--fixed-dow"))
      println(s"wrote $p1 and $p2")
    } finally spark.stop()
  }
}
