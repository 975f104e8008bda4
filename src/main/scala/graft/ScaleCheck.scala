package graft

/** Runner for [[graft.ops.ScaleChecks]] — engine-side proofs and
  * slice-equality checks over a `graft.Verify` dump at an
  * oracle-frontier SF. One JSON line per check on stdout plus a summary;
  * exits non-zero if any check fails.
  *
  * `runMain graft.ScaleCheck <sfDir> <verifyOutDir> [check1,check2,...]`
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = GraftSession(Map(
      "spark.sql.shuffle.partitions" -> GraftSession.cpus.toString))
    var failures = 0
    var ran = 0
    graft.ops.ScaleChecks.all
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (n, fn) =>
        val t0 = System.nanoTime()
        val line = try {
          val (name, pass, detail) = fn(spark, sfDir, outDir)
          ran += 1
          if (!pass) failures += 1
          val ds = detail.map { case (k, v) => s""""$k":$v""" }.mkString(",")
          f"""{"check":"$name","pass":$pass,"sec":${(System.nanoTime() - t0) / 1e9}%.1f,$ds}"""
        } catch { case e: Throwable =>
          failures += 1
          s"""{"check":"$n","pass":false,"error":"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").replaceAll("[\"\\\\\n\r\t]", " ").take(160)}"}"""
        }
        println(line)
        spark.catalog.clearCache()
      }
    println(s"""{"summary":{"ran":$ran,"failures":$failures,"sf_dir":"$sfDir"}}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
