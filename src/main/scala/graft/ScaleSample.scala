package graft

import org.apache.spark.sql.functions._

/** Deterministic slice generator for the ORACLE-FRONTIER scale checks:
  * at sf10+ some DuckDB twins are intractable (quadratic truth tiers,
  * recursive graph CTEs that spill > disk), so the engine's outputs at
  * that SF cannot be value-checked directly. This tool writes a
  * deterministic, cluster-preserving slice of the scale tables —
  * `documents`/`embeddings` by `id % mod = 0`, `events` by
  * `user_id % mod = 0` — on which BOTH engines rerun the SAME query
  * end-to-end. ScaleGen's replica strides are powers of ten, so a
  * power-of-ten-compatible mod (default 20) keeps every replica of a
  * sampled base row: the slice preserves the scale corpus's near-dup
  * cluster sizes and per-user event densities exactly — the regimes the
  * frontier queries are hard IN — while shrinking quadratic twin volume
  * by mod² (400×).
  *
  * `runMain graft.ScaleSample <srcDir> <outDir> [mod=20]`. Only the three
  * big behavioral tables are sampled; the TPC-H side is never frontier
  * (its twins all pass at sf10), so it is not copied.
  */
object ScaleSample {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("target/scale/sf10")
    val out = args.lift(1).getOrElse("target/scale/sf10s")
    val mod = args.lift(2).map(_.toLong).getOrElse(20L)
    val spark = GraftSession(Map("spark.sql.shuffle.partitions" -> "32"))
    def write(name: String, key: String, keepPrefix: Long = 0L): Unit = {
      val df = Tables.table(spark, src, name)
        .filter(pmod(col(key), lit(mod)) === 0 || col(key) < keepPrefix)
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalesample] $name % $mod (+ first $keepPrefix) -> $out/$name.parquet")
    }
    write("documents", "doc_id")
    // The ANN tiers' determinism contract seeds quantizers from the id
    // prefix (LSH planes = vec_id < 8, PQ codebook = vec_id < k, Lloyd
    // seeds = vec_id < nlist ≈ √N). A pure modular slice would drop that
    // prefix and change — or crash — the seeded index builds, so the
    // prefix rides along unconditionally: both engines still see the
    // identical table, and 256 covers every seed width a ≤65k-vector
    // slice can derive (nlist = ⌈√N⌉ ≤ 256).
    write("embeddings", "vec_id", keepPrefix = 256L)
    write("events", "user_id")
    spark.stop()
  }
}
