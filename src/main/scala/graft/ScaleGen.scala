package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-proof data generator (VERDICT r10 item 4): tiles the driver's
  * sf0.1 testdata `xf`× into a larger synthetic SF with the SAME schemas,
  * so the data-bound queries can be measured at 10×/100× the benchmark SF
  * and the 100 TB linear-scaling claims become measured curves instead of
  * arguments. `runMain graft.ScaleGen <srcDir> <outDir> [xf=10]`.
  *
  * Tiling rules (replica k = 0 is the identity copy):
  *   - every key column shifts by k·D where D is a power-of-ten stride
  *     above the source domain — replicas never collide, and FK edges
  *     (orders.o_custkey → customer, lineitem.l_*key → part/supplier/
  *     orders, events.user_id cross-referenced by the funnel queries)
  *     shift by the SAME stride on both sides, so join fan-outs and
  *     group cardinalities scale linearly, exactly like adding a shard
  *     of new customers/orders/documents;
  *   - `region`/`nation` stay fixed (TPC-H keeps them SF-independent);
  *   - `documents.text` is perturbed per replica — every token at
  *     position ≡ −k (mod 11) is rewritten to a replica-salted token, so
  *     ~9% of tokens (≈27% of 3-gram shingles) differ and cross-replica
  *     Jaccard lands ~0.6, BELOW the 0.8 near-dup truth threshold: the
  *     dedup tiers see a 10× corpus, not 10 trivial copies of one;
  *   - `embeddings.embedding` gets a small deterministic per-replica,
  *     per-dimension additive offset (±0.013·k rotating over 7 dims) —
  *     distinct vectors with realistic high-similarity structure for the
  *     ANN tiers;
  *   - `events` keeps its time range (10× density — the streaming/
  *     sessionize shape of a busier day, not a longer one) with event_id/
  *     user_id shifted.
  *
  * Determinism: no RNG anywhere — replica index + column arithmetic
  * only, so two runs produce byte-identical tables (modulo parquet row
  * -group layout) and any sf1 correctness check is reproducible. */
object ScaleGen {
  /** Smallest power of ten strictly above m, as the replica stride. */
  private def stride(m: Long): Long = {
    var s = 1L
    while (s <= m) s *= 10
    s
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1")
    val xf = args.lift(2).map(_.toInt).getOrElse(10)
    // Bounded-replica-family mode (VERDICT r15 task 4): with a 4th arg
    // W > 0, document replicas split into families of width W — replica
    // k is member m = k mod W of family f = k div W. Members of one
    // family share a family-level rewrite (token i → family-salted when
    // (i + f) % 3 = 0, ~1/3 of tokens — cross-family shingle Jaccard
    // lands ≈ 0.2, far below every near-dup threshold) and differ from
    // each other only by the member-level stagger ((i + m) % 11, the
    // legacy replica perturbation), so near-dup CLUSTERS stay ≤ W wide
    // while the corpus still grows xf×: duplication RATE is fixed and
    // families become more numerous, which is how a real corpus scales.
    // Rationale: legacy mode grows family width 10× per decade, so the
    // all-qualifying-PAIRS contracts (dedup_simhash: 97.5 M rows at
    // sf100) and the family-width-quadratic oracle twins (CC/apply)
    // measure the generator's width, not the plan — the bounded mode
    // makes the dedup-tier exponents read the plan. Key shifts, FK
    // edges, events and embeddings are IDENTICAL to legacy mode (the
    // relational/ANN tiers see the same data either way).
    val famW = args.lift(3).map(_.toInt).getOrElse(0)
    val spark = GraftSession(Map("spark.sql.shuffle.partitions" -> "32"))

    // one shared stride per key DOMAIN, so FK sides shift identically
    def maxOf(t: String, c: String): Long =
      Tables.table(spark, src, t).agg(max(col(c))).head().getLong(0)
    val dOrder = stride(maxOf("orders", "o_orderkey"))
    val dCust  = stride(maxOf("customer", "c_custkey"))
    val dPart  = stride(maxOf("part", "p_partkey"))
    val dSupp  = stride(maxOf("supplier", "s_suppkey"))
    val dEvent = stride(maxOf("events", "event_id"))
    val dUser  = stride(maxOf("events", "user_id"))
    val dDoc   = stride(maxOf("documents", "doc_id"))
    val dVec   = stride(maxOf("embeddings", "vec_id"))

    /** Union of xf shifted copies; `shift` maps (df, replicaIndexCol) to
      * the replica's frame. One `explode(sequence(...))` per row instead
      * of a xf-way plan union — a single scan, linear write. */
    def tile(df: DataFrame)(shift: (DataFrame, org.apache.spark.sql.Column) => DataFrame): DataFrame = {
      val cols = df.columns
      val withK = df.withColumn("__k",
        explode(sequence(lit(0L), lit(xf.toLong - 1))))
      shift(withK, col("__k")).select(cols.head, cols.tail: _*)
    }
    def shiftCol(name: String, d: Long)(df: DataFrame, k: org.apache.spark.sql.Column): DataFrame =
      df.withColumn(name, col(name) + k * lit(d))

    def write(name: String, df: DataFrame): Unit = {
      // resume-friendly: a table whose _SUCCESS marker exists is done —
      // a disk-full/OOM mid-campaign only costs the table in flight
      if (new java.io.File(s"$out/$name.parquet/_SUCCESS").exists()) {
        println(s"[scalegen] $name already complete, skipping")
        return
      }
      df.repartition(math.max(4, xf))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name -> $out/$name.parquet")
    }

    // fixed dims: straight copies
    Seq("region", "nation").foreach(n => write(n, Tables.table(spark, src, n)))

    write("customer", tile(Tables.table(spark, src, "customer")) { (df, k) =>
      shiftCol("c_custkey", dCust)(df, k) })
    write("supplier", tile(Tables.table(spark, src, "supplier")) { (df, k) =>
      shiftCol("s_suppkey", dSupp)(df, k) })
    write("part", tile(Tables.table(spark, src, "part")) { (df, k) =>
      shiftCol("p_partkey", dPart)(df, k) })
    write("orders", tile(Tables.table(spark, src, "orders")) { (df, k) =>
      shiftCol("o_custkey", dCust)(shiftCol("o_orderkey", dOrder)(df, k), k) })
    write("lineitem", tile(Tables.table(spark, src, "lineitem")) { (df, k) =>
      shiftCol("l_suppkey", dSupp)(
        shiftCol("l_partkey", dPart)(
          shiftCol("l_orderkey", dOrder)(df, k), k), k) })
    write("events", tile(Tables.events(spark, src)) { (df, k) =>
      shiftCol("user_id", dUser)(shiftCol("event_id", dEvent)(df, k), k) })
    write("documents", tile(Tables.table(spark, src, "documents")) { (df, k) =>
      val shifted = shiftCol("doc_id", dDoc)(df, k)
      val mutated =
        if (famW > 0)
          // family mode: member stagger wins where both apply (members
          // of one family then differ pairwise in ~2/11 of positions,
          // exactly the legacy within-replica structure); the family
          // rewrite depends only on (f, i, t), so it is SHARED by the
          // whole family and distinct across families. NOTE: the k=0
          // tile is rewritten too (family-0 coherence needs its salt),
          // so family-mode output holds NO pristine copy of the source
          // docs — the "sf0.1 shared anchor" in family_exponents.sh is
          // shape-level comparable (counts, cost curves), not
          // content-level, unlike legacy mode's when(k===0) passthrough
          // below. Both rewrites
          // SALT the original token rather than replacing it with a
          // position-coded constant: a constant like 'fx0p14' is shared
          // across every document at position i ≡ const and becomes an
          // artificial high-df token — at famW=10/xf=10 that blew the
          // oracle twins' shingle pair joins up (measured: the CC twin
          // went from passing on legacy sf1 to >600 s on the first
          // family-mode cut), i.e. the generator manufactured hot
          // shingles no real corpus has. Salting preserves each token's
          // natural document frequency within its rewrite class.
          shifted.withColumn("text", expr(
            s"""concat_ws(' ', transform(split(text, ' '),
               |  (t, i) -> IF(pmod(i + pmod(__k, $famW), 11) = 0,
               |              concat('rx', __k, '_', t),
               |              IF(pmod(i + (__k div $famW), 3) = 0,
               |                 concat('fx', (__k div $famW), '_', t),
               |                 t))))""".stripMargin))
        else
          shifted.withColumn("text", when(k === 0, col("text")).otherwise(
            // rewrite token i when (i + k) % 11 == 0: k staggers WHICH
            // positions mutate per replica, so replica pairs differ in
            // ~2/11 of positions (~18%), not in one shared mask
            expr("""concat_ws(' ', transform(split(text, ' '),
                   |  (t, i) -> IF(pmod(i + __k, 11) = 0,
                   |              concat('rx', __k, 'p', pmod(i, 97)), t)))"""
              .stripMargin)))
      mutated.withColumn("n_chars", length(col("text")))
    })
    write("embeddings", tile(Tables.table(spark, src, "embeddings")) { (df, k) =>
      shiftCol("vec_id", dVec)(df, k)
        .withColumn("embedding", expr(
          """transform(embedding,
            |  (x, i) -> cast(x + __k * 0.013d * (pmod(i, 7) - 3) as float))"""
            .stripMargin))
    })
    spark.stop()
  }
}
