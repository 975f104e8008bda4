package graft

import graft.functions.{GraftFunctions, SortableDoubleBits}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r15 fixed-bucket rank-selection plan
  * ([[graft.ops.exactPercentilesWith]]) to Spark's own `percentile`
  * aggregate, and the sortable-bits transform to the double ordering it
  * must preserve. The oracle (DuckDB quantile_cont) checks the inventory
  * entries at spec SFs; this spec checks the HELPER on adversarial
  * domains the TPC-H columns never hit — negatives, mixed signs,
  * sub-normal spreads, single-value groups, groups of one row. */
class PercentileRefinementPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("sortable bits preserve the double ordering (property)") {
    def ord(d: Double): Long =
      SortableDoubleBits(org.apache.spark.sql.catalyst.expressions.Literal(d))
        .eval(null).asInstanceOf[Long]
    val rnd = new scala.util.Random(7)
    // varied-regime random doubles: raw bit patterns (covers every
    // exponent, both signs, subnormals) plus uniform/gaussian draws
    val samples = Seq.fill(4000)(
        java.lang.Double.longBitsToDouble(rnd.nextLong())) ++
      Seq.fill(2000)(rnd.nextDouble() * 2e6 - 1e6) ++
      Seq.fill(2000)(rnd.nextGaussian())
    val clean = samples.filterNot(_.isNaN)
    for (Seq(a, b) <- clean.grouped(2)) {
      if (a < b) assert(ord(a) < ord(b), s"$a < $b")
      else if (a > b) assert(ord(a) > ord(b), s"$a > $b")
      else assert(ord(a) === ord(b) || (a == 0.0 && b == 0.0), s"$a == $b")
    }
    // fixed anchors: sign straddle, zero pair, infinities
    val anchors = Seq(Double.NegativeInfinity, -1.7e308, -1.0, -1e-310,
      -0.0, 0.0, 1e-310, 1.0, 1.7e308, Double.PositiveInfinity)
    anchors.sliding(2).foreach { case Seq(x, y) =>
      assert(ord(x) <= ord(y), s"$x vs $y")
    }
  }

  test("exactPercentiles equals Spark's percentile aggregate on adversarial groups") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // groups with wildly different value regimes, incl. negatives and
    // constant groups — bucket geometry must not matter
    val rows = Seq.tabulate(4000) { i =>
      val g = s"g${i % 7}"
      val v = (i % 7) match {
        case 0 => rnd.nextDouble() * 1e6 - 5e5        // mixed sign, wide
        case 1 => -1000.0 - rnd.nextDouble()          // all negative
        case 2 => 42.0                                // constant group
        case 3 => rnd.nextDouble() * 1e-8             // tiny magnitudes
        case 4 => rnd.nextInt(3).toDouble             // heavy ties
        case 5 => math.pow(10, rnd.nextInt(12) - 6) * rnd.nextDouble() // many binades
        case _ => rnd.nextGaussian()
      }
      (g, v)
    } :+ (("solo", 17.5)) // single-row group
    val df = rows.toDF("g", "v")
    val ps = Seq(0.0, 0.01, 0.5, 0.9, 0.99, 1.0)
    val got = graft.ops.exactPercentiles(df, "g",
        ps.zipWithIndex.map { case (p, i) => ("v", p, s"p$i") })
      .orderBy(col("g")).collect()
    val want = df.groupBy(col("g"))
      .agg(ps.zipWithIndex.map { case (p, i) =>
          expr(s"percentile(v, $p)").as(s"p$i") }.head,
        ps.zipWithIndex.map { case (p, i) =>
          expr(s"percentile(v, $p)").as(s"p$i") }.tail: _*)
      .orderBy(col("g")).collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      (1 to ps.size).foreach { j =>
        val (x, y) = (a.getDouble(j), b.getDouble(j))
        assert(x === y,
          s"group ${a.getString(0)} p=${ps(j - 1)}: got $x want $y")
      }
    }
  }

  test("gridBucketPercentiles equals Spark's percentile aggregate (both chain kinds)") {
    // The r20 narrow-chain arm (graft.ops.gridBucketPercentiles) must be
    // value-identical to the aggregate on BOTH paths: a grid column
    // resolved census-only AND a continuous column through the bucket
    // census + refinement chain — same adversarial regimes as above.
    GraftFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(4000) { i =>
      val g = s"g${i % 7}"
      val cont = (i % 7) match {
        case 0 => rnd.nextDouble() * 1e6 - 5e5
        case 1 => -1000.0 - rnd.nextDouble()
        case 2 => 42.0
        case 3 => rnd.nextDouble() * 1e-8
        case 4 => rnd.nextInt(3).toDouble
        case 5 => math.pow(10, rnd.nextInt(12) - 6) * rnd.nextDouble()
        case _ => rnd.nextGaussian()
      }
      // grid regime: small integer domain with heavy ties (the
      // l_quantity shape), including negatives
      val grid = (rnd.nextInt(50) - 10).toDouble
      (g, grid, cont)
    } :+ (("solo", 17.0, 17.5))
    val df = rows.toDF("g", "gv", "cv")
    val got = graft.ops.gridBucketPercentiles(df, "g",
        gridSpecs = Seq(("gv", 0.5, "g50"), ("gv", 0.9, "g90")),
        contSpecs = Seq(("cv", 0.5, "c50"), ("cv", 0.99, "c99")))
      .orderBy(col("g")).collect()
    val want = df.groupBy(col("g"))
      .agg(expr("percentile(gv, 0.5)").as("g50"),
        expr("percentile(gv, 0.9)").as("g90"),
        expr("percentile(cv, 0.5)").as("c50"),
        expr("percentile(cv, 0.99)").as("c99"))
      .select(col("g"), col("g50"), col("g90"), col("c50"), col("c99"))
      .orderBy(col("g")).collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      // result column order: allOuts = grid outs then cont outs
      val names = Seq("g50", "g90", "c50", "c99")
      names.zipWithIndex.foreach { case (n, k) =>
        val x = a.getDouble(a.fieldIndex(n))
        val y = b.getDouble(k + 1)
        assert(x === y, s"group ${a.getString(0)} $n: got $x want $y")
      }
    }
  }

  test("gridBucketPercentilesWith rejects an extra aggregate named like a percentile output") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      graft.ops.gridBucketPercentilesWith(df, "g",
        gridSpecs = Seq(("v", 0.5, "p50")), contSpecs = Nil,
        extraAggs = Seq((count(lit(1)), "p50")))
    }
    assert(e.getMessage.contains("must be unique and disjoint"))
  }
}
