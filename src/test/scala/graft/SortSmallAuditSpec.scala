package graft

import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec,
  LeafExecNode, LocalLimitExec, SparkPlan, TakeOrderedAndProjectExec,
  UnionExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM
import org.scalatest.funsuite.AnyFunSuite

/** Machine-checks the `sortSmall` boundedness CONTRACT (r20 ADVICE /
  * VERDICT r20 task 5): `df.sortSmall(...)` = repartition(1) + local
  * sort, which is only a legitimate finisher when the input is
  * group-domain-sized — a data-sized result through a single-partition
  * exchange would serialize the final stage at 100 TB. Until now that
  * precondition was comment-convention only. This audit walks every
  * registered query's physical plan: wherever a single-partition
  * REPARTITION_BY_NUM exchange appears (the sortSmall signature — ranged
  * global sorts plan `rangepartitioning` and never match), the subtree
  * BELOW it must be provably bounded — rooted in an aggregate, a limit,
  * or a union/join/projection of such — never a raw scan. Structural,
  * not cardinality-based, so the pin holds at every SF, not only the
  * checked ones. */
class SortSmallAuditSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // Audit the AQE-OFF plan — the query regime (GraftSession.queryConf
  // pins adaptive off), and the only way the structural walk sees
  // the exchanges: under AQE the root is an AdaptiveSparkPlanExec whose
  // collect() does not descend into the lazily-staged inner plan.
  // Forked test JVM runs suites sequentially, so the flip cannot bleed
  // into a concurrently-planning suite; restored in afterAll.
  private var aqeWas: Option[String] = None
  override def beforeAll(): Unit = {
    super.beforeAll()
    aqeWas = try Some(spark.conf.get("spark.sql.adaptive.enabled"))
      catch { case _: Throwable => None }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
  }
  override def afterAll(): Unit = {
    aqeWas.foreach(spark.conf.set("spark.sql.adaptive.enabled", _))
    super.afterAll()
  }

  /** A subtree is bounded when every path to a leaf passes through an
    * aggregate or a limit: aggregates emit group-domain-sized outputs
    * (the inventory's censuses), limits are bounded by construction, and
    * projections/filters/sorts/windows/generates/joins/unions of bounded
    * inputs stay census-scaled. A leaf (scan, checkpointed RDD, cached
    * relation, range) reached WITHOUT crossing one is data-sized. */
  private def bounded(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => true
    case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec |
        _: TakeOrderedAndProjectExec => true
    // rank/row_number ≤ k filters plan a WindowGroupLimit: ≤ k rows per
    // partition key — the same group-domain boundedness class as an
    // aggregate (dedup_keep_first, top-k-per-group finals)
    case _: org.apache.spark.sql.execution.window.WindowGroupLimitExec => true
    // a reused exchange is a leaf that POINTS AT another subtree — judge
    // the referent (sketch censuses joined against themselves)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      bounded(r.child)
    // a cached relation is a leaf that points at the plan that built it
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      bounded(m.relation.cachedPlan)
    // literal/driver-side constant relations are bounded by construction
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case r: org.apache.spark.sql.execution.RDDScanExec
        if r.nodeName.contains("OneRowRelation") => true
    // spark.range(n) is sized by a query-text literal, never by data
    // (agg_hll_intersection's 2-row event-type-pair domain)
    case _: org.apache.spark.sql.execution.RangeExec => true
    case u: UnionExec => u.children.forall(bounded)
    case leaf: LeafExecNode => false
    case other => other.children.nonEmpty && other.children.forall(bounded)
  }

  /** The unbounded leaves a failing subtree bottoms out in (diagnostics). */
  private def offenders(p: SparkPlan): Seq[SparkPlan] =
    if (bounded(p)) Nil
    else p match {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        offenders(r.child)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        offenders(m.relation.cachedPlan)
      case leaf: LeafExecNode => Seq(leaf)
      case other if other.children.isEmpty => Seq(other)
      case other => other.children.flatMap(offenders)
    }

  private def singlePartitionRepartitions(p: SparkPlan): Seq[SparkPlan] =
    p.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning == SinglePartition &&
            e.shuffleOrigin == REPARTITION_BY_NUM => e.child
    }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name: every single-partition repartition sits over a bounded subtree") {
      val plan = fn(spark, dir).queryExecution.executedPlan
      singlePartitionRepartitions(plan).foreach { child =>
        assert(bounded(child),
          s"$name repartitions a DATA-SIZED subtree to one partition — " +
            s"sortSmall's boundedness contract requires an aggregate/limit " +
            s"root; use a ranged orderBy instead. Offending leaves: " +
            s"${offenders(child).map(_.nodeName).distinct.mkString(", ")}\n$child")
      }
      try spark.sharedState.cacheManager.clearCache()
      catch { case _: Throwable => () }
    }
  }

  test("canary: a raw-scan sortSmall is flagged (audit is non-vacuous)") {
    import graft.ops._
    import org.apache.spark.sql.functions.col
    val bad = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).sortSmall(col("doc_id"))
      .queryExecution.executedPlan
    val hits = singlePartitionRepartitions(bad)
    assert(hits.nonEmpty, "canary plan lost its single-partition exchange")
    assert(hits.forall(c => !bounded(c)),
      "audit failed to flag a data-sized single-partition repartition")
  }

  test("canary: a census sortSmall passes (checker accepts aggregates)") {
    import graft.ops._
    import org.apache.spark.sql.functions._
    val good = spark.range(1000).toDF("id")
      .groupBy((col("id") % 10).as("g")).agg(count(lit(1)).as("n"))
      .sortSmall(col("g"))
      .queryExecution.executedPlan
    val hits = singlePartitionRepartitions(good)
    assert(hits.nonEmpty, "canary plan lost its single-partition exchange")
    assert(hits.forall(bounded), "checker rejected a census finisher")
  }
}
