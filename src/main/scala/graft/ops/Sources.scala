package graft.ops

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink round-trips beyond parquet: CSV and JSON-lines, the two
  * text formats every ingest surface must speak (the reference's own
  * entry point is a CSV ingest — `/root/reference/01.py:168-233`).
  *
  * Each query writes a projected slice of `lineitem` to the format under
  * test, reads it back with an EXPLICIT schema (never inference — schema
  * inference is an extra full scan and nondeterministic typing at scale),
  * and aggregates a census that must hash-match the oracle computed on
  * the original parquet. A value surviving the round-trip bit-exactly is
  * the property under test: Spark serializes doubles via shortest
  * round-trip decimal form, so parse-back is exact by construction.
  *
  * Scale posture: the write is a straight narrow pipeline (no shuffle);
  * the read-back scan prunes to the census columns; only the final
  * grouped census shuffles (map-side combined, ~#groups rows). Writer
  * parallelism = input partitions, so at 100 TB the round-trip is
  * embarrassingly parallel in both directions.
  */
object Sources {

  private val censusSchema = StructType(Seq(
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType)))

  /** No writer repartition: at this scale the serial write beats the
    * shuffle + many-file read-back (A/B at sf0.1: repartition(32) made
    * csv 1.2 → 2.0 s and orc 0.9 → 1.3 s). At 100 TB the calculus flips —
    * writer width gets sized to the cluster with exactly such an explicit
    * exchange — but the local regime keeps the narrow single-pass plan. */
  private def slice(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_returnflag"), col("l_linestatus"),
      col("l_quantity"), col("l_extendedprice"))

  private def census(df: DataFrame): DataFrame =
    df.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .sortSmall(col("l_returnflag"), col("l_linestatus"))

  /** Shared by both round-trips: the same census computed straight off the
    * parquet table — what the round-tripped census must equal. */
  private[ops] val censusSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** One scratch root per JVM, cleaned by a SINGLE shutdown hook — a long
    * session calling the round-trips repeatedly must not accumulate hooks
    * or tmp data. Each query writes to a FIXED subdir under the root with
    * mode("overwrite"), so repeated invocations reuse (not grow) the
    * footprint. Local-FS java.nio path: these two ops are local-mode
    * round-trip harnesses; on a cluster the same pipelines would point at
    * a shared warehouse/scratch URI instead. */
  private lazy val scratchRoot: java.nio.file.Path = {
    // Rooted at GraftSession.scratchDir (RAM-backed /dev/shm when
    // present) for the same reason spark.local.dir is: the roundtrip
    // sinks' cost should be the engine's write/read path, not the host
    // disk's 8×-variance fdatasync weather (BENCH_NOTES §Round 11).
    // Falls back to java.io.tmpdir when no RAM scratch exists.
    val base = GraftSession.scratchDir()
      .map(d => java.nio.file.Paths.get(d))
      .getOrElse(java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir")))
    val p = java.nio.file.Files.createTempDirectory(base, "graft_roundtrip")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del))
        f.delete(): Unit
      }
      del(p.toFile)
    }))
    p
  }

  private[graft] def tempDir(name: String): String =
    scratchRoot.resolve(name).toString

  /** lineitem slice → CSV files → read back (explicit schema, header) →
    * census. Plain values (no embedded delimiters/quotes in this slice);
    * quoting behavior itself is pinned by `IngestSpec` on the reference
    * ingest path. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("graft_csv_rt")
    slice(spark, dir).write.mode("overwrite")
      .option("header", "true").csv(out)
    census(spark.read.schema(censusSchema)
      .option("header", "true").csv(out))
  }

  val csvRoundtripSql: String = censusSql

  /** lineitem slice → JSON-lines files → read back (explicit schema) →
    * census. */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("graft_json_rt")
    slice(spark, dir).write.mode("overwrite").json(out)
    census(spark.read.schema(censusSchema).json(out))
  }

  val jsonRoundtripSql: String = censusSql

  /** lineitem slice → ORC files → read back (explicit schema) → census.
    * ORC is the third columnar format a warehouse-grade engine must speak
    * (Hive-ecosystem tables); Spark's native vectorized ORC reader gets
    * the same pushdown/pruning treatment as parquet. Round-trip is exact:
    * ORC stores the slice's doubles/strings natively, no text parse. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("graft_orc_rt")
    slice(spark, dir).write.mode("overwrite").orc(out)
    census(spark.read.schema(censusSchema).orc(out))
  }

  val orcRoundtripSql: String = censusSql

  /** Raw text-lines source: documents' text written one-doc-per-line via
    * the text sink, read back with `spark.read.text` — the format every
    * crawl/log ingest starts from (no schema, no delimiter discipline,
    * just lines). The census (line count + exact total/min/max line
    * lengths) must match the same stats computed on the original table's
    * text column, proving lossless line round-tripping. Writer/reader are
    * both narrow passes; only the census aggregate shuffles (one row per
    * partition after partial aggregation). */
  def textLinesRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("graft_text_rt")
    Tables.documents(spark, dir).select(col("text"))
      .write.mode("overwrite").text(out)
    spark.read.text(out)
      .select(length(col("value")).cast("long").as("len"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("len")).cast("long").as("total_chars"),
        min(col("len")).as("min_chars"), max(col("len")).as("max_chars"))
  }

  val textLinesRoundtripSql: String =
    """SELECT COUNT(*) AS n_lines,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      |  CAST(MIN(length(text)) AS BIGINT) AS min_chars,
      |  CAST(MAX(length(text)) AS BIGINT) AS max_chars
      |FROM documents""".stripMargin

  /** Hive-partitioned sink → partition-PRUNED read-back: documents are
    * written `partitionBy("lang")` and read back with a partition-column
    * filter, which Spark resolves against the directory listing — the
    * scan's `PartitionFilters` prune whole directories and the
    * non-matching partitions are never opened (PlanSpec asserts it). At
    * 100 TB this is the difference between listing 2 directories and
    * scanning the corpus: partition-by-low-cardinality-key is the
    * foundational layout decision for every sliced workload. The census
    * over the kept partitions must hash-match a plain filtered census on
    * the original parquet. */
  def partitionedPruned(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("graft_part_docs")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    prunedCensus(spark.read.parquet(out))
  }

  /** Dynamic partition pruning — the star-schema prune: the fact table is
    * laid out partitioned by o_orderstatus; a status DIM table is
    * filtered on a NON-KEY attribute (`status_class <> 'pending'`), so
    * the surviving join keys are only known at runtime. Catalyst injects
    * a DynamicPruningExpression into the partitioned scan: the dim side
    * executes first (its broadcast is reused) and the non-qualifying
    * partition ('P') is never listed or opened. With partition-keyed
    * layouts at 100 TB this is the highest-leverage prune there is,
    * complementing the bloom runtime filter (rows, not partitions).
    * DPP's build-side check wants scan→filter→project — an
    * aggregate-derived key set does NOT qualify (measured; that shape
    * falls back to a post-scan join filter), which is why the dim is a
    * real table here, exactly like the date-dim prunes production DPP
    * serves. `PlanSpec` asserts the dynamicpruning subquery reaches the
    * scan and that 'P' is pruned. */
  def dppPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    val factOut = tempDir("graft_dpp_orders")
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(factOut)
    val dimOut = tempDir("graft_dpp_statusdim")
    statusDim(spark, dir)
      .write.mode("overwrite").parquet(dimOut)
    dppCensus(spark.read.parquet(factOut), spark.read.parquet(dimOut))
  }

  /** Tiny status dimension (key + class attribute), derived once from the
    * source table so the query stays self-contained. */
  private def statusDim(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderstatus")).distinct()
      .select(col("o_orderstatus"),
        when(col("o_orderstatus") === "F", lit("done"))
          .when(col("o_orderstatus") === "O", lit("open"))
          .otherwise(lit("pending")).as("status_class"))

  /** Split out so PlanSpec can assert the pruning subquery on the plan. */
  private[graft] def dppCensus(fact: DataFrame, dim: DataFrame): DataFrame =
    fact.join(broadcast(dim.filter(col("status_class") =!= "pending")),
        Seq("o_orderstatus"))
      .groupBy(col("o_orderstatus"), col("status_class"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
      .sortSmall(col("o_orderstatus"))

  val dppPrunedJoinSql: String =
    """WITH dim AS (
      |  SELECT o_orderstatus,
      |    CASE o_orderstatus WHEN 'F' THEN 'done' WHEN 'O' THEN 'open'
      |         ELSE 'pending' END AS status_class
      |  FROM (SELECT DISTINCT o_orderstatus FROM orders) s)
      |SELECT o.o_orderstatus, d.status_class, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders o JOIN dim d USING (o_orderstatus)
      |WHERE d.status_class <> 'pending'
      |GROUP BY 1, 2 ORDER BY o_orderstatus""".stripMargin

  /** Split out so PlanSpec can assert PartitionFilters on the same plan. */
  private[graft] def prunedCensus(partitioned: DataFrame): DataFrame =
    partitioned
      .filter(col("lang").isin("en", "es"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .sortSmall(col("lang"))

  val partitionedPrunedSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE lang IN ('en', 'es')
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** NESTED parquet round-trip: lineitem folded to one row per order
    * with a sorted `items: array<struct<…>>` column, written and read
    * back as nested parquet, then censused ENTIRELY off the nested
    * read-back (per-row array size + an exact decimal array fold — the
    * deterministic fold order is the sort_array order both engines never
    * see, since only its order-independent decimal sum escapes). The
    * oracle computes the same census from the FLAT table, so the
    * hash-compare proves the nested write/read lossless. Nested columns
    * are how real lakehouse schemas ship (orders-with-items,
    * docs-with-chunks); `NestedSourceSpec` additionally pins that a
    * subfield projection reaches the scan (ReadSchema prunes to the one
    * struct field — the nested column-pruning that makes a 100 TB
    * nested layout queryable at item granularity without reading whole
    * structs). */
  def nestedStructRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("graft_nested_rt")
    nestedWrite(spark, dir, out)
    val back = spark.read.parquet(out)
    // r20: fold over the EXTRACTED l_quantity array (`items.l_quantity`
    // is one vectorized field projection) instead of dragging the whole
    // struct through the lambda and field-accessing per element —
    // value-identical decimal fold, 0.235 → 0.148 s for the read+census
    // side (min-of-5, sf0.1).
    back.select(size(col("items")).as("c"),
        expr("""aggregate(items.l_quantity, cast(0 as decimal(18,4)),
          |  (a, x) -> cast(a + cast(x as decimal(18,4)) as decimal(18,4)))""".stripMargin)
          .as("qty"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("c")).cast("long").as("n_items"),
        max(col("c")).as("max_items"),
        sum(col("qty")).cast("double").as("sum_qty"))
  }

  /** The nested write, shared with `NestedSourceSpec`'s pruning probe.
    *
    * r21 (VERDICT r20 task 2): the collect_list object-agg is the
    * entry's dominant constant. Repartitioning by the group key and
    * sorting within partitions FIRST (one exchange either way — the
    * groupBy reuses the repartition's hashpartitioning) feeds the
    * ObjectHashAggregate contiguous groups: one partial buffer per key,
    * consecutive same-key probes, no buffer-merge fan-in across map
    * tasks shipping per-partition array fragments. Probe min-of-5 at
    * sf0.1 (noop): 0.691 → 0.464 s for the aggregate; the SortAggregate
    * arm (0.401) stays rejected — it needs a session-wide conf flip
    * that is unsafe under the 8-stream throughput pass. sort_array is
    * kept even though the pre-sort already delivers l_linenumber order
    * (unique per order, first struct field): it pins the written array
    * content against planner changes for ~30 ms. At 100 TB the local
    * sort is a spillable SortExec and per-group buffers stay bounded by
    * items-per-order. */
  private[graft] def nestedWrite(
      spark: SparkSession, dir: String, out: String): Unit =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .repartition(col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice")))).as("items"))
      .write.mode("overwrite").parquet(out)

  /** Oracle twin: the identical census from the FLAT lineitem. */
  val nestedStructRoundtripSql: String =
    """WITH g AS (
      |  SELECT l_orderkey, COUNT(*) AS c,
      |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty
      |  FROM lineitem GROUP BY 1)
      |SELECT COUNT(*) AS n_orders, CAST(SUM(c) AS BIGINT) AS n_items,
      |  CAST(MAX(c) AS INTEGER) AS max_items,
      |  CAST(SUM(qty) AS DOUBLE) AS sum_qty
      |FROM g""".stripMargin
}
