package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Every session gets the same
  * base: `local[cpus]` (unless a caller passes its own master), the UTC
  * session zone, no UI, a suite-sized codegen cache, the scratch dir
  * below and WARN logging. The query runners (Bench, QBench, PlanDump,
  * Verify) add [[queryConf]], so the plans Verify checks are the plans
  * Bench times; other callers add only what their own work needs.
  *
  * The user-settable values are the core count (`SPARK_GRAFT_CPUS`), the
  * scratch dir (`SPARK_GRAFT_LOCAL_DIR`) and, for the pipeline main, the
  * master (`SPARK_MASTER`). */
object GraftSession {
  /** Worker threads: `SPARK_GRAFT_CPUS` when given, else every core the
    * JVM sees. */
  def cpusFrom(env: Option[String]): Int =
    env.fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  lazy val cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  /** RAM-backed scratch base for `spark.local.dir` and the round-trip
    * sinks. Shuffle map outputs, localCheckpoint blocks and cache
    * spill-over otherwise land on the host disk, whose fdatasync
    * throughput on virtualized hosts swings 8× between back-to-back
    * writes (27.9 → 227 MB/s measured) and would turn timings into disk
    * reports; sf0.1 shuffle volume is sub-GB, so /dev/shm removes the
    * disk from the measurement. On a cluster, `spark.local.dir` belongs
    * to the executors' own scratch: set `SPARK_GRAFT_LOCAL_DIR` to a
    * path, or to the empty string for Spark's default (java.io.tmpdir).
    * Spark removes its blockmgr/spill subdirs on stop. */
  def scratchDir(): Option[String] = {
    val base = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-scratch")
    Some(base).filter(_.nonEmpty).filter { b =>
      val f = new java.io.File(b)
      f.mkdirs()
      f.isDirectory && f.canWrite
    }
  }

  /** Confs every session gets. */
  private val baseConf: Map[String, String] = Map(
    // Queries that bin naive timestamps must not drift with the host zone.
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // Whole-stage-codegen compile cache sized to the suite: the
    // 100-entry default holds about four queries' generated classes, so
    // the suite evicts everything between reps and re-pays janino
    // compilation on every execution (measured 2× on the 11 heaviest
    // queries, 25.3 → 12.3 s). ~25 classes/query × 184 queries ≈ 4.6k.
    "spark.sql.codegen.cache.maxEntries" -> "8192")

  /** The regime the query runners check and time, as a pure value. */
  def queryConf(cpus: Int): Map[String, String] = baseConf ++ Map(
    // AQE off: every shuffle here is already explicitly sized (partitions
    // below, broadcasts hinted, repartition counts pinned), so runtime
    // re-planning has nothing to improve, and its per-stage
    // materialization barriers cost ~15% wall (36.5 s off vs 42.5 s on
    // over 98 queries, interleaved). At real scale AQE earns its latency
    // (skew splits, runtime broadcast switches, coalescing over unknown
    // data); the test session keeps it on and SkewJoinSpec pins the
    // skew-split behaviour.
    "spark.sql.adaptive.enabled" -> "false",
    // Reduce-side width sized to data volume, not core count: sf0.1
    // shuffles are sub-100 MB, so cpus/4 partitions keep each reduce task
    // meaningfully sized while quartering per-wave scheduling overhead
    // (43.4 s vs 48.0 s over the full suite against cpus partitions).
    // CPU-heavy stages pin their own width with explicit
    // repartition(defaultParallelism) calls.
    "spark.sql.shuffle.partitions" -> math.max(8, cpus / 4).toString,
    // WindowExec/SMJ/session-window row buffers switch from an in-memory
    // array to a spilling UnsafeExternalSorter at 4096 rows by default;
    // at sf0.1 a 3-group percentile window buffers 200k-row groups, so
    // every big-partition window paid serialize+spill for rows that fit
    // in a few MB (0.86 → 0.72 s on one window pass). 1M rows is at most
    // ~50 MB per group buffer. The spill path stays: this only raises the
    // threshold.
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "1048576",
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "1048576",
    "spark.sql.sessionWindow.buffer.in.memory.threshold" -> "1048576",
    // The LSH queries persist small intermediates; by default AQE must
    // keep a cached plan's output partitioning, so every stage downstream
    // of a cache runs at full shuffle width even when the cached data is
    // tiny (dedup_minhash_lsh at sf0.1 with AQE on: 3.7 s → 2.4 s with
    // this set). With AQE off it changes no plan.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // Bench reads per-query job counts from the status store after all
    // passes; the 1000-job default would evict the early groups of a
    // ~5k-job suite.
    "spark.ui.retainedJobs" -> "100000")
  // Compression confs stay at Spark's defaults: shuffle/broadcast/cache
  // compression off measured ~45.0 s vs ~42.7 s on over the full suite.

  /** Builds (or returns) the session: the base, then `conf`. */
  def apply(conf: Map[String, String] = Map.empty,
      master: String = s"local[$cpus]"): SparkSession = {
    val all = baseConf ++ scratchDir().map("spark.local.dir" -> _) ++ conf
    val spark = all.foldLeft(SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The query runners' session: the base plus [[queryConf]]. */
  def forQueries(): SparkSession = apply(queryConf(cpus))
}
