package graftbench

import graft.{GreenTaxiPipeline, SparkEntry, Tables}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `suite_serial`: the operator inventory of `SparkEntry.queries` over the
  * relayouted sf0.01 tables, one query at a time.
  *
  * Set-up starts the session, relayouts the tables the way `graft.Bench`
  * does, builds the flagship queries' reference pair with the pipeline,
  * runs every benched query once on four streams, checking each result,
  * and makes one untimed serial pass. The timed phase then runs whole
  * serial passes over the benched queries, each in an order drawn from
  * the seed and with the cache cleared between queries, until `--seconds`
  * have passed. */
object Suite {
  val Streams = 4
  /** Seed of the 49,647-row pipeline output the flagship queries read. */
  val RefSeed = 20130901L

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  def family(name: String): String = name.takeWhile(_ != '_')

  /** The benched queries: the first query of each family in name order
    * plus both flagship queries, so one pass touches all 22 families. */
  def benched: Seq[String] =
    queries.keys.toSeq.sorted.groupBy(family).toSeq.sortBy(_._1)
      .flatMap { case (f, qs) => if (f == "flagship") qs else qs.take(1) }

  def run(args: Main.Args, res: Main.Result,
      traceOut: mutable.Map[String, String]): Unit = {
    val spark = Main.session(args.work)
    val (tables, relayoutS) = Main.time(relayout(spark, args.data, args.work.resolve("tables")))
    val refTrace = if (args.trace) Some(new Trace) else None
    refTrace.foreach(Trace.attach(spark, _))
    val ref = buildReference(spark, args.work)
    refTrace.foreach { t => t.quiesce(); Trace.detach(spark, t) }
    val names = benched
    val rnd = new scala.util.Random(args.seed)
    val (_, checkS) = Main.time(checkPass(spark, tables, names, Expected.load(args.expected),
      ref.facts, rnd, res))
    // After the checked pass a serial noop-sink pass is still a quarter
    // slower than later ones; one untimed serial pass takes up most of it.
    val (_, warmS) = Main.time(pass(spark, tables, rnd.shuffle(names), res))
    res.put("setup_s", Main.sinceJvmStart() - ref.genS, "s")
    res.extra("setup_split") =
      f"relayout $relayoutS%.2f s, reference ${ref.wall}%.2f s, check pass $checkS%.2f s, warm pass $warmS%.2f s"

    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val walls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (walls.isEmpty || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      val (samples, wall) = Main.time(pass(spark, tables, rnd.shuffle(names), res))
      samples.foreach { case (n, q) => lat.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += q.latency }
      walls += wall
    }
    // A query's latency is its median over the passes; the percentiles
    // are taken across queries.
    val perQuery = lat.view.mapValues(xs => Main.median(xs.toSeq)).toMap
    val wall = Main.median(walls.toSeq)
    val p50 = Main.percentile(perQuery.values.toSeq, 0.5)
    val p90 = Main.percentile(perQuery.values.toSeq, 0.9)
    val qps = lat.values.map(_.size).sum / walls.sum
    res.put("wall_s", wall, "s")
    res.put("op_p50_s", p50, "s")
    res.put("op_p90_s", p90, "s")
    res.put("query_p50_s", p50, "s")
    res.put("query_p90_s", p90, "s")
    res.put("queries_per_s", qps, "1/s")
    res.extra("benched_queries") = s"${names.size} of ${queries.size}"
    res.extra("timed_passes") = walls.size.toString
    Files.writeString(args.work.resolve(s"latencies-seed${args.seed}.json"),
      lat.map { case (n, xs) => s"${Main.jsonString(n)}:${xs.map(Main.num).mkString("[", ",", "]")}" }
        .mkString("{", ",", "}\n"))
    res.extra("flagship_source") = s"generated ${Taxi.WarmRows}-row pipeline output (seed $RefSeed)"

    if (args.trace) {
      val trace = new Trace
      Trace.attach(spark, trace)
      val (samples, tracedWall) = Main.time(
        pass(spark, tables, rnd.shuffle(names), res))
      trace.quiesce(minPlans = samples.size)
      Trace.detach(spark, trace)
      res.put("trace.overhead", tracedWall / wall, "ratio")
      res.put("tables.relayout_s", relayoutS, "s")
      layers(trace, names, samples, res, traceOut)
      res.put("cache.blocks_left", Trace.cachedBlocks(spark), "count")
      refTrace.foreach { t =>
        Taxi.pipelineLayers(t, t.jobsWhere(_.group == "ref|w"), ref.wall, ref.csvBytes,
          ref.dir, res, traceOut)
      }
    }
  }

  /** The flagship queries' reference pair: where it is, the facts of its
    * CSV, and the seconds spent generating the CSV and running the pipeline. */
  final case class Ref(dir: Path, facts: TaxiGen.Facts, genS: Double, wall: Double,
      csvBytes: Double)

  /** One timed query: its latency, how much of it went to building the
    * DataFrame and to codegen compiles, and the wall-clock milliseconds
    * at which it started, started its write and ended. */
  final case class Sample(latency: Double, construct: Double, compile: Double,
      startMs: Long, writeMs: Long, endMs: Long)

  /** Writes the flagship queries' reference pair (01/02.parquet) with the
    * pipeline, into the directory `SPARK_GRAFT_REF_DIR` names. */
  def buildReference(spark: SparkSession, work: Path): Ref = {
    val ref = work.resolve("ref")
    val env = sys.env.get("SPARK_GRAFT_REF_DIR").map(Paths.get(_).toAbsolutePath)
    require(env.contains(ref.toAbsolutePath),
      s"SPARK_GRAFT_REF_DIR must name $ref, where set-up builds the reference pair; got $env")
    Main.deleteTree(ref)
    Files.createDirectories(ref)
    val csv = ref.resolve("green.csv").toString
    val (facts, genS) = Main.time(TaxiGen.write(csv, Taxi.WarmRows, RefSeed))
    spark.sparkContext.setJobGroup("ref|w", "reference pair")
    val wall =
      try Main.time(GreenTaxiPipeline.run(spark, csv, ref.toString))._2
      finally spark.sparkContext.clearJobGroup()
    Ref(ref, facts, genS, wall, Files.size(Paths.get(csv)).toDouble)
  }

  /** `graft.Bench`'s relayout: each table rewritten as max(8, cores/4)
    * files, `events` through `Tables.events` so its timestamps are
    * normalised once. */
  def relayout(spark: SparkSession, src: String, out: Path): String = {
    Main.deleteTree(out)
    val n = math.max(8, spark.sparkContext.defaultParallelism / 4)
    val frames = ("events" -> Tables.events(spark, src)) +:
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "documents", "embeddings").map(t => t -> Tables.table(spark, src, t))
    onStreams(frames, "relayout") { case (t, df) =>
      df.repartition(n).write.parquet(out.resolve(s"$t.parquet").toString)
    }
    Tables.preTouch(spark, out.toString)
    out.toString
  }

  /** One serial pass over `order`, clearing the cache after each query;
    * returns a sample per query that succeeded. */
  def pass(spark: SparkSession, dir: String, order: Seq[String],
      res: Main.Result): Map[String, Sample] = {
    val out = mutable.LinkedHashMap.empty[String, Sample]
    def one(name: String): Unit = {
      val fn = queries(name)
      val sc = spark.sparkContext
      Main.attempt(res, s"$name (timed)") {
        val c0 = Main.codegenSeconds()
        val m0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        sc.setJobGroup(s"$name|c", name)
        val df = try fn(spark, dir) finally sc.clearJobGroup()
        val t1 = System.nanoTime()
        val m1 = System.currentTimeMillis()
        sc.setJobGroup(s"$name|w", name)
        try df.write.format("noop").mode("overwrite").save() finally sc.clearJobGroup()
        val t2 = System.nanoTime()
        out(name) = Sample((t2 - t0) / 1e9, (t1 - t0) / 1e9, Main.codegenSeconds() - c0,
          m0, m1, System.currentTimeMillis())
      }
      spark.sharedState.cacheManager.clearCache()
    }
    order.foreach(one)
    out.toMap
  }

  /** One query's traced split, in seconds. */
  final case class Split(name: String, wall: Double, construct: Double, constructJobs: Int,
      plan: Double, exec: Double, jobs: Double, codegen: Double, writeJobs: Int,
      within10pct: Boolean)

  /** Per-query and per-layer split of one traced pass. */
  def layers(trace: Trace, names: Seq[String], samples: Map[String, Sample],
      res: Main.Result, traceOut: mutable.Map[String, String]): Unit = {
    val all = trace.jobsWhere(j => j.group.endsWith("|c") || j.group.endsWith("|w"))
    Trace.generic(trace, all,
      samples.values.toSeq.flatMap(q => trace.plansBetween(q.startMs, q.endMs)), res)
    val perQuery = names.filter(samples.contains).map { n =>
      val q = samples(n)
      val cJobs = all.filter(_.group == s"$n|c")
      val wJobs = all.filter(_.group == s"$n|w")
      val plan = trace.plansBetween(q.writeMs, q.endMs)
      val planS = plan.map(p => p.analysisMs + p.optimizationMs + p.planningMs).sum / 1000.0
      // Execution runs from the end of the write's planning to the write's
      // return: driver-side preparation and codegen, the jobs, the commit.
      val execS = (q.endMs - plan.map(_.endMs).maxOption.getOrElse(q.writeMs)) / 1000.0
      val jobsS =
        if (wJobs.isEmpty) 0.0
        else (wJobs.map(_.end).max - wJobs.map(_.start).min) / 1000.0
      val sum = q.construct + planS + execS
      Split(n, q.latency, q.construct, cJobs.size, planS, execS, jobsS, q.compile,
        wJobs.size, math.abs(sum - q.latency) <= 0.1 * q.latency)
    }
    res.put("construct.s", perQuery.map(_.construct).sum, "s")
    res.put("construct.jobs", perQuery.map(_.constructJobs).sum.toDouble, "count")
    res.put("exec.s", perQuery.map(_.exec).sum, "s")
    res.put("exec.driver_s", perQuery.map(q => q.exec - q.jobs).sum, "s")
    val within = perQuery.count(_.within10pct).toDouble / math.max(1, perQuery.size)
    res.put("layers.within_10pct_share", within, "ratio")
    perQuery.groupBy(q => family(q.name)).toSeq.sortBy(_._1).foreach { case (f, qs) =>
      res.put(s"family.$f.s", qs.map(_.wall).sum, "s")
      res.put(s"family.$f.jobs", qs.map(q => q.constructJobs + q.writeJobs).sum.toDouble, "count")
    }
    traceOut("queries") = perQuery.map { q =>
      s"""{"name":${Main.jsonString(q.name)},"wall_s":${Main.num(q.wall)},""" +
        s""""construct_s":${Main.num(q.construct)},"construct_jobs":${q.constructJobs},""" +
        s""""plan_s":${Main.num(q.plan)},"exec_s":${Main.num(q.exec)},"jobs_s":${Main.num(q.jobs)},""" +
        s""""codegen_s":${Main.num(q.codegen)},"write_jobs":${q.writeJobs},""" +
        s""""within_10pct":${q.within10pct}}"""
    }.mkString("[", ",", "]")
  }

  /** Runs every benched query once on [[Streams]] streams, collecting and
    * checking its result. A wrong result or an exception is a failure. */
  def checkPass(spark: SparkSession, dir: String, names: Seq[String],
      expected: Map[String, Expected.Entry], refFacts: TaxiGen.Facts,
      rnd: scala.util.Random, res: Main.Result): Unit = {
    onStreams(rnd.shuffle(names), "check") { name =>
      Main.attempt(res, s"$name (check)") {
        val df = queries(name)(spark, dir)
        val rows = df.collect()
        val got = Expected.entry(df.schema.toString, rows)
        expected.get(name) match {
          case None => throw new AssertionError("no expected result recorded")
          case Some(want) if want != got =>
            throw new AssertionError(s"got $got, want $want")
          case _ =>
        }
        flagshipFacts(name, refFacts).foreach { want =>
          val census = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          val wrong = want.filter { case (k, v) => !census.get(k).contains(v) }
          if (wrong.nonEmpty)
            throw new AssertionError("census differs from the generator's facts at " +
              wrong.keys.toSeq.sorted.mkString(","))
        }
      }
    }
    spark.sharedState.cacheManager.clearCache()
  }

  /** Runs `f` on every item, [[Streams]] threads pulling from one queue;
    * rethrows the first exception once all threads have finished. */
  def onStreams[T](items: Seq[T], name: String)(f: T => Unit): Unit = {
    val queue = new ConcurrentLinkedQueue[T](items.asJava)
    val error = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (1 to Streams).map { i =>
      val th = new Thread(() => {
        var next = queue.poll()
        while (next != null) {
          try f(next) catch { case e: Throwable => error.compareAndSet(null, e) }
          next = queue.poll()
        }
      }, s"graftbench-$name-$i")
      th.start()
      th
    }
    threads.foreach(_.join())
    Option(error.get()).foreach(e => throw e)
  }

  /** What the flagship censuses must report over the generated reference. */
  def flagshipFacts(name: String, f: TaxiGen.Facts): Option[Map[String, Long]] = name match {
    case "flagship_golden_parity" => Some(
      (0 until 24).map(h => f"h$h%02d" -> f.hourSums(h)).toMap ++
      (0 until 7).map(d => s"dow$d" -> f.dowBug(d)) ++
      Map("n_rows" -> f.rows, "jfk_rows" -> f.jfkRows, "neg_durations" -> f.negDurations,
        "min_duration" -> f.minDuration, "max_duration" -> f.maxDuration,
        "null_durations" -> 0L, "diff_derived_minus_golden" -> 0L,
        "diff_golden_minus_derived" -> 0L))
    case "flagship_fixed_dow" => Some(
      (0 until 7).map(d => s"dow$d" -> f.dowFixed(d)).toMap ++
      Map("n_rows" -> f.rows, "encoded_rows" -> f.rows))
    case _ => None
  }

  /** Records the expected row count and digest of every inventory query,
    * and writes each result as parquet (plus `oracle_sql.json`) so
    * `tools/check_oracle.py` can check the recorded results. */
  def record(args: Main.Args, target: Path): Unit = {
    val spark = Main.session(args.work)
    val tables = relayout(spark, args.data, args.work.resolve("tables"))
    buildReference(spark, args.work)
    val outDir = args.work.resolve("record")
    Main.deleteTree(outDir)
    val entries = queries.keys.toSeq.sorted.map { name =>
      val df = queries(name)(spark, tables)
      val rows = df.collect()
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.parquet(outDir.resolve(name).toString)
      spark.sharedState.cacheManager.clearCache()
      name -> Expected.entry(df.schema.toString, rows)
    }
    Files.writeString(outDir.resolve("oracle_sql.json"),
      SparkEntry.oracleSql.map { case (k, v) => s"${Main.jsonString(k)}:${Main.jsonString(v)}" }
        .mkString("{", ",", "}"))
    Files.createDirectories(target.getParent)
    Files.writeString(target, entries.map { case (n, e) =>
      s"""  ${Main.jsonString(n)}: {"rows": ${e.rows}, "digest": "${e.digest}"}"""
    }.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}

/** Expected suite results: row count plus an order-blind digest. */
object Expected {
  final case class Entry(rows: Long, digest: String)

  def load(path: Path): Map[String, Entry] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    node.fields().asScala.map { e =>
      e.getKey -> Entry(e.getValue.get("rows").asLong(), e.getValue.get("digest").asText())
    }.toMap
  }

  /** The digest sums a 64-bit hash of each row's canonical text, so it
    * ignores row order; the schema is hashed in as well. */
  def entry(schema: String, rows: Array[Row]): Entry = {
    var sum = hash64(schema)
    rows.foreach(r => sum += hash64(canonical(r)))
    Entry(rows.length.toLong, f"$sum%016x")
  }

  private def hash64(s: String): Long = {
    val h = scala.util.hashing.MurmurHash3
    (h.stringHash(s, 0x3c6ef372).toLong << 32) | (h.stringHash(s, 0x1b873593) & 0xffffffffL)
  }

  def canonical(v: Any): String = v match {
    case null => "~"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case a: Array[Byte] => java.util.Base64.getEncoder.encodeToString(a)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }
}
