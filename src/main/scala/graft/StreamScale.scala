package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Measured-scale driver for the two stateful foreachBatch LIFECYCLES
  * (dev/scale tool — the spec-SF twins live in
  * IncrementalDedupStreamSpec / StreamingSpec; this main runs the same
  * loops against a big SF and prints one JSON line of evidence for the
  * SCALE_r{N} artifact):
  *
  *  1. incremental simhash dedup — documents arrive in 3 chunks; each
  *     micro-batch screens against the block index maintained from all
  *     earlier batches, then merges its own blocks in. Verified against
  *     the BANDED arrival-prefix batch screen (the no-banding all-pairs
  *     twin the spec uses is a deliberate cartesian — exact at 500 docs,
  *     intractable at 50k; bandedness is lossless at hamming ≤ 3 by the
  *     Manku pigeonhole argument the spec re-proves).
  *  2. CDC last-writer-wins compaction — the 3-version I/U/D log streams
  *     one version per micro-batch through the LWW compactor; the final
  *     snapshot census must equal the batch merge_cdc_apply census.
  *
  * `runMain graft.StreamScale [sfDir]` — requires the graft tables under
  * sfDir (ScaleGen output qualifies). */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/scale/sf1")
    val spark = GraftSession(Map("spark.sql.shuffle.partitions" -> "32"))
    graft.functions.GraftFunctions.register(spark)

    val scratch = java.nio.file.Files.createTempDirectory("stream_scale")
    def tmp(n: String): String = {
      val p = scratch.resolve(n); java.nio.file.Files.createDirectories(p); p.toString
    }

    // ---- lifecycle 1: incremental simhash dedup over 3 arrival chunks ----
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr("graft_simhash64(split(text, ' '))").as("sim"))
      .withColumn("chunk", pmod(col("doc_id"), lit(3L)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.count()
    val streamDir = tmp("dedup_src")
    val stampBase = 1000000L
    (0L to 2L).foreach { c =>
      docs.filter(col("chunk") === c).select(col("doc_id"), col("sim"))
        .coalesce(1).write.mode("append").parquet(streamDir)
      val t = java.nio.file.attribute.FileTime.fromMillis(stampBase * (c + 1))
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(streamDir))
        .iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .filter(p => java.nio.file.Files.getLastModifiedTime(p).toMillis > stampBase * 4)
        .foreach(p => java.nio.file.Files.setLastModifiedTime(p, t))
    }
    val indexRef = new java.util.concurrent.atomic.AtomicReference[String](null)
    val pairsRef = new java.util.concurrent.atomic.AtomicReference[String](null)
    val version = new java.util.concurrent.atomic.AtomicInteger(0)
    val stateRoot = tmp("dedup_state")
    def screenAndMerge(batch: DataFrame, id: Long): Unit = {
      val s = batch.sparkSession
      val newB = graft.ops.Dedup.simhashBlockRows(batch, "sim")
      val v = version.incrementAndGet()
      Option(indexRef.get()).foreach { idx =>
        val oldB = s.read.parquet(idx)
        val matches = oldB.as("o").join(newB.as("n"), Seq("blk", "bits"))
          .filter(expr("bit_count(o.sim ^ n.sim)") <= 3)
          .select(col("n.doc_id").as("new_doc"),
            struct(expr("cast(bit_count(o.sim ^ n.sim) as bigint)").as("h"),
              col("o.doc_id").as("d")).as("cand"))
          .groupBy(col("new_doc"))
          .agg(min(col("cand")).as("best"))
          .select(col("new_doc"), col("best.d").as("dup_of"),
            col("best.h").as("hamming"))
        val prevPairs = Option(pairsRef.get()).map(s.read.parquet(_))
        val allPairs = prevPairs.map(_.unionByName(matches)).getOrElse(matches)
        val pairsPath = s"$stateRoot/pairs_v$v"
        allPairs.write.mode("overwrite").parquet(pairsPath)
        pairsRef.set(pairsPath)
      }
      val merged = Option(indexRef.get())
        .map(idx => s.read.parquet(idx).unionByName(newB)).getOrElse(newB)
      val idxPath = s"$stateRoot/index_v$v"
      merged.write.mode("overwrite").parquet(idxPath)
      indexRef.set(idxPath)
    }
    val dedupT0 = System.nanoTime()
    val q1 = spark.readStream
      .schema(docs.select(col("doc_id"), col("sim")).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
      .writeStream
      .foreachBatch(screenAndMerge _)
      .option("checkpointLocation", tmp("dedup_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    val dedupOk = q1.awaitTermination(1800000); q1.stop()
    val dedupWall = (System.nanoTime() - dedupT0) / 1e9
    val streamedPairs = spark.read.parquet(pairsRef.get())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = streamedPairs.count()
    // banded arrival-prefix batch twin (same banding, same prefix rule)
    val blocksAll = graft.ops.Dedup
      .simhashBlockRows(docs.select(col("doc_id"), col("sim")), "sim")
      .join(docs.select(col("doc_id"), col("chunk")), "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val twin = blocksAll.as("o").join(blocksAll.as("n"), Seq("blk", "bits"))
      .filter(col("o.chunk") < col("n.chunk") &&
        expr("bit_count(o.sim ^ n.sim)") <= 3)
      .select(col("n.doc_id").as("new_doc"),
        struct(expr("cast(bit_count(o.sim ^ n.sim) as bigint)").as("h"),
          col("o.doc_id").as("d")).as("cand"))
      .groupBy(col("new_doc"))
      .agg(min(col("cand")).as("best"))
      .select(col("new_doc"), col("best.d").as("dup_of"),
        col("best.h").as("hamming"))
    val dedupMatch = streamedPairs.exceptAll(twin).count() == 0 &&
      twin.exceptAll(streamedPairs).count() == 0

    // ---- lifecycle 2: CDC last-writer-wins compaction ----
    val cdcSrc = tmp("cdc_src")
    val log = graft.ops.Lakehouse.cdcLog(spark, sfDir)
    (1L to 3L).foreach { v =>
      log.filter(col("version") === v).coalesce(1)
        .write.mode("append").parquet(cdcSrc)
    }
    val current = new java.util.concurrent.atomic.AtomicReference[String](null)
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val snapRoot = tmp("cdc_snap")
    def compact(batch: DataFrame, id: Long): Unit = {
      val s = batch.sparkSession
      val prev = Option(current.get()).map(s.read.parquet(_))
      val merged = prev.map(_.unionByName(batch)).getOrElse(batch)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderkey")).orderBy(col("version").desc)
      val next = s"$snapRoot/v${nBatches.incrementAndGet()}"
      merged.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .write.mode("overwrite").parquet(next)
      current.set(next)
    }
    val cdcT0 = System.nanoTime()
    val q2 = spark.readStream.schema(log.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(cdcSrc)
      .writeStream
      .foreachBatch(compact _)
      .option("checkpointLocation", tmp("cdc_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    val cdcOk = q2.awaitTermination(1800000); q2.stop()
    val cdcWall = (System.nanoTime() - cdcT0) / 1e9
    val streamedCensus = graft.ops.Lakehouse
      .cdcCensus(spark.read.parquet(current.get()))
    val batchCensus = graft.ops.Lakehouse.cdcApply(spark, sfDir)
      .select(col("o_orderstatus"), col("n_live"), col("sum_price"),
        col("n_updated"))
    val cdcMatch = streamedCensus.exceptAll(batchCensus).count() == 0 &&
      batchCensus.exceptAll(streamedCensus).count() == 0
    val snapRows = spark.read.parquet(current.get()).count()

    println(s"""{"sf_dir":"$sfDir","n_docs":$nDocs,""" +
      s""""dedup":{"finished":$dedupOk,"batches":${version.get()},""" +
      f""""wall_sec":$dedupWall%.1f,"pairs":$nPairs,"twin_match":$dedupMatch},""" +
      s""""cdc":{"finished":$cdcOk,"batches":${nBatches.get()},""" +
      f""""wall_sec":$cdcWall%.1f,"snapshot_rows":$snapRows,""" +
      s""""census_match":$cdcMatch}}""")
    spark.stop()
  }
}
