package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Streaming corpus ingestion with ONLINE near-dup dedup: a
  * `foreachBatch` sink that dedups every micro-batch against the corpus
  * accumulated so far — [[Dedup.incrementalSurvivors]] per batch, with
  * the LSH index ([[Dedup.nearDupIndex]]) growing by exactly the
  * survivors' rows. The 100 TB story: each arriving batch broadcasts its
  * bucket rows and probes the standing index map-side; nothing ever
  * recomputes or reshuffles the corpus, so ingest cost stays O(batch)
  * per batch forever.
  *
  * Replay safety (foreachBatch is at-least-once): every batch writes to
  * batch-keyed partition directories (`.../batch=<batchId>`) with
  * OVERWRITE, so a replayed micro-batch rewrites the same files instead
  * of double-appending — idempotent without a transaction log, the same
  * `partitionBy + overwrite` recipe Spark's own docs give for
  * foreachBatch parquet sinks. The one wrinkle: a replay dedups against
  * an index that may already contain the batch's own survivors, so the
  * batch's own rows are EXCLUDED from the index frames before probing
  * (filter on the batch partition), making the decision identical on
  * first delivery and on every replay.
  *
  * Layout under `rootDir`: `docs/` (surviving documents),
  * `index-buckets/` (band, bucket, id), `index-shingles/` (id, sh) —
  * all plain parquet, partitioned by `batch`.
  *
  * Contract: `rootDir` belongs to ONE streaming query lineage — batch
  * ids are the idempotence key, so restarting with a FRESH checkpoint
  * (batch ids restart at 0) against an existing rootDir would overwrite
  * history; resume from the original checkpoint, or start a new rootDir.
  * Document ids must be unique across the corpus and all batches.
  */
final class OnlineDedup(
    rootDir: String,
    threshold: Double = 0.8, k: Int = 32, bands: Int = 8,
    shingleSize: Int = 5,
    idCol: String = "doc_id", textCol: String = "text") {

  private val docsDir = s"$rootDir/docs"
  private val bucketsDir = s"$rootDir/index-buckets"
  private val shinglesDir = s"$rootDir/index-shingles"

  /** The foreachBatch hook:
    * `stream.writeStream.foreachBatch(online.processBatch _)`. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // empty frames with the exact index schemas, for the first batch
    val (b0, s0) = Dedup.nearDupIndex(batch.limit(0), textCol, idCol, k, bands, shingleSize)
    // a replayed batch must not probe its own survivors; a footerless
    // index dir (crash during the very first write) reads as empty
    // rather than wedging every replay on schema inference (r15 advice)
    def readIndex(dir: String, empty: DataFrame): DataFrame =
      IndexIo.readOrElse(spark, dir)(empty.withColumn("batch", lit(0L)))
        .filter(col("batch") =!= batchId).drop("batch")
    // ONE shingle pass per batch (r16): the dedup decision, the index
    // shingle rows, and the index buckets all derive from this pinned
    // frame — the old shape re-ran the native shingler over the batch
    // for the bucket broadcast and a third time over the survivors
    val nsh = batch
      .select(col(idCol).as("id"),
        Dedup.shingleHashes(col(textCol), shingleSize).as("sh"))
      .localCheckpoint()
    val dups = Dedup.incrementalPairsFromHashes(
        nsh, readIndex(bucketsDir, b0), readIndex(shinglesDir, s0),
        threshold, k, bands)
      .select(col("new_id").as(idCol)).distinct()
    val survivors = batch.join(dups, Seq(idCol), "left_anti")
      .localCheckpoint() // three writers below; decide once
    val ssh = nsh
      .join(survivors.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .localCheckpoint() // shingle + bucket writers below
    val sb = Dedup.bucketsFromHashes(ssh, k, bands)
    // three independent writer jobs over pinned frames, overlapped; each
    // stays an idempotent own-batch overwrite, and any failure fails the
    // batch (foreachBatch retries it)
    IndexIo.writeAll(Seq((survivors, docsDir), (sb, bucketsDir), (ssh, shinglesDir))
      .map { case (df, dir) => () => df.write.mode("overwrite").parquet(s"$dir/batch=$batchId") }: _*)
  }

  /** The corpus of survivors accumulated so far. */
  def corpus(spark: org.apache.spark.sql.SparkSession): DataFrame =
    IndexIo.readOrElse(spark, docsDir)(spark.emptyDataFrame).drop("batch")
}
