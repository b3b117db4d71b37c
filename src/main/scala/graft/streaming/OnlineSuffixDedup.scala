package graft.streaming

import graft.operators.SuffixDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ExactSubstr ingestion — the `foreachBatch` twin of
  * [[SuffixDedup.removeDuplicatedSpans]]: cut, from every arriving
  * document, the characters covered by any `minLen`-window already seen
  * (in an earlier batch, or in a smaller-doc_id document of the same
  * batch), and index the batch's windows for future arrivals. First
  * arrival owns — which coincides with the batch operator's
  * min-doc_id-owner convention whenever ingestion order respects
  * doc_id, so the standing output is FRAME-EQUAL to the one-shot batch
  * pass on everything ingested (pinned by spec).
  *
  * Where the batch operator ranks windows by distributed prefix
  * doubling (order-preserving — it also serves suffix-order queries),
  * the incremental path needs only EQUALITY classes, which cannot be
  * re-ranked globally per batch without rescanning the corpus; windows
  * are therefore keyed by their md5 (128-bit — the [[graft.operators
  * .Dedup.exactGroups]] exact-equality convention; carried as 16-byte
  * binary — a rootDir lineage cannot straddle the r16 format change,
  * and since r17 a legacy string-keyed index FAILS FAST on read
  * instead of silently matching nothing), so per batch the
  * work is one O(batch-chars) projection, one equi-join probe of the
  * standing index, and the batch-sized removal tail. The corpus is
  * never rescanned.
  *
  * Replay safety (foreachBatch is at-least-once): batch-keyed
  * partition directories with overwrite (the [[OnlineDedup]] recipe),
  * and index reads exclude the batch's own partition — a replayed
  * batch probes the same standing index and rewrites the same files,
  * bit-identical. The index append is discover-once (one representative
  * row per NOVEL window class, picked in the probe's window pass), so
  * index rows stay unique.
  *
  * Layout under `rootDir`: `docs/` (per-doc kept_text/removed_chars/
  * removed_spans), `index/` (distinct window hashes) — plain parquet,
  * partitioned by `batch`. Contract: one streaming query lineage per
  * rootDir; doc ids unique across the corpus. */
final class OnlineSuffixDedup(
    rootDir: String,
    minLen: Int = 50,
    idCol: String = "doc_id", textCol: String = "text") {
  require(minLen >= 2, s"minLen out of range: $minLen")

  private val docsDir = s"$rootDir/docs"
  private val indexDir = s"$rootDir/index"

  /** The foreachBatch hook:
    * `stream.writeStream.foreachBatch(online.processBatch _)`. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val base = batch.select(col(idCol).as("doc_id"), col(textCol).as("_t"))
      .localCheckpoint()
    // windows of documents long enough to carry one. The 128-bit window
    // key rides as 16-byte BINARY (r16, guide §2.3 — halves the key
    // bytes in every exchange, the standing-index parquet, and the
    // probe join; same md5 exactness). r17: the per-window keys come
    // from ONE native byte-walk per document
    // ([[graft.functions.TextHash.windowMd5s]], parity-pinned to the
    // old split/slice/array_join/md5/unhex formulation) — the
    // interpreted per-window slice+join+hex round trip was the
    // dominant term of the batch (profile: ~1.5 s of a ~3 s batch).
    val grams = base
      .filter(length(col("_t")) >= minLen)
      .select(col("doc_id"), posexplode(
        graft.functions.TextHash.windowMd5s(col("_t"), minLen)))
      .select(col("doc_id"), (col("pos").cast("long") + 1L).as("pos"),
        col("col").as("h"))
    // NOT pinned (r17): since the r16 single-window collapse the gram
    // frame has exactly ONE executing consumer — the union feeding the
    // h-keyed window below (the `standing` schema thunk is a limit(0)
    // the optimizer folds to an empty relation) — so the r16-era pin
    // only added a full per-batch materialization of the explode+md5
    // output. The expensive projection still runs once, inside the
    // window's map stage.
    // a replayed batch must not probe its own windows; a footerless
    // index dir (crash during the very first write) reads as empty
    // rather than wedging every replay on schema inference (r15
    // advice). BatchIndex folds in the compacted generation, where the
    // batch id rides as a data column (r15 verdict #4).
    val standing: DataFrame = BatchIndex.read(spark, indexDir)(
        grams.select(col("h"), lit(0L).as("batch")).limit(0))
      .filter(col("batch") =!= batchId)
      .select("h")
    // fail fast on a pre-r16 rootDir whose standing index still carries
    // the 32-char hex STRING key: unionByName would coerce the batch's
    // binary keys to string (raw bytes — never equal to hex), silently
    // ignoring all history instead of erroring (r16 advice)
    require(standing.schema("h").dataType ==
      org.apache.spark.sql.types.BinaryType,
      s"$indexDir holds a legacy string-keyed window index (pre-r16 " +
        "layout); this lineage cannot straddle the binary key format " +
        "change — rebuild the index under a fresh rootDir")
    // BOTH probes — "h already in the standing index" and "cross-
    // document within the batch with a smaller-doc_id owner" — and the
    // discover-once novelty test ride ONE h-keyed window pass (r16,
    // guide §2.4, second cut): the standing hashes union in as marker
    // rows (_idx, null doc_id/pos), so per h-class min/max over the
    // REAL rows give the within-batch owner test while max(_idx) says
    // whether an earlier batch owns the window. The previous shape paid
    // three gram-sized exchanges (semi-join probe, the window, the
    // index append's distinct + anti-join) and scanned the standing
    // index twice; this shape pays the window exchange once and reads
    // the index once. `marked` is pinned because the removal tail and
    // the index append both consume it — without the pin each would
    // re-run the window sort.
    val docT = grams.schema("doc_id").dataType
    val wH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    // the discover-once representative rides the SAME window pass as
    // the probes (r17): row_number over (h | doc_id, pos) marks one
    // real row per class — the index append below keeps it instead of
    // paying a distinct()'s extra batch-sized exchange. Classes that
    // are !_hit contain no marker rows (markers imply _hit), so the
    // rn=1 row of an appended class is always a real gram row; the sort
    // the ordered window adds is subsumed by the one the unordered
    // aggregates already paid (same partitioning, ordering prefix h).
    val wHo = wH.orderBy("doc_id", "pos")
    val marked = grams.withColumn("_idx", lit(false))
      .unionByName(standing.select(col("h"),
        lit(null).cast(docT).as("doc_id"), lit(null).cast("long").as("pos"),
        lit(true).as("_idx")))
      .withColumn("_hit", max(when(col("_idx"), 1).otherwise(0)).over(wH) === 1)
      .withColumn("_own", min(when(!col("_idx"), col("doc_id"))).over(wH))
      .withColumn("_mxd", max(when(!col("_idx"), col("doc_id"))).over(wH))
      .withColumn("_rn", row_number().over(wHo))
      .filter(!col("_idx"))
      .localCheckpoint()
    // flagged = seen in an earlier batch (ALL batch occurrences — the
    // true owner arrived before this batch), or cross-document within
    // the batch and not the min-doc_id owner. Each gram row appears
    // exactly once, so no distinct pass is needed.
    val flagged = marked
      .filter(col("_hit") || (col("_mxd") =!= col("_own") &&
        col("doc_id") =!= col("_own")))
      .select("doc_id", "pos")
    // the two sinks are independent jobs over the pinned frames,
    // overlapped; both writes stay idempotent own-batch overwrites, and a
    // failure in either still fails the batch (foreachBatch retries it)
    IndexIo.writeAll(
      () => marked.filter(!col("_hit") && col("_rn") === 1) // discover-once
        .select("h")
        .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId"),
      () => SuffixDedup.cutCovered(base, flagged, minLen)
        .write.mode("overwrite").parquet(s"$docsDir/batch=$batchId"))
  }

  /** Everything ingested so far, cleaned — (doc_id, kept_text,
    * removed_chars, removed_spans). */
  def corpus(spark: org.apache.spark.sql.SparkSession): DataFrame =
    IndexIo.readOrElse(spark, docsDir)(spark.emptyDataFrame).drop("batch")

  /** Rewrite the standing window index's per-batch directories into
    * one size-targeted compacted generation ([[BatchIndex.compact]]) —
    * at thousands of micro-batches the probe side otherwise degrades
    * into a small-files listing scan. Safe between batches AND against
    * replays: batch ids survive as a data column, so the own-batch
    * exclusion contract is untouched (spec-pinned). Returns the number
    * of live batch directories absorbed. */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession, targetFiles: Int = 8): Int =
    BatchIndex.compact(spark, indexDir, targetFiles)
}
