package perfbench

import graft.SparkEntry
import graft.core.Json
import graft.streaming.{EventTimeOps, LogEvent, StatefulOps}

import perfbench.Harness._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, xxhash64}

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong

/** `corpus`: the operator and streaming-state layers; the store does no
  * work. One pass collects `suffix_lrs`, `prefix_jaccard_pairs` and
  * `minhash_near_dups` from `SparkEntry.queries` over the generated
  * `documents` table, then replays `events` through
  * `EventTimeOps.intervalJoin` in 6 event-time-ordered `MemoryStream`
  * micro-batches (the `streaming_interval_replay` shape). Set-up loads
  * the inputs and runs a warm pass; the window then runs whole passes
  * until it has lasted `--seconds`: one pass at the default 6 s, as a
  * pass takes ~10 s. */
object Corpus {
  val Stages = Seq("suffix_lrs", "prefix_jaccard_pairs", "minhash_near_dups")
  val Batches = 6
  val WithinNanos: Long = 600L * 1000000000L
  /** Shuffle partitions of the replay, i.e. state-store instances per
    * side: fewer than the session's, to keep a pass inside the run
    * budget; every micro-batch still commits each of them. */
  val ReplayPartitions = 2

  final case class Pass(stageS: Map[String, Double], stageRows: Map[String, Array[Row]], replayS: Double,
      replayRows: Long, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])

  private def replay(ctx: Ctx, batches: Seq[Array[LogEvent]], ckpt: File): (Long, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val spark = ctx.spark
    import spark.implicits._
    val inL = MemoryStream[LogEvent](spark)
    val inR = MemoryStream[LogEvent](spark)
    def shape(ds: org.apache.spark.sql.Dataset[LogEvent]): DataFrame =
      ds.toDF().select(col("userId").as("user_id"), col("tsNanos").as("ts_ns"),
        xxhash64(col("userId"), col("tsNanos")).as("eid"))
    val joined = EventTimeOps.intervalJoin(shape(inL.toDS()), shape(inR.toDS()),
      "user_id", "ts_ns", "eid", withinNanos = WithinNanos)
    val rows = new AtomicLong
    // exactly one micro-batch per added batch: without this, each batch
    // that moves the watermark is followed by a state-eviction-only batch,
    // which doubles a pass; the inner join's output is the same either way
    val replayConf = Seq("spark.sql.shuffle.partitions" -> ReplayPartitions.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val saved = replayConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    replayConf.foreach { case (k, v) => spark.conf.set(k, v) }
    val q = try joined.writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) => rows.addAndGet(df.count()); () }
      .option("checkpointLocation", ckpt.getAbsolutePath).start()
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    try batches.foreach { b =>
      inL.addData(b.filter(_.eventType == "view").toIndexedSeq)
      inR.addData(b.filter(_.eventType == "purchase").toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    (rows.get, q.recentProgress.toSeq)
  }

  private def pass(ctx: Ctx, batches: Seq[Array[LogEvent]], n: Int): Pass = {
    val dataDir = ctx.dataDir.getAbsolutePath
    val results = Stages.map { s =>
      val (rows, secs) = time(ctx.tracer.span(s"op.$s")(JobStats.tagged(ctx.sc, s"op.$s") {
        SparkEntry.queries(s)(ctx.spark, dataDir).collect()
      }))
      (s, rows, secs)
    }
    val ckpt = new File(ctx.dir, s"checkpoint-$n")
    deleteTree(ckpt)
    val ((rows, progress), replayS) = time(ctx.tracer.span("stream.interval")(
      JobStats.tagged(ctx.sc, "stream.interval")(replay(ctx, batches, ckpt))))
    deleteTree(ckpt)
    Pass(results.map(r => r._1 -> r._3).toMap, results.map(r => r._1 -> r._2).toMap, replayS, rows, progress)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dataDir = ctx.dataDir.getAbsolutePath
    val t0 = now()
    val events = StatefulOps.typedEvents(spark.read.parquet(s"$dataDir/events.parquet"))
      .collect().sortBy(_.tsNanos)
    val batches = events.grouped(math.max(1, (events.length + Batches - 1) / Batches)).toSeq
    val inputRows = events.length + spark.read.parquet(s"$dataDir/documents.parquet").count()

    // warm pass: every stage over the full input, the replay over its
    // first micro-batch (its per-batch cost is what repeats)
    phase("corpus inputs loaded")
    pass(ctx, batches.take(1), 0)
    phase("corpus warm pass done")
    ctx.put("setup_s", secs(t0), "s")

    val start = now()
    val done = scala.collection.mutable.ArrayBuffer.empty[Pass]
    while (done.isEmpty || secs(start) < ctx.seconds) done += pass(ctx, batches, done.size + 1)
    phase(s"corpus timed passes done: ${done.map(p => p.stageS.toSeq.sortBy(_._1).map(x => f"${x._1}=${x._2}%.2f").mkString(" ") + f" replay=${p.replayS}%.2f").mkString("; ")}")
    val walls = done.map(p => p.stageS.values.sum + p.replayS)
    ctx.attempted += done.size * (Stages.size + 1)
    ctx.put("pipeline_s", median(walls), "s")
    ctx.put("pipeline_max_s", walls.max, "s")
    // the longest a streaming consumer waits for one micro-batch: each
    // replay's slowest batch, median over the passes
    ctx.put("replay_slowest_batch_ms",
      median(done.map(_.progress.map(_.durationMs.get("triggerExecution").doubleValue).max)), "ms")
    ctx.put("replay_events_per_s", median(done.map(events.length / _.replayS)), "1/s")
    ctx.count("passes", done.size.toLong)
    ctx.count("input_rows", inputRows)
    val last = done.last
    ctx.count("replay_rows", last.replayRows)
    if (done.exists(_.replayRows != last.replayRows)) ctx.failed += 1

    // Stage outputs of the last pass, for the DuckDB oracle: one JSON
    // object per row, written from the collected rows.
    Stages.foreach { s =>
      val out = ctx.evidence(s"out-$s.jsonl")
      try last.stageRows(s).foreach(r => out.println(r.json)) finally out.close()
    }
    phase("corpus outputs written")
    val oracle = new PrintWriter(new File(ctx.dir, "oracle_sql.json"), "UTF-8")
    try oracle.println(Stages.map(s => s"${Json.quote(s)}:${Json.quote(SparkEntry.oracleSql(s))}")
      .mkString("{", ",", "}"))
    finally oracle.close()

    if (ctx.traced) {
      org.apache.spark.ListenerDrain(ctx.sc)
      Stages.foreach { s =>
        val t = ctx.jobs.get(s"op.$s")
        val k = done.size.toDouble
        ctx.put(s"op.$s.wall_s", median(done.map(_.stageS(s))), "s")
        ctx.put(s"op.$s.task_s", t.taskMs / 1e3 / (k + 1), "s")
        ctx.put(s"op.$s.max_task_s", t.maxTaskMs / 1e3, "s")
        ctx.put(s"op.$s.stages", t.stages.size / (k + 1), "count")
        ctx.put(s"op.$s.shuffle_write_bytes", t.shuffleWrite / (k + 1), "bytes")
        ctx.put(s"op.$s.spill_bytes", t.spill / (k + 1), "bytes")
        ctx.put(s"op.$s.gc_s", t.gcMs / 1e3 / (k + 1), "s")
      }
      val prog = last.progress
      def dur(key: String): Double =
        median(prog.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
      ctx.put("stream.interval.wall_s", median(done.map(_.replayS)), "s")
      ctx.put("stream.interval.batches", prog.size, "count")
      ctx.put("stream.interval.add_batch_ms", dur("addBatch"), "ms")
      ctx.put("stream.interval.planning_ms", dur("queryPlanning"), "ms")
      ctx.put("stream.interval.wal_commit_ms", dur("walCommit"), "ms")
      ctx.put("stream.interval.commit_offsets_ms", dur("commitOffsets"), "ms")
      ctx.put("stream.interval.state_commit_ms",
        median(prog.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum)), "ms")
      ctx.put("stream.interval.state_rows",
        prog.lastOption.map(_.stateOperators.map(_.numRowsTotal.toDouble).sum).getOrElse(0.0), "count")
    }
  }
}
