package perfbench

import graft.core._
import graft.store.StreamStore
import graft.streaming.{Subscription, Subscriptions}

import perfbench.Harness._

import java.io.File
import java.util.Random
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer

/** `tail`: reads and subscription delivery over a log larger than the
  * store's memtable. Set-up preloads 50,000 messages over 1,000 streams
  * in 5 rounds (~12 flushed segments of 4,096 rows; each stream spans 5
  * of them), 3 times; the phases use the last of these stores. Phase 1:
  * a `subscribeToAll` (page size 1,000) catches up over the newest 10,000
  * messages. Phase 2 (the measuring window): an open-loop writer appends
  * single messages at a fixed rate, every 10th to one hot stream; an
  * all-stream and a hot-stream subscription follow the tail; one
  * closed-loop reader alternates a cold `readStreamForwards(s, 0, 50)`
  * (a whole preloaded stream)
  * with a hot `readAllBackwards(End, 20)`. */
object Tail {
  val Streams = 1000
  val PreloadRounds = 5
  val PreloadBatch = 10
  /** A cold read loads one preloaded stream whole. */
  val ColdPage: Int = PreloadRounds * PreloadBatch
  val CatchUp = 10000
  val CatchUpPage = 1000
  /** A rate the default-page-size subscriptions keep up with: no growing
    * backlog, so the delivery latency does not depend on the run length. */
  val WriteRate = 20
  val HotStream = 0
  val SetupReps = 3
  /** Slices of the window for the median delivery latency (~22 each). */
  val Slices = 10

  private def preload(ctx: Ctx, store: StreamStore, pool: Array[String], acks: ArrayBuffer[Ack]): Unit = {
    val rnd = new Random(ctx.seed ^ 0x5eed)
    var n = 0L
    val streams = if (ctx.smoke) 100 else Streams
    for (round <- 0 until PreloadRounds; s <- 0 until streams) {
      val b = (0 until PreloadBatch).map { i =>
        NewStreamMessage(messageId(ctx.seed, 50, n + i), "evt", pool(rnd.nextInt(pool.length)))
      }
      n += PreloadBatch
      val exp = if (round == 0) ExpectedVersion.NoStream else round * PreloadBatch - 1
      val r = store.appendToStream(streamId(s), exp, b)
      if (acks != null) acks ++= acksOf(streamId(s), b, r)
    }
  }

  /** Deliveries seen by one subscription: (message id, callback time,
    * start and end of the read that fetched it). */
  final class Sink(traced: Option[TracedStore]) {
    val seq = new ArrayBuffer[Long]
    val ids = new ArrayBuffer[String]
    val at = new ArrayBuffer[Long]
    val readStart = new ArrayBuffer[Long]
    val readEnd = new ArrayBuffer[Long]
    @volatile var last = Long.MinValue
    def apply(m: StreamMessage, key: Long): Unit = {
      val t = System.nanoTime()
      seq += key; ids += m.messageId; at += t; last = key
      traced.foreach { s => readStart += s.lastReadStart; readEnd += s.lastReadEnd }
    }
  }

  def run(ctx: Ctx): Unit = {
    val pool = payloads(new Random(ctx.seed), if (ctx.smoke) 512 else 8192, 256, 1024)
    // Each set-up opens a fresh store, preloads it and warms the read paths
    // the window uses (JIT, first Spark jobs); the last one's store stays
    // open for the phases.
    val acks = new ArrayBuffer[Ack]
    val reps = ctx.setupReps(SetupReps)
    val root = ctx.freshStoreDir("store")
    val setups = (0 until reps).map { rep =>
      val last = rep == reps - 1
      val dir = if (last) root else ctx.freshStoreDir(s"setup-$rep")
      val ((st, openS), s) = time {
        val (st, openS) = time(ctx.openStore(dir))
        preload(ctx, st, pool, if (last) acks else null)
        st.readAllForwards(st.readHeadPosition() - CatchUpPage, CatchUpPage)
        st.readStreamForwards(streamId(1), 0, ColdPage)
        st.readAllBackwards(Position.End, 20)
        (st, openS)
      }
      if (!last) { st.close(); deleteTree(new File(dir)) }
      (st, openS, s)
    }
    val (raw, openS, _) = setups.last
    ctx.put("setup_s", median(setups.map(_._3)), "s")
    ctx.put("store.open_s", openS, "s")
    val streams = if (ctx.smoke) 100 else Streams

    // Phase 1: catch-up over the newest messages, no writer running.
    val head0 = raw.readHeadPosition()
    val after = head0 - math.min(CatchUp, head0 + 1)
    val catchSink = new Sink(None)
    val caught = new CountDownLatch(1)
    val t0 = now()
    val catchSub = Subscriptions.subscribeToAll(ctx.wrap(raw, "sub.catchup"), Some(after).filter(_ >= 0),
      m => { catchSink(m, m.position); if (m.position == head0) caught.countDown() },
      pageSize = CatchUpPage)
    val caughtUp = caught.await(120, TimeUnit.SECONDS)
    val catchS = secs(t0)
    catchSub.close()
    ctx.attempted += 1
    if (!caughtUp) {
      ctx.failed += 1
      System.err.println(s"[perfbench] catch-up did not reach position $head0")
    }
    // rate from the median page: the time between the first deliveries of
    // consecutive pages is one read plus its deliveries
    val pageStarts = catchSink.seq.indices.filter(i => (catchSink.seq(i) - after - 1) % CatchUpPage == 0)
      .map(catchSink.at(_))
    val pageS = pageStarts.zip(pageStarts.drop(1)).map { case (a, b) => (b - a) / 1e9 }
    ctx.put("catchup_msgs_per_s", if (pageS.isEmpty) (head0 - after) / catchS else CatchUpPage / median(pageS), "1/s")
    ctx.put("catchup_s", catchS, "s")
    writeDeliveries(ctx, "deliveries-catchup.tsv", "all", "", after, head0, catchSink.seq)

    // Phase 2: steady tail-follow under an open-loop writer and a reader.
    val hot = streamId(HotStream)
    val headStart = raw.readHeadPosition()
    val hotStart = raw.readStreamHeadVersion(hot)
    val allStore = ctx.wrap(raw, "sub.all")
    val hotStore = ctx.wrap(raw, "sub.stream")
    val allSink = new Sink(Some(allStore).collect { case t: TracedStore => t })
    val hotSink = new Sink(Some(hotStore).collect { case t: TracedStore => t })
    val subs: Seq[Subscription] = Seq(
      Subscriptions.subscribeToAll(allStore, Some(headStart), m => allSink(m, m.position)),
      Subscriptions.subscribeToStream(hotStore, hot, Some(hotStart), m => hotSink(m, m.streamVersion.toLong)))

    val store = ctx.wrap(raw, "store")
    val n = math.max(1, (ctx.seconds * WriteRate).toInt)
    val due = new ConcurrentHashMap[String, java.lang.Long]
    val ackAt = new ConcurrentHashMap[String, java.lang.Long]
    val appendLat = new ArrayBuffer[Double]
    val lag = new ArrayBuffer[Double]
    val readLat = new ArrayBuffer[Double]
    @volatile var writerFailed = 0L
    @volatile var readerFailed = 0L
    @volatile var reads = 0L
    val writes = new ArrayBuffer[Ack]
    val start = now() + 20000000L
    val deadline = start + (ctx.seconds * 1e9).toLong
    val writer = new Thread(() => {
      val rnd = new Random(ctx.seed * 31 + 7)
      val version = Array.tabulate(streams)(s => raw.readStreamHeadVersion(streamId(s)))
      val others = (0 until streams).filter(_ != HotStream).toArray
      for (i <- 0 until n) {
        val s = if (i % 10 == 9) HotStream else pick(rnd, others, others.length / 10, 0.8)
        val m = NewStreamMessage(messageId(ctx.seed, 60, i), "evt", pool(rnd.nextInt(pool.length)))
        val dueAt = start + i * (1000000000L / WriteRate)
        val wait = dueAt - System.nanoTime()
        if (wait > 0) LockSupport.parkNanos(wait)
        lag += (System.nanoTime() - dueAt) / 1e6
        due.put(m.messageId, dueAt)
        try {
          val r = store.appendToStream(streamId(s), version(s), Seq(m))
          val t = System.nanoTime()
          ackAt.put(m.messageId, t)
          appendLat += (t - dueAt) / 1e6
          version(s) = r.currentVersion
          writes ++= acksOf(streamId(s), Seq(m), r)
        } catch {
          case e: Exception =>
            writerFailed += 1
            System.err.println(s"[perfbench] tail append $i failed: $e")
            version(s) = raw.readStreamHeadVersion(streamId(s))
        }
      }
    }, "perfbench-writer")
    val reader = new Thread(() => {
      val rnd = new Random(ctx.seed * 31 + 11)
      var cold = true
      while (System.nanoTime() < deadline) {
        val t0 = System.nanoTime()
        try {
          val got =
            if (cold) store.readStreamForwards(streamId(rnd.nextInt(streams)), 0, ColdPage).messages.size
            else store.readAllBackwards(Position.End, 20).messages.size
          readLat += (System.nanoTime() - t0) / 1e6
          // the preload guarantees a full cold page and a full head page
          if (got != (if (cold) ColdPage else 20)) {
            readerFailed += 1
            System.err.println(s"[perfbench] tail read returned $got messages (cold = $cold)")
          }
        } catch {
          case e: Exception => readerFailed += 1; System.err.println(s"[perfbench] tail read failed: $e")
        }
        reads += 1
        cold = !cold
      }
    }, "perfbench-reader")
    writer.start(); reader.start()
    writer.join(); reader.join()

    // Drain: every subscription must reach the final head.
    val headEnd = raw.readHeadPosition()
    val hotEnd = raw.readStreamHeadVersion(hot)
    val drainBy = now() + 30000000000L
    while ((math.max(allSink.last, headStart) < headEnd ||
        math.max(hotSink.last, hotStart.toLong) < hotEnd) && now() < drainBy)
      Thread.sleep(5)
    subs.foreach(_.close())

    val delivered = Seq(allSink, hotSink).flatMap { s =>
      s.ids.indices.flatMap(i => Option(due.get(s.ids(i))).map(d => (s.at(i), (s.at(i) - d) / 1e6)))
    }
    val delivery = delivered.map(_._2)
    ctx.attempted += n + reads
    ctx.failed += writerFailed + readerFailed
    ctx.put("append_p50_ms", pct(appendLat, 0.5), "ms")
    ctx.put("append_p95_ms", pct(appendLat, 0.95), "ms")
    ctx.put("append_p99_ms", pct(appendLat, 0.99), "ms")
    ctx.put("read_p50_ms", pct(readLat, 0.5), "ms")
    ctx.put("read_p95_ms", pct(readLat, 0.95), "ms")
    ctx.put("delivery_p50_ms",
      sliceMedians(delivered.map(_._1), delivery, delivery.map(_ => 1), start, deadline, Slices)._2, "ms")
    ctx.put("delivery_p90_ms", pct(delivery, 0.90), "ms")
    ctx.put("delivery_p95_ms", pct(delivery, 0.95), "ms")
    ctx.put("delivery_p99_ms", pct(delivery, 0.99), "ms")
    ctx.count("append_samples", appendLat.size.toLong)
    ctx.count("read_samples", readLat.size.toLong)
    ctx.count("delivery_samples", delivery.size.toLong)
    ctx.put("gen.lag_ms_p99", pct(lag, 0.99), "ms")
    ctx.put("gen.threads", 2, "count")

    if (ctx.traced) {
      // Subscription layer: how long an acked message waited for the poll
      // that delivered it, the poll's read, and the push to the callback.
      val sinks = Seq(allSink, hotSink)
      val waits = sinks.flatMap(s => s.ids.indices.flatMap(i =>
        Option(ackAt.get(s.ids(i))).map(a => (s.readStart(i) - a) / 1e6)))
      val pushes = sinks.flatMap(s => s.at.indices.map(i => (s.at(i) - s.readEnd(i)) / 1e6))
      val pollSpans = ctx.tracer.all.filter(s => s.name == "sub.all.read" || s.name == "sub.stream.read")
      ctx.put("sub.polls", pollSpans.size, "count")
      val empty = ctx.tracer.counter("sub.all.read.empty") + ctx.tracer.counter("sub.stream.read.empty")
      ctx.put("sub.empty_poll_ratio", if (pollSpans.isEmpty) 0 else empty.toDouble / pollSpans.size, "ratio")
      ctx.put("sub.read_busy_s", pollSpans.map(_.ms).sum / 1e3, "s")
      ctx.put("sub.read_ms_p50", median(pollSpans.map(_.ms)), "ms")
      ctx.put("sub.wait_ms_p50", median(waits), "ms")
      ctx.put("sub.callback_ms_p50", median(pushes), "ms")
    }

    val (_, closeS) = time(raw.close())
    ctx.put("store.close_s", closeS, "s")
    ctx.put("store.bytes_on_disk", dirBytes(new File(root)).toDouble, "bytes")
    ctx.put("store.segments_written", countFiles(new File(root), ".parquet").toDouble, "count")
    val out = ctx.evidence("acks.tsv")
    try { writeAcks(out, acks); writeAcks(out, writes) } finally out.close()
    writeDeliveries(ctx, "deliveries-all.tsv", "all", "", headStart, headEnd, allSink.seq)
    writeDeliveries(ctx, "deliveries-stream.tsv", "stream", hot, hotStart, hotEnd, hotSink.seq)
    val check = ctx.openStore(root)
    try dumpLog(ctx, check, "log.tsv") finally check.close()
    deleteTree(new File(root))
  }
}
