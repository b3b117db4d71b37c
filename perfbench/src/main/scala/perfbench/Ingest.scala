package perfbench

import graft.core._
import graft.store.StreamStore

import perfbench.Harness._

import java.io.File
import java.util.Random
import java.util.concurrent.CountDownLatch
import scala.collection.mutable.ArrayBuffer

/** `ingest`: 2 closed-loop appenders through the library front end on a
  * fresh store (two contend for the writer as four did, at the same
  * throughput on a 4-core host, and leave a core for the JVM and Spark). Each owns 500 of 1,000 streams; 80% of its appends go
  * to its 50 hottest (10%); batches of 1-10 messages with JSON payloads of
  * 256 B - 2 KB, each with the exact expected version. 5% of the ops
  * replay the thread's previous batch (an idempotent no-op that must
  * return the original result) and 1% carry a stale expected version
  * (which must raise WrongExpectedVersionException). */
object Ingest {
  val Threads = 2
  val Streams = 1000
  val HotPerThread: Int = Streams / Threads / 10
  val HotShare = 0.8
  val RetryShare = 0.05
  val StaleShare = 0.01
  val SetupReps = 3
  /** The window is cut into this many slices; the run reports the median
    * slice's rate and median latency. */
  val Slices = 10

  private val New: Byte = 0
  private val Retry: Byte = 1
  private val Stale: Byte = 2

  /** One thread's pre-generated op sequence. */
  final class Plan(val stream: Array[Int], val size: Array[Int], val kind: Array[Byte], val payload: Array[Int])

  /** The streams load thread `t` of `n` appends to. */
  def owned(t: Int, n: Int): Array[Int] = (0 until Streams).filter(_ % n == t).toArray

  def plan(seed: Long, t: Int, ops: Int): Plan = {
    val rnd = new Random(seed * 7919L + t)
    val mine = owned(t, Threads)
    val p = new Plan(new Array(ops), new Array(ops), new Array(ops), new Array(ops))
    for (i <- 0 until ops) {
      p.stream(i) = pick(rnd, mine, HotPerThread, HotShare)
      p.size(i) = 1 + rnd.nextInt(10)
      val u = rnd.nextDouble()
      p.kind(i) = if (u < StaleShare) Stale else if (u < StaleShare + RetryShare) Retry else New
      p.payload(i) = rnd.nextInt(1 << 20)
    }
    p
  }

  /** What one appender did; the store is driven only through `store`. */
  final class Appender(ctx: Ctx, store: StreamStore, t: Int, plan: Plan, pool: Array[String]) {
    val latNs = new ArrayBuffer[Long](plan.kind.length)
    val doneAt = new ArrayBuffer[Long](plan.kind.length)
    val sizes = new ArrayBuffer[Int](plan.kind.length)
    val acks = new ArrayBuffer[Ack](plan.kind.length * 6)
    val retries = new ArrayBuffer[String]
    var userBytes = 0L
    var msgs = 0L
    var attempted = 0L
    var failed = 0L
    var staleOk = 0L
    var endNs = 0L
    private val version = Array.fill(Streams)(StreamVersion.End)
    private var counter = 0L
    private var last: (String, Int, Seq[NewStreamMessage], AppendResult) = null
    private val meta = s"""{"client":"appender-$t"}"""

    private def batch(n: Int, payloadBase: Int): Seq[NewStreamMessage] = {
      val b = (0 until n).map(i => NewStreamMessage(messageId(ctx.seed, t, counter + i), "evt",
        pool((payloadBase + i) % pool.length), meta))
      counter += n
      b
    }

    def run(deadline: Long): Unit = {
      var op = 0
      while (op < plan.kind.length && System.nanoTime() < deadline) {
        val s = plan.stream(op)
        val sid = streamId(s)
        attempted += 1
        try plan.kind(op) match {
          case Retry if last != null =>
            val (lsid, exp, b, r0) = last
            val r = store.appendToStream(lsid, exp, b)
            retries += s"$lsid\t${r0.currentVersion}\t${r0.currentPosition}\t${r.currentVersion}\t${r.currentPosition}"
          case Stale =>
            val exp = if (version(s) >= 0) version(s) - 1 else 0
            try { store.appendToStream(sid, exp, batch(1, plan.payload(op))); failed += 1 }
            catch { case _: WrongExpectedVersionException => staleOk += 1 }
          case _ =>
            val exp = if (version(s) >= 0) version(s) else ExpectedVersion.NoStream
            val b = batch(plan.size(op), plan.payload(op))
            val t0 = System.nanoTime()
            val r = store.appendToStream(sid, exp, b)
            val t1 = System.nanoTime()
            latNs += t1 - t0
            doneAt += t1
            sizes += b.length
            version(s) = r.currentVersion
            acks ++= acksOf(sid, b, r)
            b.foreach(m => userBytes += m.jsonData.length + m.jsonMetadata.length)
            msgs += b.length
            last = (sid, exp, b, r)
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] ingest appender $t op $op failed: $e")
            version(s) = store.readStreamHeadVersion(sid)
        }
        op += 1
      }
      endNs = System.nanoTime()
    }
  }

  /** Set-up as a user pays it: open a fresh store, warm the append and
    * read paths (JIT, first Spark jobs), close it. */
  private def setupOnce(ctx: Ctx, rep: Int, pool: Array[String]): Double = {
    val root = ctx.freshStoreDir(s"setup-$rep")
    val (_, s) = time {
      val store = ctx.openStore(root)
      try {
        val rnd = new Random(ctx.seed + rep)
        for (i <- 0 until 400) store.appendToStream(s"w-${i % 20}", ExpectedVersion.Any,
          (0 until 1 + rnd.nextInt(10)).map(j => NewStreamMessage(messageId(ctx.seed, 100 + rep, i * 16L + j),
            "warm", pool(rnd.nextInt(pool.length)))))
        store.readAllBackwards(Position.End, 20)
        store.readStreamForwards("w-1", 0, 100)
      } finally store.close()
    }
    deleteTree(new File(root))
    s
  }

  def run(ctx: Ctx): Unit = {
    val pool = payloads(new Random(ctx.seed), if (ctx.smoke) 512 else 8192, 256, 2048)
    val ops = if (ctx.smoke) 400 else 200000
    val plans = (0 until Threads).map(t => plan(ctx.seed, t, ops))
    val setups = (0 until ctx.setupReps(SetupReps)).map(setupOnce(ctx, _, pool))
    ctx.put("setup_s", median(setups), "s")

    val root = ctx.freshStoreDir("store")
    val (raw, openS) = time(ctx.openStore(root))
    val store = ctx.wrap(raw, "store")
    val appenders = (0 until Threads).map(t => new Appender(ctx, store, t, plans(t), pool))
    val go = new CountDownLatch(1)
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds * 1e9).toLong
    val threads = appenders.map(a => new Thread(() => { go.await(); a.run(deadline) }, "perfbench-appender"))
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join())
    val elapsed = secs(start, appenders.map(_.endNs).max)
    val (_, closeS) = time(raw.close())

    val storeDir = new File(root)
    val bytes = dirBytes(storeDir)
    val userBytes = appenders.map(_.userBytes).sum
    val lat = appenders.flatMap(_.latNs).map(_ / 1e6)
    val msgs = appenders.map(_.msgs).sum
    ctx.attempted += appenders.map(_.attempted).sum
    ctx.failed += appenders.map(_.failed).sum
    val (sliceRate, sliceP50) = sliceMedians(appenders.flatMap(_.doneAt), lat, appenders.flatMap(_.sizes),
      start, deadline, Slices)
    ctx.put("append_p50_ms", sliceP50, "ms")
    ctx.put("append_p99_ms", pct(lat, 0.99), "ms")
    ctx.put("append_p999_ms", pct(lat, 0.999), "ms")
    ctx.count("append_samples", lat.size.toLong)
    ctx.put("append_msgs_per_s", sliceRate, "1/s")
    ctx.put("append_msgs_per_s_whole", msgs / elapsed, "1/s")
    ctx.put("stored_bytes_per_user_byte", bytes.toDouble / userBytes, "ratio")
    ctx.count("stale_raised", appenders.map(_.staleOk).sum)
    ctx.put("gen.threads", Threads, "count")
    ctx.count("retries", appenders.map(_.retries.size.toLong).sum)
    ctx.put("store.open_s", openS, "s")
    ctx.put("store.close_s", closeS, "s")
    ctx.put("store.bytes_on_disk", bytes.toDouble, "bytes")
    ctx.put("store.segments_written", countFiles(storeDir, ".parquet").toDouble, "count")

    val out = ctx.evidence("acks.tsv")
    try appenders.foreach(a => writeAcks(out, a.acks)) finally out.close()
    val rout = ctx.evidence("retries.tsv")
    try appenders.foreach(_.retries.foreach(rout.println)) finally rout.close()
    // the reopen a restarted writer pays, on the store the check reads
    val (check, reopenS) = time(ctx.openStore(root))
    ctx.put("reopen_s", reopenS, "s")
    try dumpLog(ctx, check, "log.tsv") finally check.close()
    deleteTree(storeDir)
  }
}
