package perfbench

import graft.core._
import graft.http.{HttpStreamStore, StreamStoreHttpServer}
import graft.store.SparkStreamStore

import perfbench.Harness._

import java.io.File
import java.util.Random
import java.util.concurrent.CountDownLatch
import scala.collection.mutable.ArrayBuffer

/** `http`: the same store calls as `ingest` and `tail`, behind the wire.
  * A `StreamStoreHttpServer` on loopback over a fresh store; 4 closed-loop
  * clients, each with its own `HttpStreamStore` (its own connection) and
  * 250 owned streams (80% of appends to its 25 hottest). Each op appends a
  * batch of 1-10 with the exact expected version, then reads the stream
  * backwards from End (read-your-write); every 10th op instead reads the
  * all-stream head page. */
object Http {
  val Clients = 4
  val Streams = 1000
  val HotPerClient = 25
  val HotShare = 0.8
  val SetupReps = 3

  final class Client(ctx: Ctx, val http: HttpStreamStore, t: Int, pool: Array[String]) {
    val appendLat = new ArrayBuffer[Double]
    val readLat = new ArrayBuffer[Double]
    val acks = new ArrayBuffer[Ack]
    var msgs = 0L
    var attempted = 0L
    var failed = 0L
    var errors = 0L
    var rywViolations = 0L
    var endNs = 0L
    private val rnd = new Random(ctx.seed * 104729L + t)
    private val mine = Ingest.owned(t, Clients)
    private val version = Array.fill(Streams)(StreamVersion.End)
    private var counter = 0L

    /** One client call; the calls of one op share a request id. */
    private def call[T](name: String, key: String, op: Int)(f: => T): T =
      ctx.tracer.span(name, key, (t.toLong << 32) | op)(f)

    def run(deadline: Long): Unit = {
      var op = 0
      while (System.nanoTime() < deadline) {
        try {
          if (op % 10 == 9) {
            attempted += 1
            val t0 = System.nanoTime()
            val page = call("http.read", "$all", op)(http.readAllBackwards(Position.End, 20))
            readLat += (System.nanoTime() - t0) / 1e6
            if (page.messages.isEmpty) failed += 1
          } else {
            val s = pick(rnd, mine, HotPerClient, HotShare)
            val sid = streamId(s)
            val n = 1 + rnd.nextInt(10)
            val b = (0 until n).map(i => NewStreamMessage(messageId(ctx.seed, 200 + t, counter + i), "evt",
              pool(rnd.nextInt(pool.length))))
            counter += n
            val exp = if (version(s) >= 0) version(s) else ExpectedVersion.NoStream
            attempted += 1
            val t0 = System.nanoTime()
            val r = call("http.append", sid, op)(http.appendToStream(sid, exp, b))
            appendLat += (System.nanoTime() - t0) / 1e6
            version(s) = r.currentVersion
            acks ++= acksOf(sid, b, r)
            msgs += n
            attempted += 1
            val t2 = System.nanoTime()
            val page = call("http.read", sid, op)(http.readStreamBackwards(sid, StreamVersion.End, 20))
            readLat += (System.nanoTime() - t2) / 1e6
            val newest = page.messages.headOption
            if (!newest.exists(m => m.messageId == b.last.messageId && m.streamVersion == r.currentVersion)) {
              rywViolations += 1
              failed += 1
            }
          }
        } catch {
          case e: Exception =>
            failed += 1
            errors += 1
            System.err.println(s"[perfbench] http client $t op $op failed: $e")
        }
        op += 1
      }
      endNs = System.nanoTime()
    }
  }

  /** A store behind a server plus one client per load thread. */
  final class Stack(ctx: Ctx, root: String, pool: Array[String]) extends AutoCloseable {
    val store: SparkStreamStore = ctx.openStore(root)
    val server = new StreamStoreHttpServer(ctx.wrap(store, "store"))
    val clients: IndexedSeq[Client] =
      (0 until Clients).map(t => new Client(ctx, new HttpStreamStore(server.baseUrl), t, pool))
    def close(): Unit = { clients.foreach(_.http.close()); server.close(); store.close() }
  }

  /** Set-up: store, server and clients, each client warmed through the
    * wire on its own thread. */
  private def setupOnce(ctx: Ctx, rep: Int, pool: Array[String]): Double = {
    val root = ctx.freshStoreDir(s"setup-$rep")
    val (_, s) = time {
      val stack = new Stack(ctx, root, pool)
      try {
        val warm = stack.clients.zipWithIndex.map { case (c, t) =>
          new Thread(() => {
            for (i <- 0 until 3) {
              c.http.appendToStream(s"w-$t", ExpectedVersion.Any,
                Seq(NewStreamMessage(messageId(ctx.seed, 300 + rep, t * 100L + i), "warm", pool(i))))
              c.http.readStreamBackwards(s"w-$t", StreamVersion.End, 20)
            }
            c.http.readAllBackwards(Position.End, 20)
          }, "perfbench-warm")
        }
        warm.foreach(_.start()); warm.foreach(_.join())
      } finally stack.close()
    }
    deleteTree(new File(root))
    s
  }

  def run(ctx: Ctx): Unit = {
    val pool = payloads(new Random(ctx.seed), if (ctx.smoke) 512 else 8192, 256, 2048)
    val setups = (0 until ctx.setupReps(SetupReps)).map(setupOnce(ctx, _, pool))
    ctx.put("setup_s", median(setups), "s")

    val root = ctx.freshStoreDir("store")
    val (stack, openS) = time(new Stack(ctx, root, pool))
    ctx.put("store.open_s", openS, "s")
    val go = new CountDownLatch(1)
    val start = now()
    val deadline = start + (ctx.seconds * 1e9).toLong
    val threads = stack.clients.map(c => new Thread(() => { go.await(); c.run(deadline) }, "perfbench-client"))
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join())
    val elapsed = secs(start, stack.clients.map(_.endNs).max)
    stack.clients.foreach(_.http.close())
    stack.server.close()
    val (_, closeS) = time(stack.store.close())
    ctx.put("store.close_s", closeS, "s")

    val cs = stack.clients
    val appendLat = cs.flatMap(_.appendLat)
    val readLat = cs.flatMap(_.readLat)
    ctx.attempted += cs.map(_.attempted).sum
    ctx.failed += cs.map(_.failed).sum
    ctx.count("ryw_violations", cs.map(_.rywViolations).sum)
    ctx.put("gen.threads", Clients, "count")
    ctx.put("append_p50_ms", pct(appendLat, 0.5), "ms")
    ctx.put("append_p90_ms", pct(appendLat, 0.90), "ms")
    ctx.put("append_p95_ms", pct(appendLat, 0.95), "ms")
    ctx.put("append_p99_ms", pct(appendLat, 0.99), "ms")
    ctx.put("append_msgs_per_s", cs.map(_.msgs).sum / elapsed, "1/s")
    ctx.put("appends_per_s", appendLat.size / elapsed, "1/s")
    ctx.put("read_p50_ms", pct(readLat, 0.5), "ms")
    ctx.put("read_p95_ms", pct(readLat, 0.95), "ms")
    ctx.count("append_samples", appendLat.size.toLong)
    ctx.count("read_samples", readLat.size.toLong)
    ctx.put("store.bytes_on_disk", dirBytes(new File(root)).toDouble, "bytes")
    ctx.put("store.segments_written", countFiles(new File(root), ".parquet").toDouble, "count")

    if (ctx.traced) {
      // self time of the wire = client span − the server-side store span
      // it caused (same stream, inside the client span's interval), which
      // is linked to the client span as its child in the written trace
      val server = ctx.tracer.all.filter(s => s.name == "store.append" || s.name == "store.read")
        .groupBy(s => (s.name, s.key)).map { case (k, v) => k -> v.sortBy(_.start) }
      for (kind <- Seq("append", "read")) {
        val client = ctx.tracer.named(s"http.$kind")
        val pairs = client.flatMap { c =>
          server.getOrElse((s"store.$kind", c.key), Nil)
            .find(s => s.start >= c.start && s.end <= c.end).map { s =>
              ctx.tracer.link(s, c)
              (c.ms, s.ms)
            }
        }
        ctx.put(s"http.$kind.client_ms_p50", median(client.map(_.ms)), "ms")
        ctx.put(s"http.$kind.store_ms_p50", median(pairs.map(_._2)), "ms")
        ctx.put(s"http.$kind.self_ms_p50", median(pairs.map(p => p._1 - p._2)), "ms")
      }
      ctx.put("http.requests", ctx.tracer.named("http.").size, "count")
      ctx.put("http.non2xx", cs.map(_.errors).sum.toDouble, "count")
    }

    val out = ctx.evidence("acks.tsv")
    try cs.foreach(c => writeAcks(out, c.acks)) finally out.close()
    val check = ctx.openStore(root)
    try dumpLog(ctx, check, "log.tsv") finally check.close()
    deleteTree(new File(root))
  }
}
