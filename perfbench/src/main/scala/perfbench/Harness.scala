package perfbench

import graft.core._
import graft.store.{SparkStreamStore, StreamStore}

import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.zip.CRC32
import scala.collection.mutable

/** What one workload pass needs: the session, its seeded inputs, the
  * measuring window, the tracer (disabled on untraced passes), and a
  * directory for the store and the correctness evidence. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double, val tracer: Tracer,
    val jobs: JobStats, val dir: File, val dataDir: File, val smoke: Boolean) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val counts = mutable.LinkedHashMap.empty[String, Long]
  var attempted = 0L
  var failed = 0L
  def traced: Boolean = tracer.enabled
  /** Set-up repetitions whose median is `setup_s`. */
  def setupReps(full: Int): Int = if (smoke) 1 else full
  def sc = spark.sparkContext

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def count(name: String, n: Long): Unit = counts(name) = counts.getOrElse(name, 0L) + n

  /** The store as a layer's caller sees it: traced or not. */
  def wrap(store: StreamStore, prefix: String): StreamStore =
    if (traced) new TracedStore(store, tracer, prefix, sc) else store

  def evidence(name: String): PrintWriter = new PrintWriter(new File(dir, name), "UTF-8")

  def freshStoreDir(name: String): String = {
    val d = new File(dir, name)
    Harness.deleteTree(d)
    d.getAbsolutePath
  }
  def openStore(root: String): SparkStreamStore = new SparkStreamStore(spark, root)
}

object Harness {
  private val harnessStart = System.nanoTime()
  /** A progress line on stderr (the run's jvm.log), with the time since
    * the harness started. */
  def phase(what: String): Unit = System.err.println(f"[perfbench] ${secs(harnessStart)}%7.2f s  $what")

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9

  def time[T](f: => T): (T, Double) = { val t0 = now(); val r = f; (r, secs(t0)) }

  /** Linear-interpolated percentile of unsorted samples (q in [0, 1]). */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val a = xs.toArray.sorted
    if (a.isEmpty) 0.0
    else {
      val i = q * (a.length - 1); val lo = i.toInt; val hi = math.min(lo + 1, a.length - 1)
      a(lo) + (a(hi) - a(lo)) * (i - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)

  /** Per-slice view of a closed-loop window: the window [start, end) is cut
    * into `n` equal slices and each completed op (completion time `at`,
    * latency `lat`, messages `msgs`) falls in one. Returns the median over
    * slices of the rate (messages per second) and of the median latency,
    * so one disturbed slice does not move the run's figure. */
  def sliceMedians(at: Seq[Long], lat: Seq[Double], msgs: Seq[Int], start: Long, end: Long, n: Int): (Double, Double) = {
    val width = (end - start) / n
    val bySlice = at.indices.filter(i => at(i) >= start && at(i) < start + width * n)
      .groupBy(i => ((at(i) - start) / width).toInt)
    val slices = (0 until n).map(k => bySlice.getOrElse(k, Seq.empty))
    (median(slices.map(ix => ix.map(msgs(_)).sum / (width / 1e9))),
      median(slices.filter(_.nonEmpty).map(ix => median(ix.map(lat(_))))))
  }

  def crc(s: String): Long = {
    val c = new CRC32; c.update(s.getBytes(StandardCharsets.UTF_8)); c.getValue
  }

  def streamId(i: Int): String = f"s-$i%04d"

  /** Message ids are a pure function of (seed, source, counter), so the
    * same seed replays the same ids. */
  def messageId(seed: Long, source: Int, n: Long): String =
    new UUID(seed, (source.toLong << 40) | n).toString

  /** A pool of JSON payloads of `minBytes`..`maxBytes` characters: words
    * mixed with random numbers, so they compress about as well as event
    * data does. The pool is large enough that a segment's payloads do not
    * repeat within a column chunk's dictionary. */
  def payloads(rnd: java.util.Random, n: Int, minBytes: Int, maxBytes: Int): Array[String] = {
    val words = Array("order", "placed", "item", "added", "customer", "moved", "price",
      "changed", "shipment", "sent", "invoice", "paid", "account", "opened", "note")
    Array.tabulate(n) { i =>
      val target = minBytes + rnd.nextInt(maxBytes - minBytes + 1)
      val sb = new StringBuilder
      while (sb.length < target) {
        if (rnd.nextBoolean()) sb.append(words(rnd.nextInt(words.length)))
        else sb.append(rnd.nextInt(1000000))
        sb.append(' ')
      }
      val head = s"""{"seq":$i,"amount":${rnd.nextInt(100000)},"body":""""
      head + sb.substring(0, math.max(0, target - head.length - 2)) + "\"}"
    }
  }

  /** Stream choice with key skew: `hotShare` of the picks go to the first
    * `hot` of `owned`, the rest spread over the others. */
  def pick(rnd: java.util.Random, owned: Array[Int], hot: Int, hotShare: Double): Int =
    if (rnd.nextDouble() < hotShare) owned(rnd.nextInt(hot))
    else owned(hot + rnd.nextInt(owned.length - hot))

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L) else f.length

  def countFiles(f: File, suffix: String): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(countFiles(_, suffix)).sum).getOrElse(0L)
    else if (f.getName.endsWith(suffix)) 1L else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** One acknowledged message: where the store said it landed. */
  final case class Ack(position: Long, streamId: String, version: Int, messageId: String, crc: Long)

  def writeAcks(out: PrintWriter, acks: Iterable[Ack]): Unit =
    acks.foreach(a => out.println(s"${a.position}\t${a.streamId}\t${a.version}\t${a.messageId}\t${a.crc}"))

  /** Acks for an append of `msgs` that the store answered with `r`: the
    * batch occupies the versions and positions just below the result. */
  def acksOf(streamId: String, msgs: Seq[NewStreamMessage], r: AppendResult): Seq[Ack] = {
    val n = msgs.length
    msgs.zipWithIndex.map { case (m, i) =>
      Ack(r.currentPosition - n + 1 + i, streamId, r.currentVersion - n + 1 + i, m.messageId, crc(m.jsonData))
    }
  }

  /** The whole log as the store serves it, written for the checker:
    * position, stream, version, message id and payload checksum. */
  def dumpLog(ctx: Ctx, store: SparkStreamStore, name: String): Long = {
    import org.apache.spark.sql.functions._
    val rows = store.allMessages
      .select(col("position"), col("streamId"), col("streamVersion"), col("messageId"), crc32(col("jsonData")))
      .collect()
    val out = ctx.evidence(name)
    try rows.sortBy(_.getLong(0)).foreach { r =>
      out.println(s"${r.getLong(0)}\t${r.getString(1)}\t${r.getInt(2)}\t${r.getString(3)}\t${r.getLong(4)}")
    } finally out.close()
    rows.length.toLong
  }

  /** The delivered sequence of one subscription, for the checker: it
    * should hold every message in (after, upto], in order. */
  def writeDeliveries(ctx: Ctx, name: String, kind: String, streamId: String, after: Long, upto: Long,
      delivered: Iterable[Long]): Unit = {
    val out = ctx.evidence(name)
    try {
      out.println(s"# $kind\t$streamId\t$after\t$upto")
      delivered.foreach(out.println)
    } finally out.close()
  }
}
