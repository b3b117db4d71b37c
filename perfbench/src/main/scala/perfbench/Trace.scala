package perfbench

import graft.core._
import graft.store.StreamStore

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call across a layer boundary. Times are `System.nanoTime`;
  * `parent` is the enclosing span on the same thread (0 = none) and `req`
  * ties together the spans of one request (0 = none). */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    start: Long, end: Long, key: String) {
  def ms: Double = (end - start) / 1e6
}

/** Spans are kept in memory and written once, when the run ends. A
  * disabled tracer runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue = 0L }

  def span[T](name: String, key: String = "", req: Long = 0L)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        current.set(parent)
        spans.add(Span(id, parent, req, name, t0, System.nanoTime(), key))
      }
    }

  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]
  def add(name: String, n: Long): Unit = if (enabled) counters.computeIfAbsent(name, _ => new AtomicLong).addAndGet(n)
  def counter(name: String): Long = Option(counters.get(name)).map(_.get).getOrElse(0L)

  /** Spans whose cause is on another thread (a server-side call made for
    * a client's request) are linked to it after the fact: id → (parent,
    * request id), applied when the spans are written. */
  private val links = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]
  def link(child: Span, parent: Span): Unit = links.put(child.id, (parent.id, parent.req))

  def all: Seq[Span] = spans.asScala.toSeq
  def named(prefix: String): Seq[Span] = all.filter(_.name.startsWith(prefix))

  def write(path: String, origin: Long): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      val (parent, req) = Option(links.get(s.id)).getOrElse((s.parent, s.req))
      out.println(s"""{"id":${s.id},"parent":$parent,"req":$req,"name":${Json.quote(s.name)},""" +
        f""""start_ms":${(s.start - origin) / 1e6}%.3f,"end_ms":${(s.end - origin) / 1e6}%.3f,"key":${Json.quote(s.key)}}""")
    }
    finally out.close()
  }
}

object Tracer {
  /** Busy time of a set of spans: the length of the union of their
    * intervals. Σ durations − busy is the time spent queued behind
    * another call of the same kind. */
  def unionNanos(spans: Seq[Span]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spans.sortBy(_.start).foreach { s =>
      if (s.start > curE) { if (curE > curS) total += curE - curS; curS = s.start; curE = s.end }
      else if (s.end > curE) curE = s.end
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** A [[StreamStore]] decorator that records a span around every call,
  * named `<prefix>.append`, `<prefix>.read` or `<prefix>.head`. Reads also
  * tag the Spark jobs they start (local property `perfbench.tag`) so the
  * [[JobStats]] listener can count jobs per read, and count the rows they
  * return. The last read is kept for the subscription metrics (a
  * subscription reads and delivers on one thread). */
final class TracedStore(inner: StreamStore, tracer: Tracer, prefix: String, sc: SparkContext)
  extends StreamStore {
  @volatile var lastReadStart = 0L
  @volatile var lastReadEnd = 0L

  private def read[T](key: String)(f: => T)(rows: T => Int): T = {
    val saved = sc.getLocalProperty(JobStats.TagKey)
    sc.setLocalProperty(JobStats.TagKey, s"$prefix.read")
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(s"$prefix.read", key)(f)
      lastReadStart = t0; lastReadEnd = System.nanoTime()
      val n = rows(r)
      tracer.add(s"$prefix.read.rows", n)
      if (n == 0) tracer.add(s"$prefix.read.empty", 1)
      r
    } finally sc.setLocalProperty(JobStats.TagKey, saved)
  }
  private def head[T](key: String)(f: => T): T = tracer.span(s"$prefix.head", key)(f)

  def appendToStream(streamId: String, expectedVersion: Int, messages: Seq[NewStreamMessage]): AppendResult =
    tracer.span(s"$prefix.append", streamId)(inner.appendToStream(streamId, expectedVersion, messages))
  def deleteStream(streamId: String, expectedVersion: Int): Unit = inner.deleteStream(streamId, expectedVersion)
  def deleteMessage(streamId: String, messageId: String): Unit = inner.deleteMessage(streamId, messageId)
  def setStreamMetadata(streamId: String, expectedStreamMetadataVersion: Int, maxAge: Option[Int],
      maxCount: Option[Int], metadataJson: Option[String]): Unit =
    inner.setStreamMetadata(streamId, expectedStreamMetadataVersion, maxAge, maxCount, metadataJson)
  def readAllForwards(from: Long, maxCount: Int, prefetch: Boolean): ReadAllPage =
    read("$all")(inner.readAllForwards(from, maxCount, prefetch))(_.messages.size)
  def readAllBackwards(from: Long, maxCount: Int, prefetch: Boolean): ReadAllPage =
    read("$all")(inner.readAllBackwards(from, maxCount, prefetch))(_.messages.size)
  def readStreamForwards(streamId: String, from: Int, maxCount: Int, prefetch: Boolean): ReadStreamPage =
    read(streamId)(inner.readStreamForwards(streamId, from, maxCount, prefetch))(_.messages.size)
  def readStreamBackwards(streamId: String, from: Int, maxCount: Int, prefetch: Boolean): ReadStreamPage =
    read(streamId)(inner.readStreamBackwards(streamId, from, maxCount, prefetch))(_.messages.size)
  def readHeadPosition(): Long = head("$all")(inner.readHeadPosition())
  def readStreamHeadPosition(streamId: String): Long = head(streamId)(inner.readStreamHeadPosition(streamId))
  def readStreamHeadVersion(streamId: String): Int = head(streamId)(inner.readStreamHeadVersion(streamId))
  def getStreamMetadata(streamId: String): StreamMetadataResult = inner.getStreamMetadata(streamId)
  def listStreams(pattern: Pattern, maxCount: Int, continuationToken: Option[String]): ListStreamsPage =
    inner.listStreams(pattern, maxCount, continuationToken)
  def readMessageData(streamId: String, streamVersion: Int): Option[String] =
    inner.readMessageData(streamId, streamVersion)
  def close(): Unit = inner.close()
}

/** Per-tag totals of the Spark work started under a `perfbench.tag`
  * local property: jobs, stages, task time, the slowest task, shuffle
  * write, spill and GC. */
final class TagTotals {
  var jobs = 0; val stages = mutable.Set.empty[Int]
  var taskMs = 0L; var maxTaskMs = 0L; var shuffleWrite = 0L; var spill = 0L; var gcMs = 0L
}

final class JobStats extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, TagTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobStats.TagKey)))
    tag.foreach { t =>
      totals.getOrElseUpdate(t, new TagTotals).jobs += 1
      e.stageIds.foreach(stageTag(_) = t)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (t <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val tt = totals.getOrElseUpdate(t, new TagTotals)
      tt.stages += e.stageId
      tt.taskMs += m.executorRunTime
      tt.maxTaskMs = math.max(tt.maxTaskMs, m.executorRunTime)
      tt.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      tt.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      tt.gcMs += m.jvmGCTime
    }
  }
  def get(tag: String): TagTotals = synchronized(totals.getOrElse(tag, new TagTotals))
}

object JobStats {
  val TagKey = "perfbench.tag"
  def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    val saved = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, saved)
  }
}
