package graft.store

import graft.SparkTestSession
import graft.core._
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Millis, Seconds, Span}

import java.time.Instant
import scala.collection.mutable

/** Memtable pages against Spark pages. One seeded op sequence runs on two
  * stores: `flushed` writes every append to its own segment, so each page
  * below its head is a Spark job; `buffered` keeps the default window, so
  * pages inside its memtable are cut from memory (and pages reaching
  * below it, after an explicit flush, fall back to Spark). Every page of
  * the four paged reads and every `readMessageData` must agree field for
  * field. The ops cover appends over many streams, deleteStream then
  * re-create, deleteMessage, MaxCount and MaxAge (injected clock), and
  * reads with and without prefetch, including pages that straddle the
  * memtable's first position. */
class MemtableReadParitySpec extends AnyFunSuite with Eventually {
  private val spark = SparkTestSession.spark

  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = Span(30, Seconds), interval = Span(50, Millis))

  private val Streams = (0 until 6).map(i => s"s$i")

  private def open(clock: Clock, flushEveryRows: Int): SparkStreamStore =
    new SparkStreamStore(spark, SparkTestSession.tempDir("graft-memparity"), clock,
      flushEveryRows = flushEveryRows)

  /** `$deleted` events carry random message ids; everything else about a
    * page is deterministic. */
  private def norm(ms: Seq[StreamMessage]): Seq[StreamMessage] =
    ms.map(m => if (m.streamId == Deleted.DeletedStreamId) m.copy(messageId = "") else m)

  private def allFields(p: ReadAllPage) =
    (p.fromPosition, p.nextPosition, p.isEnd, p.direction, norm(p.messages))
  private def streamFields(p: ReadStreamPage) =
    (p.streamId, p.status, p.fromStreamVersion, p.nextStreamVersion, p.lastStreamVersion,
      p.lastStreamPosition, p.direction, p.isEnd, norm(p.messages))

  for (seed <- Seq(7L, 42L)) test(s"every page matches between the memtable and Spark read paths (seed $seed)") {
    val clock = new Clock.Manual(Instant.parse("2026-01-01T00:00:00Z"))
    val flushed = open(clock, flushEveryRows = 1)
    val buffered = open(clock, flushEveryRows = 4096)
    val stores = Seq(flushed, buffered)
    val rnd = new scala.util.Random(seed)
    // the test's model: retention settings, and each stream's current
    // incarnation as (version, created) pairs — to know what MaxAge expires
    val maxAge = mutable.Map.empty[String, Int]
    val maxCount = mutable.Map.empty[String, Int]
    val created = mutable.Map.empty[String, mutable.ArrayBuffer[(Int, Instant)]]
    var memStart = 0L // the buffered store's first memtable position
    var nextId = 0
    var rounds = 0

    def both[T](f: StreamStore => T): T = {
      val Seq(a, b) = stores.map(f)
      assert(a === b)
      a
    }

    /** A read against both stores; the two pages must be equal. */
    def check[P](what: String)(read: StreamStore => P)(fields: P => Any): Unit = {
      val Seq(a, b) = stores.map(s => fields(read(s)))
      assert(a === b, what)
    }

    /** Expired messages leave a page only once the background TTL purge
      * has tombstoned them, and that page boundary shifts when it does: a
      * full scan queues the purge on each store, then both are waited for
      * until every expired message is gone. */
    def settleTtl(): Unit = {
      val now = clock.nowUtc
      val expired = for {
        (s, age) <- maxAge.toSeq
        (v, t) <- created.getOrElse(s, Nil)
        if !t.plusSeconds(age.toLong).isAfter(now)
      } yield (s, v)
      if (expired.nonEmpty) stores.foreach { st =>
        st.readAllForwards(Position.Start, 1 << 20)
        eventually { expired.foreach { case (s, v) => assert(st.readMessageData(s, v) === None) } }
      }
    }

    def compareAll(): Unit = {
      rounds += 1
      val head = both(_.readHeadPosition())
      val prefetch = rounds % 2 == 0
      val n = if (rounds % 3 == 0) 2 else 5
      for (from <- Seq(Position.Start, memStart - 1, memStart, memStart + 1, head, head + 1, Position.End).distinct)
        check(s"readAllForwards($from, $n, $prefetch) round $rounds")(
          _.readAllForwards(from, n, prefetch))(allFields)
      for (from <- Seq(Position.End, head, memStart + 1, memStart, memStart - 1, 1L).distinct)
        check(s"readAllBackwards($from, $n, $prefetch) round $rounds")(
          _.readAllBackwards(from, n, prefetch))(allFields)
      val ids = rnd.shuffle(Streams).take(2) ++ Seq(Deleted.DeletedStreamId, MetadataStream.of(Streams(0)))
      ids.foreach { s =>
        val v = both(_.readStreamHeadVersion(s))
        for (from <- Seq(StreamVersion.Start, v - 1, v, v + 1).distinct)
          check(s"readStreamForwards($s, $from, $n, $prefetch) round $rounds")(
            _.readStreamForwards(s, from, n, prefetch))(streamFields)
        for (from <- Seq(StreamVersion.End, v - 1, 1).distinct)
          check(s"readStreamBackwards($s, $from, $n, $prefetch) round $rounds")(
            _.readStreamBackwards(s, from, n, prefetch))(streamFields)
      }
      ids.take(2).foreach { s =>
        val v = both(_.readStreamHeadVersion(s))
        for (ver <- Seq(0, v / 2, v, v + 1).distinct)
          check(s"readMessageData($s, $ver) round $rounds")(_.readMessageData(s, ver))(identity)
      }
    }

    try {
      for (op <- 1 to 60) {
        val s = Streams(rnd.nextInt(Streams.size))
        val dice = rnd.nextInt(100)
        if (dice < 45) {
          val msgs = (0 until 1 + rnd.nextInt(3)).map { _ =>
            nextId += 1
            NewStreamMessage(f"00000000-0000-0000-0000-$nextId%012d", "t", s"""{"n":$nextId}""")
          }
          val r = both(_.appendToStream(s, ExpectedVersion.Any, msgs))
          val c = created.getOrElseUpdate(s, mutable.ArrayBuffer.empty)
          msgs.indices.foreach(i => c += ((r.currentVersion - msgs.size + 1 + i, clock.nowUtc)))
        } else if (dice < 53) {
          both(_.deleteStream(s))
          created.remove(s); maxAge.remove(s); maxCount.remove(s)
        } else if (dice < 65) {
          created.get(s).filter(_.nonEmpty).foreach { c =>
            val v = c(rnd.nextInt(c.size))._1
            // the message id of version v, read from the flushed store
            flushed.readStreamForwards(s, v, 1).messages.headOption.filter(_.streamVersion == v)
              .foreach(m => both(_.deleteMessage(s, m.messageId)))
          }
        } else if (dice < 73) {
          maxCount(s) = 1 + rnd.nextInt(3)
          both(_.setStreamMetadata(s, maxAge = maxAge.get(s), maxCount = maxCount.get(s)))
        } else if (dice < 80) {
          maxAge(s) = 20
          both(_.setStreamMetadata(s, maxAge = maxAge.get(s), maxCount = maxCount.get(s)))
          settleTtl()
        } else if (dice < 90) {
          clock.advanceSeconds(5L + rnd.nextInt(10))
          settleTtl()
        }
        if ((dice >= 90 && dice < 95) || op == 30) {
          stores.foreach(_.flush())
          memStart = buffered.readHeadPosition() + 1
        }
        if (op % 10 == 0) compareAll()
      }
    } finally stores.foreach(_.close())
  }

  test("memtable-resident pages start no Spark job; a page reaching below the memtable does") {
    val store = open(Clock.System, flushEveryRows = 4096)
    val sc = spark.sparkContext
    val memGroup = s"graft-memtable-${java.util.UUID.randomUUID()}"
    val sparkGroup = s"graft-flushed-${java.util.UUID.randomUUID()}"
    def msgs(n: Int) = (0 until n).map(i => NewStreamMessage(java.util.UUID.randomUUID().toString, "t", s"""{"i":$i}"""))
    try {
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(5))
      store.flush()
      val start = store.readHeadPosition() + 1 // the memtable's first position
      store.appendToStream("a", ExpectedVersion.Any, msgs(5))
      store.appendToStream("b", ExpectedVersion.NoStream, msgs(5))
      store.deleteMessage("b", store.readStreamForwards("b", 4, 1).messages.head.messageId)
      try {
        sc.setJobGroup(memGroup, "memtable-resident reads")
        assert(store.readAllForwards(start, 4).messages.map(_.position) === (start until start + 4))
        assert(store.readAllForwards(store.readHeadPosition() + 1, 4).messages.isEmpty)
        assert(store.readAllBackwards(Position.End, 4).messages.size === 4)
        assert(store.readStreamForwards("a", 5, 10).messages.map(_.streamVersion) === (5 until 10))
        assert(store.readStreamBackwards("b", StreamVersion.End, 10).messages.map(_.streamVersion) === Seq(3, 2, 1, 0))
        assert(store.readMessageData("a", 7).isDefined && store.readMessageData("b", 4).isEmpty)
        // reaches below the memtable: one Spark job
        sc.setJobGroup(sparkGroup, "a read below the memtable")
        assert(store.readStreamForwards("a", 0, 10).messages.map(_.streamVersion) === (0 until 10))
      } finally sc.clearJobGroup()
      // job events reach the status store in order: once the second
      // group's job shows, any job of the first would have shown too
      eventually { assert(sc.statusTracker.getJobIdsForGroup(sparkGroup).nonEmpty) }
      assert(sc.statusTracker.getJobIdsForGroup(memGroup).isEmpty)
    } finally store.close()
  }
}
