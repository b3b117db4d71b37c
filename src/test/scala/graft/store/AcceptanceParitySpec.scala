package graft.store

import graft.SparkTestSession
import graft.core._
import graft.streaming.{Subscriptions, SubscriptionDroppedReason}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Round-2 ports of reference acceptance behaviors the round-1 suite
  * missed (VERDICT item 6): deletion-tracking toggle
  * (`AcceptanceTests.DeletionTracking.cs`), prefetch/deleted-payload reads
  * (`AcceptanceTests.ReadAll.cs`, contract `StreamMessage.cs:59-72`),
  * read-past-end / empty-stream / deleted-stream reads
  * (`AcceptanceTests.ReadStream.cs`, `ReadHeadCheckpoint.cs`), metadata
  * idempotency (`AcceptanceTests.StreamMetadata.cs`), and subscription
  * caught-up / continue-after edge cases
  * (`AcceptanceTests.Subscriptions.cs:241-359,652-781,856-886`).
  * Each test is named after its reference twin.
  *
  * The suite is backend-agnostic (mirroring the reference, where one
  * acceptance suite runs over every `IStreamStore` fixture): concrete
  * classes at the bottom bind it to the parquet store and the JDBC
  * store. */
trait StoreAcceptanceBehaviors extends AnyFunSuite {

  /** Construct a fresh store of the backend under test. */
  protected def withStore[T](name: String, trackDeletes: Boolean = true,
      clock: Clock = Clock.System)(f: StreamStore => T): T

  private def mid(n: Int): String = f"00000000-0000-0000-0000-$n%012d"
  private def msgs(ns: Int*): Seq[NewStreamMessage] =
    ns.map(n => NewStreamMessage(mid(n), "type", s"""{"data":$n}"""))

  // --- DeletionTracking.cs ---

  test("When_deletion_tracking_is_disabled_deleted_message_should_not_be_tracked") {
    withStore("graft-ap", trackDeletes = false) { store =>
      store.appendToStream("stream", ExpectedVersion.NoStream, msgs(1))
      store.deleteMessage("stream", mid(1))
      val page = store.readStreamBackwards(Deleted.DeletedStreamId, StreamVersion.End, 1)
      assert(page.messages.isEmpty)
    }
  }

  test("When_deletion_tracking_is_disabled_deleted_stream_should_not_be_tracked") {
    withStore("graft-ap", trackDeletes = false) { store =>
      store.appendToStream("stream", ExpectedVersion.NoStream, msgs(1))
      store.deleteStream("stream")
      val page = store.readStreamBackwards(Deleted.DeletedStreamId, StreamVersion.End, 1)
      assert(page.messages.isEmpty)
    }
  }

  // --- ReadAll.cs: prefetch / deleted payload (StreamMessage.cs:59-72) ---

  test("When_read_without_prefetch_and_stream_is_deleted_then_GetJsonData_should_return_null") {
    withStore("graft-ap") { store =>
      store.appendToStream("stream-1", ExpectedVersion.NoStream, msgs(1, 2, 3))
      val page = store.readAllForwards(Position.Start, 4, prefetchJsonData = false)
      assert(page.messages.forall(_.jsonData == null))
      store.deleteStream("stream-1")
      // the lazy payload lookup of an already-read page now yields nothing
      page.messages.foreach { m =>
        assert(store.readMessageData(m.streamId, m.streamVersion) === None)
      }
    }
  }

  test("Can_read_all_forwards_without_prefetch_then_fetch_payload_lazily") {
    withStore("graft-ap") { store =>
      store.appendToStream("stream-1", ExpectedVersion.NoStream, msgs(1, 2, 3))
      val page = store.readAllForwards(Position.Start, 4, prefetchJsonData = false)
      page.messages.foreach { m =>
        val data = store.readMessageData(m.streamId, m.streamVersion)
        assert(data.exists(_.nonEmpty))
      }
    }
  }

  // --- ReadAll.cs position theories (:177-236) ---

  test("When_read_all_forwards theory: counts, from, and next positions") {
    // (seed, from, max, expCount, expFrom, expNext)
    val cases = Seq(
      (3, 0L, 3, 3, 0L, 3L), // read entire store
      (3, 0L, 4, 3, 0L, 3L),
      (3, 0L, 2, 2, 0L, 2L),
      (3, 1L, 2, 2, 1L, 3L),
      (3, 2L, 1, 1, 2L, 3L),
      (3, 3L, 1, 0, 3L, 3L)) // past end
    cases.foreach { case (seed, from, max, expCount, expFrom, expNext) =>
      withStore("graft-rafwd") { store =>
        store.appendToStream("stream-1", ExpectedVersion.NoStream, msgs(1 to seed: _*))
        val page = store.readAllForwards(from, max)
        assert(page.messages.size === expCount, s"count for $from/$max")
        assert(page.fromPosition === expFrom, s"fromPosition for $from/$max")
        assert(page.nextPosition === expNext, s"nextPosition for $from/$max")
      }
    }
  }

  test("When_read_all_backwards theory: counts, resolved from, and next positions") {
    // (seed, from, max, expCount, expFrom, expNext); from = -1 is End
    val cases = Seq(
      (3, -1L, 1, 1, 2L, 1L),
      (3, 2L, 1, 1, 2L, 1L),
      (3, 1L, 1, 1, 1L, 0L),
      (3, 0L, 1, 1, 0L, 0L),
      (3, -1L, 3, 3, 2L, 0L), // read entire store
      (3, -1L, 4, 3, 2L, 0L),
      (0, -1L, 1, 0, 0L, 0L)) // empty store
    cases.foreach { case (seed, from, max, expCount, expFrom, expNext) =>
      withStore("graft-rabwd") { store =>
        if (seed > 0) store.appendToStream("stream-1", ExpectedVersion.NoStream, msgs(1 to seed: _*))
        val page = store.readAllBackwards(from, max)
        assert(page.messages.size === expCount, s"count for $from/$max")
        assert(page.fromPosition === expFrom, s"fromPosition for $from/$max")
        assert(page.nextPosition === expNext, s"nextPosition for $from/$max")
      }
    }
  }

  // --- ReadStream.cs theories (:376-426) ---

  test("Can_read_streams_forwards_and_backwards theories: page fields") {
    withStore("graft-rstheory") { store =>
      store.appendToStream("stream-1", ExpectedVersion.NoStream, msgs(1, 2, 3))
      store.appendToStream("stream-2", ExpectedVersion.NoStream, msgs(4, 5, 6))

      val f1 = store.readStreamForwards("stream-1", StreamVersion.Start, 2)
      assert((f1.fromStreamVersion, f1.nextStreamVersion, f1.lastStreamVersion, f1.isEnd) === ((0, 2, 2, false)))
      assert(f1.messages.map(_.messageId) === Seq(mid(1), mid(2)))

      val f2 = store.readStreamForwards("not-exist", 1, 2)
      assert(f2.status === PageReadStatus.StreamNotFound)
      assert((f2.fromStreamVersion, f2.nextStreamVersion, f2.lastStreamVersion, f2.isEnd) === ((1, -1, -1, true)))

      val f3 = store.readStreamForwards("stream-2", 1, 2)
      assert((f3.fromStreamVersion, f3.nextStreamVersion, f3.lastStreamVersion, f3.isEnd) === ((1, 3, 2, true)))
      assert(f3.messages.map(_.messageId) === Seq(mid(5), mid(6)))

      val b1 = store.readStreamBackwards("stream-1", StreamVersion.End, 1)
      assert((b1.fromStreamVersion, b1.nextStreamVersion, b1.lastStreamVersion, b1.isEnd) === ((-1, 1, 2, false)))
      assert(b1.messages.map(_.messageId) === Seq(mid(3)))

      val b2 = store.readStreamBackwards("stream-1", StreamVersion.End, 2)
      assert((b2.fromStreamVersion, b2.nextStreamVersion, b2.lastStreamVersion, b2.isEnd) === ((-1, 0, 2, false)))

      val b3 = store.readStreamBackwards("stream-1", StreamVersion.End, 4)
      assert((b3.fromStreamVersion, b3.nextStreamVersion, b3.lastStreamVersion, b3.isEnd) === ((-1, -1, 2, true)))
      assert(b3.messages.map(_.messageId) === Seq(mid(3), mid(2), mid(1)))
    }
  }

  // --- ReadStream.cs ---

  test("Can_read_next_page_past_end_of_stream") {
    withStore("graft-ap") { store =>
      store.appendToStream("s", ExpectedVersion.NoStream, msgs(1, 2, 3))
      val p1 = store.readStreamForwards("s", 0, 10)
      assert(p1.isEnd)
      val p2 = p1.readNext()
      assert(p2.messages.isEmpty && p2.isEnd)
      assert(p2.nextStreamVersion === 3)
    }
  }

  test("Can_read_empty_stream_forwards_and_backwards") {
    withStore("graft-ap") { store =>
      store.appendToStream("s", ExpectedVersion.NoStream, Nil)
      val fwd = store.readStreamForwards("s")
      assert(fwd.status === PageReadStatus.Success && fwd.messages.isEmpty && fwd.isEnd)
      assert(fwd.lastStreamVersion === -1)
      val bwd = store.readStreamBackwards("s")
      assert(bwd.status === PageReadStatus.Success && bwd.messages.isEmpty && bwd.isEnd)
    }
  }

  test("When_read_deleted_stream_forwards_then_should_get_StreamNotFound") {
    withStore("graft-ap") { store =>
      store.appendToStream("s", ExpectedVersion.NoStream, msgs(1, 2))
      store.deleteStream("s")
      assert(store.readStreamForwards("s").status === PageReadStatus.StreamNotFound)
      assert(store.readStreamBackwards("s").status === PageReadStatus.StreamNotFound)
    }
  }

  test("Can_read_stream_backwards_starting_past_end_of_stream") {
    withStore("graft-ap") { store =>
      store.appendToStream("s", ExpectedVersion.NoStream, msgs(1, 2, 3))
      val p = store.readStreamBackwards("s", 10, 10)
      assert(p.messages.map(_.streamVersion) === Seq(2, 1, 0))
      assert(p.isEnd)
    }
  }

  // --- ReadHeadCheckpoint.cs ---

  test("Given_store_with_empty_stream_when_get_head_position_Then_should_be_minus_one") {
    withStore("graft-ap") { store =>
      store.appendToStream("s", ExpectedVersion.NoStream, Nil)
      assert(store.readHeadPosition() === -1L)
      assert(store.readStreamHeadPosition("s") === -1L)
      assert(store.readStreamHeadVersion("s") === -1)
    }
  }

  // --- StreamMetadata.cs ---

  test("Can_set_and_get_stream_metadata_for_non_existent_stream") {
    withStore("graft-ap") { store =>
      store.setStreamMetadata("nonexistent", maxAge = Some(2), maxCount = Some(3),
        metadataJson = Some("""{"key":"value"}"""))
      val m = store.getStreamMetadata("nonexistent")
      assert(m.metadataStreamVersion === 0)
      assert(m.maxAge === Some(2) && m.maxCount === Some(3))
    }
  }

  test("Can_set_stream_metadata_for_non_existent_stream_and_append_with_expected_version_any") {
    withStore("graft-ap") { store =>
      store.setStreamMetadata("s", maxCount = Some(2))
      store.appendToStream("s", ExpectedVersion.Any, msgs(1, 2, 3, 4))
      assert(store.readStreamForwards("s").messages.map(_.streamVersion) === Seq(2, 3))
    }
  }

  test("When_set_metadata_with_same_data_then_should_handle_idempotently") {
    withStore("graft-ap") { store =>
      store.setStreamMetadata("s", maxAge = Some(30), metadataJson = Some("""{"k":1}"""))
      // identical payload mints the same deterministic message id => replay no-op
      store.setStreamMetadata("s", maxAge = Some(30), metadataJson = Some("""{"k":1}"""))
      assert(store.getStreamMetadata("s").metadataStreamVersion === 0)
    }
  }

  test("Can_set_deleted_stream_metadata") {
    withStore("graft-ap") { store =>
      store.appendToStream("s", ExpectedVersion.NoStream, msgs(1))
      store.deleteStream("s") // creates $deleted
      store.setStreamMetadata(Deleted.DeletedStreamId, maxCount = Some(100))
      assert(store.getStreamMetadata(Deleted.DeletedStreamId).maxCount === Some(100))
    }
  }

  // --- DeleteEvent.cs / StreamLimits.cs / ListStreams.cs remainders ---

  test("When_delete_all_messages_from_stream_with_multiple_messages_then_can_read_all_forwards") {
    withStore("graft-ap") { store =>
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
      store.appendToStream("b", ExpectedVersion.NoStream, msgs(4))
      Seq(1, 2, 3).foreach(n => store.deleteMessage("a", mid(n)))
      val all = store.readAllForwards()
      // b's message + three $message-deleted tombstone events survive
      assert(all.messages.count(_.streamId == "a") === 0)
      assert(all.messages.count(_.streamId == "b") === 1)
      val aPage = store.readStreamForwards("a")
      assert(aPage.status === PageReadStatus.Success && aPage.messages.isEmpty)
      assert(store.readStreamHeadVersion("a") === 2) // head does not regress
    }
  }

  test("When_stream_has_expired_messages_and_read_backward_then_should_not_get_expired_messages") {
    val clock = new Clock.Manual(java.time.Instant.parse("2026-01-01T00:00:00Z"))
    withStore("graft-ap-ttl", clock = clock) { store =>
      store.setStreamMetadata("a", maxAge = Some(60))
      store.appendToStream("a", ExpectedVersion.NoStream, msgs(1))
      clock.advanceSeconds(30)
      store.appendToStream("a", 0, msgs(2))
      clock.advanceSeconds(40) // msg1 expired, msg2 live
      assert(store.readStreamBackwards("a").messages.map(_.messageId) === Seq(mid(2)))
      assert(store.readAllBackwards().messages
        .filter(_.streamId == "a").map(_.messageId) === Seq(mid(2)))
    }
  }

  test("When_list_streams_after_deletion_empty_results_should_not_be_returned") {
    withStore("graft-ap") { store =>
      Seq("keep-1", "gone-1", "keep-2").foreach(id =>
        store.appendToStream(id, ExpectedVersion.NoStream, msgs(1)))
      store.deleteStream("gone-1")
      val listed = store.listStreams().streamIds.filterNot(StreamId.isSystem)
      assert(listed === Seq("keep-1", "keep-2"))
    }
  }

  test("When_delete_stream_message_with_url_encodable_characters_then_should_not_throw") {
    withStore("graft-ap") { store =>
      Seq("stream/id", "stream%id").foreach { id =>
        store.appendToStream(id, ExpectedVersion.NoStream, msgs(1, 2))
        store.deleteMessage(id, mid(1))
        assert(store.readStreamForwards(id).messages.map(_.messageId) === Seq(mid(2)))
      }
    }
  }

  // --- Subscriptions.cs: continue-after / caught-up edges ---

  test("Can_subscribe_to_a_stream_from_a_specific_version") {
    withStore("graft-ap") { store =>
      store.appendToStream("s", ExpectedVersion.NoStream, msgs(1 to 10: _*))
      val seen = new ConcurrentLinkedQueue[Int]()
      val latch = new CountDownLatch(1)
      val sub = Subscriptions.subscribeToStream(store, "s", continueAfterVersion = Some(2),
        m => { seen.add(m.streamVersion); if (m.streamVersion == 9) latch.countDown() })
      try {
        assert(latch.await(30, TimeUnit.SECONDS))
        assert(seen.toArray.toSeq === (3 to 9))
      } finally sub.close()
    }
  }

  test("Given_empty_streamstore_can_subscribe_to_all_stream_from_end") {
    withStore("graft-ap") { store =>
      val seen = new ConcurrentLinkedQueue[Long]()
      val latch = new CountDownLatch(1)
      val sub = Subscriptions.subscribeToAll(store, Some(Position.End),
        m => { seen.add(m.position); latch.countDown() })
      try {
        store.appendToStream("s", ExpectedVersion.NoStream, msgs(1))
        assert(latch.await(30, TimeUnit.SECONDS))
        assert(seen.toArray.toSeq === Seq(0L))
      } finally sub.close()
    }
  }

  test("Given_non_empty_streamstore_can_subscribe_to_all_stream_from_end") {
    withStore("graft-ap") { store =>
      store.appendToStream("s", ExpectedVersion.NoStream, msgs(1, 2, 3))
      val seen = new ConcurrentLinkedQueue[Long]()
      val latch = new CountDownLatch(1)
      val sub = Subscriptions.subscribeToAll(store, Some(Position.End),
        m => { seen.add(m.position); latch.countDown() })
      try {
        store.appendToStream("s", ExpectedVersion.Any, msgs(4))
        assert(latch.await(30, TimeUnit.SECONDS))
        // only the message appended after subscribing, none of the first 3
        assert(seen.toArray.toSeq === Seq(3L))
      } finally sub.close()
    }
  }

  test("When_subscribe_to_all_with_empty_store_should_raise_has_caught_up") {
    withStore("graft-ap") { store =>
      val latch = new CountDownLatch(1)
      val sub = Subscriptions.subscribeToAll(store, None, _ => (),
        caughtUp => if (caughtUp) latch.countDown())
      try assert(latch.await(30, TimeUnit.SECONDS)) finally sub.close()
    }
  }

  test("When_subscribe_to_stream_with_empty_store_should_raise_has_caught_up") {
    withStore("graft-ap") { store =>
      val latch = new CountDownLatch(1)
      val sub = Subscriptions.subscribeToStream(store, "nonexistent", None, _ => (),
        caughtUp => if (caughtUp) latch.countDown())
      try assert(latch.await(30, TimeUnit.SECONDS)) finally sub.close()
    }
  }

  test("When_caught_up_to_all_then_then_should_notify_only_twice") {
    withStore("graft-ap") { store =>
      store.appendToStream("s", ExpectedVersion.NoStream, msgs(1 to 30: _*))
      val trueRaises = new AtomicInteger(0)
      val first = new CountDownLatch(1)
      val sub = Subscriptions.subscribeToAll(store, None, _ => (),
        caughtUp => if (caughtUp) { trueRaises.incrementAndGet(); first.countDown() },
        pageSize = 10)
      try {
        assert(first.await(30, TimeUnit.SECONDS))
        Thread.sleep(500) // stays caught up: no repeated raise while idle
        assert(trueRaises.get() <= 2, s"caught-up raised ${trueRaises.get()} times")
      } finally sub.close()
    }
  }

  test("When_falls_behind_on_all_then_then_should_notify") {
    withStore("graft-ap") { store =>
      store.appendToStream("s", ExpectedVersion.NoStream, msgs(1 to 30: _*))
      val transitions = new ConcurrentLinkedQueue[Boolean]()
      val caughtTwice = new CountDownLatch(2)
      val sub = Subscriptions.subscribeToAll(store, None, _ => (),
        b => { transitions.add(b); if (b) caughtTwice.countDown() },
        pageSize = 10)
      try {
        // wait until first caught-up, then outpace the subscription
        val deadline = System.currentTimeMillis() + 30000
        while (!transitions.contains(true) && System.currentTimeMillis() < deadline) Thread.sleep(50)
        store.appendToStream("s", ExpectedVersion.Any, msgs(31 to 60: _*))
        assert(caughtTwice.await(30, TimeUnit.SECONDS))
        // fell behind (false) between the two caught-up (true) raises
        assert(transitions.toArray.map(_.asInstanceOf[Boolean]).toSeq.count(_ == false) >= 1)
      } finally sub.close()
    }
  }

  test("Can_have_multiple_subscriptions_to_all") {
    withStore("graft-ap") { store =>
      store.appendToStream("s", ExpectedVersion.NoStream, msgs(1, 2, 3))
      val counts = Seq.fill(3)(new AtomicInteger(0))
      val latches = Seq.fill(3)(new CountDownLatch(3))
      val subs = (0 until 3).map { i =>
        Subscriptions.subscribeToAll(store, None,
          _ => { counts(i).incrementAndGet(); latches(i).countDown() })
      }
      try {
        latches.foreach(l => assert(l.await(30, TimeUnit.SECONDS)))
        assert(counts.forall(_.get() === 3))
      } finally subs.foreach(_.close())
    }
  }

  test("Can_dispose_stream_subscription_multiple_times") {
    withStore("graft-ap") { store =>
      store.appendToStream("s", ExpectedVersion.NoStream, msgs(1))
      val dropped = new AtomicInteger(0)
      val sub = Subscriptions.subscribeToStream(store, "s", None, _ => (),
        onDropped = (r, _) => if (r == SubscriptionDroppedReason.Disposed) dropped.incrementAndGet())
      sub.close()
      sub.close() // second dispose must be a safe no-op
      assert(dropped.get() <= 1)
      assert(!sub.isRunning)
    }
  }

  test("When_subscribe_to_stream_and_append_messages_then_should_receive_message") {
    withStore("graft-ap") { store =>
      val latch = new CountDownLatch(1)
      val sub = Subscriptions.subscribeToStream(store, "s", None,
        m => if (m.streamVersion == 0) latch.countDown())
      try {
        store.appendToStream("s", ExpectedVersion.NoStream, msgs(1))
        assert(latch.await(30, TimeUnit.SECONDS))
      } finally sub.close()
    }
  }
}

/** The acceptance behaviors over the parquet-native store. */
class AcceptanceParitySpec extends StoreAcceptanceBehaviors {
  protected def withStore[T](name: String, trackDeletes: Boolean = true,
      clock: Clock = Clock.System)(f: StreamStore => T): T = {
    val store = new SparkStreamStore(SparkTestSession.spark,
      SparkTestSession.tempDir(name), clock, trackDeletes = trackDeletes)
    try f(store) finally store.close()
  }
}

/** The same acceptance behaviors with every append flushed to its own
  * parquet segment (`flushEveryRows = 1`). The memtable is then always
  * empty, so every page below the head is one Spark job over the flushed
  * log — the read path the other parquet fixtures no longer reach, since
  * their logs stay in the memtable and are paged from memory. */
class FlushedLogAcceptanceSpec extends StoreAcceptanceBehaviors {
  protected def withStore[T](name: String, trackDeletes: Boolean = true,
      clock: Clock = Clock.System)(f: StreamStore => T): T = {
    val store = new SparkStreamStore(SparkTestSession.spark,
      SparkTestSession.tempDir(name), clock, trackDeletes = trackDeletes,
      flushEveryRows = 1)
    try f(store) finally store.close()
  }
}

/** The same acceptance behaviors over the parquet store with heads
  * spilled to Derby and only 8 hot heads in memory — every behavior must
  * be oblivious to whether a head was resident or reloaded. */
class BoundedHeadsAcceptanceSpec extends StoreAcceptanceBehaviors {
  protected def withStore[T](name: String, trackDeletes: Boolean = true,
      clock: Clock = Clock.System)(f: StreamStore => T): T = {
    val store = new SparkStreamStore(SparkTestSession.spark,
      SparkTestSession.tempDir(name), clock, trackDeletes = trackDeletes,
      headCacheCapacity = 8)
    try f(store) finally store.close()
  }
}

/** The same acceptance behaviors with auto-spill forced LOW (threshold 4)
  * — every suite crosses the in-memory → Derby migration mid-behavior, so
  * the spill transition itself is proven invisible to the contract. */
class AutoSpillAcceptanceSpec extends StoreAcceptanceBehaviors {
  protected def withStore[T](name: String, trackDeletes: Boolean = true,
      clock: Clock = Clock.System)(f: StreamStore => T): T = {
    val store = new SparkStreamStore(SparkTestSession.spark,
      SparkTestSession.tempDir(name), clock, trackDeletes = trackDeletes,
      autoSpillHeads = 4)
    try f(store) finally store.close()
  }
}

/** The same acceptance behaviors over the JDBC store (embedded Derby) —
  * the reference runs one suite per SQL backend the same way. */
class JdbcAcceptanceParitySpec extends StoreAcceptanceBehaviors {
  protected def withStore[T](name: String, trackDeletes: Boolean = true,
      clock: Clock = Clock.System)(f: StreamStore => T): T = {
    val dir = SparkTestSession.tempDir(name)
    val store = new JdbcStreamStore(SparkTestSession.spark,
      s"jdbc:derby:$dir/db;create=true", clock, trackDeletes)
    try f(store) finally store.close()
  }
}

/** The same acceptance behaviors through a SECOND live dialect object:
  * the [[SqlDialect.Ansi]] fallback injected explicitly over embedded
  * Derby. Ansi's syntax points are Derby-parseable (FETCH FIRST, CLOB),
  * but everything engine-SPECIFIC is absent — `isAlreadyExists` never
  * classifies (so schema setup must stay metadata-guarded, never
  * exception-tolerant) and `shutdown` is a no-op (so close() must not
  * depend on the embedded handshake). This is the unknown-engine path a
  * user hits pointing the store at any JDBC database we never named —
  * the closest live substantiation of the seam available in this image
  * (no Postgres/MySQL/H2 driver ships here; those dialects stay pinned
  * at SQL-text level in SqlDialectSpec, and the reference's own answer
  * is one live test project per engine, `tests/SqlStreamStore.*.Tests`). */
class AnsiDialectAcceptanceSpec extends StoreAcceptanceBehaviors {
  protected def withStore[T](name: String, trackDeletes: Boolean = true,
      clock: Clock = Clock.System)(f: StreamStore => T): T = {
    val dir = SparkTestSession.tempDir(name)
    val store = new JdbcStreamStore(SparkTestSession.spark,
      s"jdbc:derby:$dir/db;create=true", clock, trackDeletes,
      dialect = Some(SqlDialect.Ansi))
    try f(store)
    finally {
      store.close()
      // the Ansi dialect's shutdown is (correctly) a no-op; release this
      // temp database's file locks here so the suite doesn't accumulate
      // booted embedded databases — cleanup concern of the TEST, not the
      // dialect (a real unknown engine is client/server and needs none)
      SqlDialect.Derby.shutdown(s"jdbc:derby:$dir/db")
    }
  }
}

/** The same acceptance behaviors THROUGH THE WIRE: an HTTP server over a
  * parquet store, exercised via the [[graft.http.HttpStreamStore]]
  * client — the reference's HttpTests wiring, where the shared
  * acceptance suite runs over the HAL server + HTTP client fixture
  * (`tests/SqlStreamStore.HttpTests/`). Every semantic (expected-version
  * conflicts, deletion tracking, TTL with an injected clock, metadata
  * inheritance, subscriptions) must survive serialization. */
class HttpAcceptanceParitySpec extends StoreAcceptanceBehaviors {
  protected def withStore[T](name: String, trackDeletes: Boolean = true,
      clock: Clock = Clock.System)(f: StreamStore => T): T = {
    val backing = new SparkStreamStore(SparkTestSession.spark,
      SparkTestSession.tempDir(name), clock, trackDeletes = trackDeletes)
    val server = new graft.http.StreamStoreHttpServer(backing)
    try f(new graft.http.HttpStreamStore(server.baseUrl))
    finally { server.close(); backing.close() }
  }
}
