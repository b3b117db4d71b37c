package graft.streaming

import graft.SparkTestSession
import graft.core._
import graft.store.SparkStreamStore
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterEach
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span, Millis}

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._

/** Catch-up subscriptions, ported from `AcceptanceTests.Subscriptions.cs`. */
class SubscriptionSpec extends AnyFunSuite with BeforeAndAfterEach with Eventually {
  private val spark = SparkTestSession.spark
  private var store: SparkStreamStore = _

  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = Span(30, Seconds), interval = Span(100, Millis))

  override def beforeEach(): Unit =
    store = new SparkStreamStore(spark, SparkTestSession.tempDir("graft-sub"))
  override def afterEach(): Unit = store.close()

  private def mid(n: Int): String = f"00000000-0000-0000-0000-$n%012d"
  private def msgs(ns: Int*): Seq[NewStreamMessage] =
    ns.map(n => NewStreamMessage(mid(n), "type", s"""{"data":$n}"""))

  test("subscribe to all replays existing messages in position order then follows the tail") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
    val seen = new ConcurrentLinkedQueue[Long]()
    val caughtUp = new CountDownLatch(1)
    val sub = Subscriptions.subscribeToAll(store, None,
      m => seen.add(m.position),
      b => if (b) caughtUp.countDown())
    try {
      assert(caughtUp.await(30, TimeUnit.SECONDS))
      assert(seen.asScala.toSeq === Seq(0L, 1L, 2L))
      store.appendToStream("a", 2, msgs(4, 5))
      eventually { assert(seen.asScala.toSeq === Seq(0L, 1L, 2L, 3L, 4L)) }
    } finally sub.close()
  }

  test("subscribe to all with continueAfterPosition skips earlier messages") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3, 4))
    val seen = new ConcurrentLinkedQueue[Long]()
    val sub = Subscriptions.subscribeToAll(store, Some(1L), m => seen.add(m.position))
    try eventually { assert(seen.asScala.toSeq === Seq(2L, 3L)) }
    finally sub.close()
  }

  test("subscribe to all from End only sees new messages") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
    val seen = new ConcurrentLinkedQueue[Long]()
    val sub = Subscriptions.subscribeToAll(store, Some(Position.End), m => seen.add(m.position))
    try {
      Thread.sleep(500)
      store.appendToStream("a", 1, msgs(3))
      eventually { assert(seen.asScala.toSeq === Seq(2L)) }
    } finally sub.close()
  }

  test("subscribe to stream sees only that stream, in version order") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
    store.appendToStream("b", ExpectedVersion.NoStream, msgs(3))
    val seen = new ConcurrentLinkedQueue[Int]()
    val sub = Subscriptions.subscribeToStream(store, "a", None, m => seen.add(m.streamVersion))
    try {
      store.appendToStream("a", 1, msgs(4))
      eventually { assert(seen.asScala.toSeq === Seq(0, 1, 2)) }
    } finally sub.close()
  }

  test("subscriber exception drops subscription with SubscriberError, exactly once") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2))
    val drops = new ConcurrentLinkedQueue[SubscriptionDroppedReason]()
    val sub = Subscriptions.subscribeToAll(store, None,
      _ => throw new RuntimeException("boom"),
      onDropped = (r, _) => drops.add(r))
    try {
      eventually { assert(drops.asScala.toSeq === Seq(SubscriptionDroppedReason.SubscriberError)) }
      eventually { assert(!sub.isRunning) }
    } finally sub.close()
    assert(drops.size === 1)
  }

  test("close drops subscription with Disposed") {
    val drops = new ConcurrentLinkedQueue[SubscriptionDroppedReason]()
    val sub = Subscriptions.subscribeToAll(store, None, _ => (),
      onDropped = (r, _) => drops.add(r))
    Thread.sleep(300)
    sub.close()
    eventually { assert(drops.asScala.toSeq === Seq(SubscriptionDroppedReason.Disposed)) }
  }

  test("stream subscriber exception drops that subscription with SubscriberError") {
    // ref: Subscriptions.cs:453-476 (stream-scoped twin of the all-stream drop)
    store.appendToStream("s1", ExpectedVersion.NoStream, msgs(1))
    val drops = new ConcurrentLinkedQueue[SubscriptionDroppedReason]()
    val sub = Subscriptions.subscribeToStream(store, "s1", None,
      _ => throw new RuntimeException("boom"),
      onDropped = (r, _) => drops.add(r))
    try {
      eventually { assert(drops.asScala.toSeq === Seq(SubscriptionDroppedReason.SubscriberError)) }
      eventually { assert(!sub.isRunning) }
    } finally sub.close()
    assert(drops.size === 1)
  }

  test("stream subscription close drops with Disposed") {
    // ref: Subscriptions.cs:478-494
    val drops = new ConcurrentLinkedQueue[SubscriptionDroppedReason]()
    val sub = Subscriptions.subscribeToStream(store, "s1", None, _ => (),
      onDropped = (r, _) => drops.add(r))
    Thread.sleep(300)
    sub.close()
    eventually { assert(drops.asScala.toSeq === Seq(SubscriptionDroppedReason.Disposed)) }
  }

  test("close while the subscriber is handling a message drops with Disposed, not an error") {
    // ref: Subscriptions.cs:516-541 (dispose during handling is a clean
    // Disposed, never SubscriberError from the interrupted handler)
    store.appendToStream("s1", ExpectedVersion.NoStream, msgs(1, 2))
    val drops = new ConcurrentLinkedQueue[SubscriptionDroppedReason]()
    val handling = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val sub = Subscriptions.subscribeToStream(store, "s1", None,
      _ => { handling.countDown(); release.await(10, TimeUnit.SECONDS); () },
      onDropped = (r, _) => drops.add(r))
    assert(handling.await(30, TimeUnit.SECONDS))
    sub.close() // close while the first message is still being handled
    release.countDown()
    eventually { assert(drops.asScala.toSeq === Seq(SubscriptionDroppedReason.Disposed)) }
    assert(drops.size === 1)
  }

  test("subscriptions can be closed multiple times (idempotent dispose)") {
    // ref: Subscriptions.cs:543-555 + the all-stream twin at :720-731
    store.appendToStream("s1", ExpectedVersion.NoStream, msgs(1, 2))
    val streamSub = Subscriptions.subscribeToStream(store, "s1", None, _ => ())
    val allSub = Subscriptions.subscribeToAll(store, None, _ => ())
    Thread.sleep(200)
    streamSub.close(); streamSub.close()
    allSub.close(); allSub.close()
    assert(!streamSub.isRunning && !allSub.isRunning)
  }

  test("an append wakes caught-up subscriptions long before the poll interval") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1))
    val all = new LinkedBlockingQueue[Long]()
    val one = new LinkedBlockingQueue[Int]()
    val caught = new CountDownLatch(2)
    val subs = Seq(
      Subscriptions.subscribeToAll(store, None, m => all.add(m.position),
        b => if (b) caught.countDown(), pollIntervalMs = 60000L),
      Subscriptions.subscribeToStream(store, "a", None, m => one.add(m.streamVersion),
        b => if (b) caught.countDown(), pollIntervalMs = 60000L))
    try {
      assert(caught.await(30, TimeUnit.SECONDS))
      assert(all.poll(30, TimeUnit.SECONDS) === 0L && one.poll(30, TimeUnit.SECONDS) === 0)
      Thread.sleep(200) // both are waiting on the store now
      store.appendToStream("a", 0, msgs(2))
      assert(all.poll(2, TimeUnit.SECONDS) === 1L)
      assert(one.poll(2, TimeUnit.SECONDS) === 1)
    } finally subs.foreach(_.close())
  }

  test("close during the wait for an append drops with Disposed at once") {
    val drops = new ConcurrentLinkedQueue[SubscriptionDroppedReason]()
    val dropped = new CountDownLatch(1)
    val caught = new CountDownLatch(1)
    val sub = Subscriptions.subscribeToAll(store, None, _ => (),
      b => if (b) caught.countDown(),
      onDropped = (r, _) => { drops.add(r); dropped.countDown() }, pollIntervalMs = 60000L)
    assert(caught.await(30, TimeUnit.SECONDS))
    Thread.sleep(200) // waiting on the store now
    sub.close()
    assert(dropped.await(1, TimeUnit.SECONDS))
    assert(drops.asScala.toSeq === Seq(SubscriptionDroppedReason.Disposed))
  }

  test("closing the store wakes its waiting subscriptions, which drop with Disposed") {
    val own = new SparkStreamStore(spark, SparkTestSession.tempDir("graft-sub-close"))
    val drops = new ConcurrentLinkedQueue[SubscriptionDroppedReason]()
    val dropped = new CountDownLatch(2)
    val caught = new CountDownLatch(2)
    val onDropped = (r: SubscriptionDroppedReason, _: Option[Throwable]) => { drops.add(r); dropped.countDown() }
    val subs = Seq(
      Subscriptions.subscribeToAll(own, None, _ => (), b => if (b) caught.countDown(),
        onDropped, pollIntervalMs = 60000L),
      Subscriptions.subscribeToStream(own, "a", None, _ => (), b => if (b) caught.countDown(),
        onDropped, pollIntervalMs = 60000L))
    try {
      assert(caught.await(30, TimeUnit.SECONDS))
      Thread.sleep(200) // both are waiting on the store now
      own.close()
      assert(dropped.await(1, TimeUnit.SECONDS))
      assert(drops.asScala.toSeq === Seq.fill(2)(SubscriptionDroppedReason.Disposed))
      assert(subs.forall(!_.isRunning))
    } finally subs.foreach(_.close())
  }

  test("structured streaming surface delivers appended messages as micro-batches") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
    val q = store.allMessagesStream
      .writeStream.format("memory").queryName("all_msgs").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select count(*) from all_msgs").head().getLong(0) === 3L)
      store.appendToStream("a", 2, msgs(4))
      store.flush() // streaming surface has group-commit granularity
      q.processAllAvailable()
      assert(spark.sql("select count(*) from all_msgs").head().getLong(0) === 4L)
      val ordered = spark.sql("select position from all_msgs order by position").collect().map(_.getLong(0))
      assert(ordered === Array(0L, 1L, 2L, 3L))
    } finally q.stop()
  }

  test("structuredSubscribeToAll delivers messages per batch in position order") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
    val seen = new ConcurrentLinkedQueue[Long]()
    val q = Subscriptions.structuredSubscribeToAll(store, None, m => seen.add(m.position))
    try {
      q.processAllAvailable()
      assert(seen.asScala.toSeq === Seq(0L, 1L, 2L))
      store.appendToStream("a", 2, msgs(4, 5))
      store.flush() // streaming surface has group-commit granularity
      q.processAllAvailable()
      assert(seen.asScala.toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("structuredSubscribeToAll skips positions at or before the continuation") {
    store.appendToStream("a", ExpectedVersion.NoStream, msgs(1, 2, 3))
    val seen = new ConcurrentLinkedQueue[Long]()
    val q = Subscriptions.structuredSubscribeToAll(store, Some(1L), m => seen.add(m.position))
    try {
      q.processAllAvailable()
      assert(seen.asScala.toSeq === Seq(2L))
    } finally q.stop()
  }
}
