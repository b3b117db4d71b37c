package graft.store

import graft.core._

/** The public stream-store contract: the 14 operations of the reference's
  * `IStreamStore`/`IReadonlyStreamStore`
  * (`/root/reference/src/SqlStreamStore/IStreamStore.cs`,
  * `IReadonlyStreamStore.cs`), re-expressed as synchronous Scala.
  */
trait StreamStore extends AutoCloseable {

  // ---- writes (IStreamStore.cs:48-122) ----
  def appendToStream(streamId: String, expectedVersion: Int, messages: Seq[NewStreamMessage]): AppendResult
  def deleteStream(streamId: String, expectedVersion: Int = ExpectedVersion.Any): Unit
  def deleteMessage(streamId: String, messageId: String): Unit
  def setStreamMetadata(
      streamId: String,
      expectedStreamMetadataVersion: Int = ExpectedVersion.Any,
      maxAge: Option[Int] = None,
      maxCount: Option[Int] = None,
      metadataJson: Option[String] = None): Unit

  // ---- reads (IReadonlyStreamStore.cs:35-259) ----
  def readAllForwards(
      fromPositionInclusive: Long = Position.Start,
      maxCount: Int = 1000,
      prefetchJsonData: Boolean = true): ReadAllPage
  def readAllBackwards(
      fromPositionInclusive: Long = Position.End,
      maxCount: Int = 1000,
      prefetchJsonData: Boolean = true): ReadAllPage
  def readStreamForwards(
      streamId: String,
      fromVersionInclusive: Int = StreamVersion.Start,
      maxCount: Int = 1000,
      prefetchJsonData: Boolean = true): ReadStreamPage
  def readStreamBackwards(
      streamId: String,
      fromVersionInclusive: Int = StreamVersion.End,
      maxCount: Int = 1000,
      prefetchJsonData: Boolean = true): ReadStreamPage
  def readHeadPosition(): Long
  def readStreamHeadPosition(streamId: String): Long
  def readStreamHeadVersion(streamId: String): Int
  def getStreamMetadata(streamId: String): StreamMetadataResult
  def listStreams(
      pattern: Pattern = Pattern.Anything,
      maxCount: Int = 100,
      continuationToken: Option[String] = None): ListStreamsPage

  /** Point lookup of a message's payload — backs `prefetchJsonData = false`
    * (ref: lazy `GetJsonData`, `PostgresStreamStore.cs:142-166`). Returns
    * None if the message has since been deleted. */
  def readMessageData(streamId: String, streamVersion: Int): Option[String]

  /** Block until the head position passes `position` or `timeoutMs` run
    * out; false once the store is closed (no append will follow). This
    * is the notifier a caught-up subscription waits on between pages
    * (ref: `Subscriptions/IStreamStoreNotifier.cs`). The default cannot
    * see appends, so it sleeps the whole timeout — the reference's
    * `PollingStreamStoreNotifier`; a store that sees its own appends
    * wakes the waiter as soon as one lands. */
  def waitForAppend(position: Long, timeoutMs: Long): Boolean = {
    Thread.sleep(timeoutMs)
    true
  }
}
