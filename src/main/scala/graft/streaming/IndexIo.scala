package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Crash-tolerant reads of the `Online*` family's batch-partitioned
  * parquet state directories.
  *
  * Every `Online*` operator keeps its standing state as parquet under
  * `<root>/<name>/batch=<id>` and used to read it back with a bare
  * exists-then-`read.parquet`. That pattern has a wedge window: a crash
  * between the FIRST write's directory creation and its file commit
  * leaves the directory existing with no readable parquet footers, so
  * every replay of that batch fails schema inference and the stream can
  * never make progress (r15 advice). Schema inference failing IS the
  * "no data yet" signal — Spark raises `UNABLE_TO_INFER_SCHEMA` exactly
  * when a parquet scan finds zero data files — so these helpers fold
  * that case into the absent-directory fallback. Corruption of a
  * COMMITTED file surfaces later as a footer/decode error on the
  * actual scan, not as an inference failure, and still fails loudly.
  */
private[graft] object IndexIo {

  /** `spark.read.parquet(dir)` with "absent" and "exists but holds no
    * readable data files" both falling back to `empty`. */
  def readOrElse(spark: SparkSession, dir: String)(empty: => DataFrame): DataFrame =
    tryRead(spark, dir).getOrElse(empty)

  /** Some(frame) when the directory exists and parquet schema
    * inference succeeds; None when it is absent or footerless. */
  def tryRead(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else
      try Some(spark.read.parquet(dir))
      catch {
        case e: AnalysisException
            if Option(e.getMessage).exists(m =>
              m.contains("UNABLE_TO_INFER_SCHEMA") || m.contains("infer schema")) =>
          None
      }
  }

  /** Run one batch's independent state writes concurrently and return
    * when all have finished, rethrowing the first failure — the batch
    * pays the slowest write, not the sum. The last write
    * runs on the calling thread, keeping its Spark job group; the others
    * run on one named pool of at most [[MaxPooledWrites]] daemon threads,
    * never on Scala's global ExecutionContext, which any other library
    * code in the driver may be holding. */
  def writeAll(writes: (() => Unit)*): Unit = {
    val pooled = writes.init.map(w => Future(w())(writePool))
    writes.last()
    pooled.foreach(Await.result(_, Duration.Inf))
  }

  /** Pooled writes of one batch at most (OnlineDedup overlaps three
    * writes, one on its own thread); more queue. */
  private val MaxPooledWrites = 2

  private lazy val writePool: ExecutionContext = {
    val n = new AtomicInteger
    val pool = new ThreadPoolExecutor(MaxPooledWrites, MaxPooledWrites,
      30L, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, s"graft-state-write-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true) // an idle driver keeps no threads
    ExecutionContext.fromExecutorService(pool)
  }
}
