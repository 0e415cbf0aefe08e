package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate reuses one JVM-wide
  * session; config mirrors the engine's Verify/Bench sessions).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Drain a self-terminating (AvailableNow) query and GUARANTEE it is
    * no longer active when this returns. A bare
    * `awaitTermination(timeout)` returns FALSE silently on timeout; the
    * test then reads half-written output while the stream still runs,
    * and a restart on the same checkpoint force-stops the live run
    * mid-micro-batch — the source of environment-sensitive
    * planning-exception flakes on loaded hosts. Asserting the result
    * makes a slow drain fail loudly, and the finally-stop leaves no
    * background stream behind either way (stop() on an
    * already-terminated query is a no-op).
    */
  implicit class StreamDrainOps(q: StreamingQuery) {
    def drain(timeoutMs: Long = 300000L): Unit =
      try assert(q.awaitTermination(timeoutMs),
        s"stream ${q.id} did not terminate within $timeoutMs ms")
      finally q.stop()

    /** Drain variant for transformWithState queries with TTL / timers:
      * those never self-terminate under AvailableNow (the timer wheel
      * keeps the query alive and `noNewData` is never signaled, so
      * BOTH awaitTermination and processAllAvailable block until their
      * timeout). Poll the query status to idle instead — every batch
      * for the input available now has committed once lastProgress is
      * set and no data/trigger is pending — then stop cleanly.
      */
    def drainAvailable(timeoutMs: Long = 300000L): Unit =
      try {
        val deadline = System.currentTimeMillis() + timeoutMs
        // A progress event is posted only after its batch COMMITTED. The
        // zombie loop keeps running EMPTY batches, so "some batch carried
        // rows and the two newest batches carried none" means every
        // input file present at the call is in the sink, and a timer that
        // fired just after the input batch has had a whole empty batch to
        // commit its output — all any assertion reads. (Callers append
        // input before starting the query, so the rows>0 batch always
        // exists.)
        def caughtUp: Boolean = {
          val ps = q.recentProgress
          ps.exists(_.numInputRows > 0) &&
            ps.takeRight(2).count(_.numInputRows == 0) == 2
        }
        while (q.isActive && !caughtUp &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        q.exception.foreach(throw _) // surface a stream death, not a timeout
        // a query that terminated on its own without an exception has
        // committed everything it will: that is a drain too
        assert(caughtUp || !q.isActive,
          s"stream ${q.id} did not drain within $timeoutMs ms " +
            s"(lastProgress=${Option(q.lastProgress).orNull})")
      } finally q.stop()
  }

  /** Run `body` and return what it logged through log4j at the session's
    * level: every event of this JVM, on any thread, while it ran.
    */
  def capturingLogs[T](body: => T)
      : (scala.util.Try[T], Seq[org.apache.logging.log4j.core.LogEvent]) = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]()
    val appender = new org.apache.logging.log4j.core.appender
        .AbstractAppender("graft-capture", null, null, true,
          org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(e.toImmutable)
    }
    appender.start()
    val root = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext].getRootLogger
    root.addAppender(appender)
    try {
      val out = scala.util.Try(body)
      (out, events.toArray(Array.empty[LogEvent]).toSeq)
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }

  /** Leak guard: no streaming query may outlive its test — a live
    * stream's micro-batch thread races the next test's file cleanup,
    * and a restart on its checkpoint force-stops it mid-batch.
    */
  override protected def afterEach(): Unit = {
    spark.streams.active.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    }
    super.afterEach()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder().appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
