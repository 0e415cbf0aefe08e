package graft

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentLinkedQueue

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Webhook notification (pipeline.py:123-139 parity) against a local
  * JDK HttpServer sink: payload shape, escaping, failure-swallowing,
  * and the Pipeline success/error wiring.
  */
class NotifySpec extends SparkSpec {
  import spark.implicits._

  private def withServer(f: (String, ConcurrentLinkedQueue[String]) => Unit): Unit = {
    val received = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", exchange => {
      received.add(new String(exchange.getRequestBody.readAllBytes(), "UTF-8"))
      exchange.sendResponseHeaders(200, 2)
      val os = exchange.getResponseBody
      os.write("ok".getBytes); os.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/hook", received)
    finally server.stop(0)
  }

  test("send POSTs a Slack-shaped {\"text\": ...} JSON payload") {
    withServer { (url, received) =>
      val status = Notify.send("✅ done: 2 fixtures", url)
      assert(status.contains(200))
      assert(received.size == 1)
      assert(received.peek() == "{\"text\":\"✅ done: 2 fixtures\"}")
    }
  }

  test("payload escaping survives quotes, backslashes and control chars") {
    val p = Notify.jsonPayload("a\"b\\c\nd\te" + 1.toChar + "f")
    assert(p == "{\"text\":\"a\\\"b\\\\c\\nd\\te\\u0001f\"}")
    // must parse as JSON (driver-side consumers expect strict JSON)
    withServer { (url, received) =>
      Notify.send("a\"b\\c\nd", url)
      val txt = received.peek()
      assert(txt.contains("\\\"") && txt.contains("\\\\") &&
        txt.contains("\\n"))
    }
  }

  test("a down webhook never throws — send returns None") {
    // nothing listens on this port
    assert(Notify.send("msg", "http://127.0.0.1:1/hook",
      timeoutMs = 300).isEmpty)
    assert(Notify.send("msg", "not a url at all").isEmpty)
  }

  test("Pipeline.run posts the reference success message when configured") {
    withServer { (url, received) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-notify").toString
      Seq(("2025-06-01", "1", "Arsenal", "Chelsea", "PL", "England",
        "1748775000", "12:30", "Not started", "", "1", "api"))
        .toDF("date", "id", "home_team", "away_team", "league", "country",
          "start_timestamp", "start_time", "status", "venue", "round",
          "source")
        .write.option("header", "true").csv(s"$dir/fx")
      Seq(("Arsenal", "2024-2025", "2025-05-01", "PL", "Home", "B",
        "W", "2", "0", "12", "5"))
        .toDF("team", "season", "date", "competition", "venue", "opponent",
          "result", "goals_for", "goals_against", "shots",
          "shots_on_target")
        .write.option("header", "true").csv(s"$dir/hist")
      val stats = Pipeline.run(spark, Pipeline.Config(
        fixturesPath = s"$dir/fx", historyPath = s"$dir/hist",
        outDir = s"$dir/out", today = "2025-05-23",
        webhookUrl = Some(url)))
      assert(received.size == 1)
      assert(received.peek() == Notify.jsonPayload(
        s"✅ Football ETL pipeline completed! Processed " +
          s"${stats.fixturesCount} fixtures and ${stats.teamsCount} teams."))
    }
  }

  test("Pipeline.run posts the error message and rethrows on failure") {
    withServer { (url, received) =>
      val e = intercept[Exception] {
        Pipeline.run(spark, Pipeline.Config(
          fixturesPath = "/nonexistent/fixtures",
          historyPath = "/nonexistent/history",
          outDir = "/tmp/graft-notify-err", today = "2025-05-23",
          webhookUrl = Some(url)))
      }
      assert(received.size == 1)
      assert(received.peek().startsWith("{\"text\":\"❌ Football ETL pipeline failed:"))
    }
  }

  test("a failed run after a successful one logs no listener-bus ERROR") {
    // a fresh session: no other suite's Observation has touched its
    // listeners, so only what Pipeline.run registers can log here
    val s = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("graft-notify-log").toString
    val ok = SinksSpec.pipelineInputs(s, dir, SinksSpec.twoFixtures)
    assert(Pipeline.run(s, ok).fixturesCount == 2L)
    // the listener bus calls a session's listeners in registration order
    // on one thread, so once this one has seen the failure, every
    // listener registered before it has handled (and logged) it too
    val failureSeen = new java.util.concurrent.CountDownLatch(1)
    val last = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        failureSeen.countDown()
    }
    s.listenerManager.register(last)
    try withServer { (url, received) =>
      val (out, logs) = capturingLogs {
        try Pipeline.run(s, ok.copy(fixturesPath = "/nonexistent/fixtures",
          webhookUrl = Some(url)))
        finally assert(failureSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      }
      assert(out.failed.get.getMessage.contains("PATH_NOT_FOUND"))
      assert(received.size == 1)
      assert(received.peek().startsWith("{\"text\":\"❌ Football ETL pipeline failed:"))
      val busErrors = logs.filter(e =>
        e.getLoggerName.endsWith("ExecutionListenerBus") &&
          e.getLevel == org.apache.logging.log4j.Level.ERROR)
      assert(busErrors.isEmpty, busErrors.map(_.getMessage.getFormattedMessage))
    } finally s.listenerManager.unregister(last)
  }
}
