package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

/** Failure-alert hook: [[PipelineRunner]] calls it once per failed
  * step, from its Dag's failure callback (the reference's Slack alert,
  * dag_utils.py:8-35). Pluggable so runs without network egress can
  * still be checked: [[HttpAlertSink]] posts the webhook,
  * [[LogAlertSink]] records in-process.
  */
trait AlertSink extends Serializable {
  def alert(runId: String, step: String, error: String): Unit
}

/** In-process alert sink (test/default). */
final class LogAlertSink extends AlertSink {
  val alerts = new ConcurrentLinkedQueue[(String, String, String)]
  override def alert(runId: String, step: String, error: String): Unit =
    alerts.add((runId, step, error))
}

/** Slack-webhook alert sink — the production implementation of
  * [[AlertSink]] (the reference posts failure alerts to a Slack
  * webhook from its failure callback, dag_utils.py:27-35 [inferred];
  * the contract spec exercises it against a local HTTP stub).
  *
  * Contract:
  *  - POSTs the Slack incoming-webhook JSON (`{"text": ...}`) with a
  *    bounded connect/request timeout — an alert must never hang a
  *    failing pipeline on top of its failure;
  *  - alerting is BEST-EFFORT: a non-2xx response or transport error
  *    is logged to stderr and swallowed (the reference's failure
  *    callback has the same posture — a dead webhook must not mask
  *    the original task failure, which still surfaces as the exception
  *    [[PipelineRunner.run]] rethrows after its barrier);
  *  - message text is JSON-escaped here, never string-spliced raw.
  */
final class HttpAlertSink(
    webhookUrl: String,
    timeout: java.time.Duration = java.time.Duration.ofSeconds(10),
) extends AlertSink {

  @transient private lazy val client: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder().connectTimeout(timeout).build()

  override def alert(runId: String, step: String, error: String): Unit = {
    val text = s"graft pipeline failure: run=$runId step=$step error=$error"
    val body = s"""{"text": ${HttpAlertSink.jsonQuote(text)}}"""
    try {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(webhookUrl))
        .timeout(timeout)
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body, java.nio.charset.StandardCharsets.UTF_8))
        .build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2)
        System.err.println(s"[alert] webhook returned ${resp.statusCode()} for run=$runId step=$step")
    } catch {
      case e: Exception =>
        System.err.println(s"[alert] webhook post failed for run=$runId step=$step: ${e.getMessage}")
    }
  }
}

object HttpAlertSink {
  /** Minimal JSON string quoting (quote, backslash, control chars). */
  private[pipeline] def jsonQuote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
