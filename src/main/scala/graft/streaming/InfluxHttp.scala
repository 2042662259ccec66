package graft.streaming

import org.apache.spark.sql.{ForeachWriter, Row}
import java.io.OutputStream
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream
import scala.collection.mutable.ArrayBuffer

/** Connection + batching config for the HTTP Influx sink — mirror of the
  * reference's `InfluxDBConfig` (`/root/reference` InfluxDBConfig.java:26-255):
  * url/username/password/database plus the batch surface (`batchActions`
  * count trigger, `flushDuration` time trigger, gzip). A Scala case class
  * with defaults replaces the Java builder; the defaults are the
  * reference's (2000 points / 100 ms / no gzip,
  * InfluxDBConfig.java:29-30,113-116).
  */
final case class InfluxHttpConfig(
    url: String,
    username: String = "root",
    password: String = "root",
    database: String = "graft",
    batchActions: Int = 2000, // ≤ 0 disables count batching → every point posts immediately
    flushDurationMs: Long = 100,
    enableGzip: Boolean = false,
    // transient-failure tolerance per POST before the task fails (and Spark
    // retries the task/epoch — the at-least-once backstop)
    maxRetries: Int = 3,
    retryBackoffMs: Long = 200,
    // circuit breaker: after `breakerFailures` CONSECUTIVE failed flushes
    // (5xx-exhaustion / connection errors — 4xx rejects don't count, the
    // endpoint is healthy) the breaker opens for `breakerOpenMs`: flushes
    // fail immediately instead of each paying maxRetries × backoff against
    // a down sink. After the window, ONE half-open probe (no retry loop)
    // decides: success closes the breaker, failure re-opens the window.
    // ≤ 0 disables. State is JVM-wide per endpoint, shared across writers/
    // epochs — exactly the scope a down endpoint affects.
    breakerFailures: Int = 5,
    breakerOpenMs: Long = 30000)

/** JVM-wide per-endpoint circuit state for [[InfluxHttpWriter]] — writer
  * instances are per task × epoch, so backing off a dead endpoint only
  * helps if the verdict outlives the writer. */
private[streaming] object InfluxBreaker {
  final class State {
    var consecutive = 0
    var openedAtMs = 0L
    var probing = false
  }
  private val states = scala.collection.mutable.Map.empty[String, State]
  def forUrl(url: String): State =
    states.synchronized(states.getOrElseUpdate(url, new State))
}

/** X1 sink connector, HTTP flavor — the "production delta" over the
  * line-protocol files of `TwitterJob.writeLines`: posts the same lines
  * ([[InfluxLine.ofRow]]) in batches to InfluxDB's `/write` endpoint
  * exactly as the reference's influxdb-java client does under
  * `enableBatch`/`enableGzip` (InfluxDBSink.java:42-61). Pure JDK
  * `HttpURLConnection` — no client library.
  *
  * Lifecycle (RichSinkFunction open/invoke/close ↔ ForeachWriter
  * open/process/close):
  *  - `open` pings the server (the reference fails fast on a missing
  *    database, InfluxDBSink.java:46-49; `/ping` is the serverless-auth
  *    equivalent reachability gate).
  *  - `process` buffers formatted lines and flushes when the batch count
  *    reaches `batchActions`, or when `flushDurationMs` has elapsed since
  *    the last flush — the time trigger is checked AS ROWS ARRIVE (no
  *    timer thread lives in a ForeachWriter), so a quiet partition's tail
  *    waits for `close` rather than a background flush; influxdb-java's
  *    BatchProcessor uses a scheduled timer instead. Same two triggers,
  *    piggybacked evaluation.
  *  - `close` flushes the remainder (disableBatch semantics,
  *    InfluxDBSink.java:86-88).
  *
  * Scale: one writer per task/epoch, O(batchActions) lines buffered, no
  * driver involvement; a failed POST throws → Spark retries the task and
  * the epoch re-posts (at-least-once, same as the reference's sink).
  */
final class InfluxHttpWriter(cfg: InfluxHttpConfig) extends ForeachWriter[Row] {

  @transient private var buf: ArrayBuffer[String] = _
  @transient private var lastFlushMs: Long = _

  override def open(partitionId: Long, epochId: Long): Boolean = {
    val code = request("GET", s"${cfg.url}/ping", None)
    if (code / 100 != 2)
      throw new RuntimeException(s"InfluxDB at ${cfg.url} unreachable: HTTP $code")
    buf = new ArrayBuffer[String]
    lastFlushMs = System.currentTimeMillis()
    true
  }

  override def process(row: Row): Unit = {
    buf += InfluxLine.ofRow(row)
    val countDue = cfg.batchActions <= 0 || buf.size >= cfg.batchActions
    val timeDue = System.currentTimeMillis() - lastFlushMs >= cfg.flushDurationMs
    if (countDue || timeDue) flush()
  }

  override def close(errorOrNull: Throwable): Unit =
    if (errorOrNull == null && buf != null && buf.nonEmpty) flush()

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  private def flush(): Unit = {
    val body = buf.mkString("\n")
    val url = s"${cfg.url}/write?db=${enc(cfg.database)}" +
      s"&u=${enc(cfg.username)}&p=${enc(cfg.password)}&precision=ns"
    // circuit gate: while open, fail WITHOUT touching the endpoint or
    // sleeping through the backoff schedule; exactly one caller runs the
    // half-open probe once the window elapses
    val br = InfluxBreaker.forUrl(cfg.url)
    val halfOpenProbe = cfg.breakerFailures > 0 && br.synchronized {
      if (br.consecutive < cfg.breakerFailures) false
      else {
        val waited = System.currentTimeMillis() - br.openedAtMs
        if (waited < cfg.breakerOpenMs || br.probing)
          throw new RuntimeException(
            s"InfluxDB write skipped: circuit open for ${cfg.url} " +
              s"(${br.consecutive} consecutive failures; retry in " +
              s"${math.max(0, cfg.breakerOpenMs - waited)} ms)")
        br.probing = true
        true
      }
    }
    // linear backoff across maxRetries for TRANSIENT failures only (5xx /
    // connection errors); 4xx is permanent (malformed line protocol, bad
    // auth) and re-POSTing the same body can never succeed — fail fast
    // without tripping the breaker (the endpoint answered). A
    // still-failing POST throws so the task (then epoch) retries — points
    // re-post, which Influx writes are idempotent under (same series +
    // timestamp overwrites). A half-open probe gets a single attempt.
    val retries = if (halfOpenProbe) 0 else cfg.maxRetries
    def endpointFailed(e: RuntimeException): Nothing = {
      if (cfg.breakerFailures > 0) br.synchronized {
        br.consecutive += 1
        // only the writer that OWNS the in-flight probe may clear the flag —
        // a concurrently-failing ordinary flush must not let a second probe
        // launch while the first is still running
        if (halfOpenProbe) br.probing = false
        if (br.consecutive >= cfg.breakerFailures) br.openedAtMs = System.currentTimeMillis()
      }
      throw e
    }
    var attempt = 0
    var done = false
    while (!done) {
      val code = try request("POST", url, Some(body))
      catch {
        case e: java.io.IOException =>
          if (attempt >= retries) endpointFailed(new RuntimeException(
            s"InfluxDB write failed after ${attempt + 1} attempts", e))
          else -1
      }
      if (code / 100 == 2) done = true
      else if (code > 0 && code / 100 != 5) {
        // the endpoint ANSWERED — it is reachable, so a tripped breaker
        // closes here; only the probe owner clears the probing flag
        if (cfg.breakerFailures > 0) br.synchronized {
          br.consecutive = 0
          if (halfOpenProbe) br.probing = false
        }
        throw new RuntimeException(s"InfluxDB write rejected (not retryable): HTTP $code")
      } else if (attempt >= retries)
        endpointFailed(new RuntimeException(
          s"InfluxDB write failed after ${attempt + 1} attempts: HTTP $code"))
      else {
        attempt += 1
        Thread.sleep(cfg.retryBackoffMs * attempt)
      }
    }
    if (cfg.breakerFailures > 0) br.synchronized { br.consecutive = 0; br.probing = false }
    buf.clear()
    lastFlushMs = System.currentTimeMillis()
  }

  private def request(method: String, url: String, body: Option[String]): Int = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(10000)
      body.foreach { b =>
        conn.setDoOutput(true)
        if (cfg.enableGzip) conn.setRequestProperty("Content-Encoding", "gzip")
        val out: OutputStream =
          if (cfg.enableGzip) new GZIPOutputStream(conn.getOutputStream)
          else conn.getOutputStream
        try out.write(b.getBytes(UTF_8)) finally out.close()
      }
      conn.getResponseCode
    } finally conn.disconnect()
  }
}
