package graft.streaming

import graft.functions.UrlExprs
import graft.model.CrawlConfig
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming mode of the engine (SURVEY.md §2.8). The reference is
  * request-driven; its scheduler semantics map onto Structured
  * Streaming:
  *
  *   - admission queue with cap (`supervisor.go:285-317`) → per-batch
  *     intake via `maxOffsetsPerTrigger`-style source limits + the
  *     stateful politeness operator below;
  *   - concurrency semaphore / restart-after-N (`supervisor.go:
  *     113,156,539-602`) → per-host token budget kept in
  *     `mapGroupsWithState`, refilled when the processing-time window
  *     rolls (the supervisor's restart-period analog);
  *   - async webhook sink (`webhook/middleware.go:33-200`) →
  *     `foreachBatch` appending a fetch_events table (at-least-once,
  *     idempotent on url_hash — the webhook's retry semantics);
  *   - event-time lateness → watermark; the reference's wait-barriers
  *     are per-row completion, not windows, so watermarking only
  *     applies to the metrics stream.
  */
object StreamingOps {

  final case class UrlEvent(url: String, priority: Double, seq: Long, ts: java.sql.Timestamp)

  final case class HostBudgetState(tokens: Int, windowStartMs: Long)

  final case class AdmissionResult(url_canon: String, host: String, seq: Long, admitted: Boolean)

  /** Stateful per-host politeness over a stream: budget tokens per host
    * per `windowMs` processing window (token bucket with deterministic
    * refill — `supervisor.go` restart-period analog). Late URLs beyond
    * budget are emitted with admitted=false (the streaming twin of the
    * batch deferral).
    */
  def politenessStream(
      spark: SparkSession,
      urls: Dataset[UrlEvent],
      budget: Int,
      windowMs: Long
  ): Dataset[AdmissionResult] = {
    import spark.implicits._
    urls
      .withColumn("url_canon", UrlExprs.canonicalize(col("url")))
      .withColumn("host", UrlExprs.host(col("url_canon")))
      .as[(String, Double, Long, java.sql.Timestamp, String, String)]
      .groupByKey(_._6)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (host: String,
         rows: Iterator[(String, Double, Long, java.sql.Timestamp, String, String)],
         state: GroupState[HostBudgetState]) =>
          val nowWindow = state.getCurrentProcessingTimeMs() / windowMs
          val st0 = state.getOption.getOrElse(HostBudgetState(budget, nowWindow))
          val st = if (st0.windowStartMs != nowWindow) HostBudgetState(budget, nowWindow) else st0
          var tokens = st.tokens
          // deterministic intra-batch order: (priority desc via seq asc
          // proxy) — rows sorted by (priority desc, seq)
          val sorted = rows.toSeq.sortBy(r => (-r._2, r._3))
          val out = sorted.map { r =>
            val admit = tokens > 0
            if (admit) tokens -= 1
            AdmissionResult(r._5, host, r._3, admit)
          }
          state.update(HostBudgetState(tokens, nowWindow))
          out.iterator
      }
  }

  /** Windowed event-metrics stream with watermark — the streaming twin
    * of A4 (`chromium/chromium.go:604-661` histograms): counts and byte
    * sums per event type per 1-minute window, 2-minute lateness.
    */
  def eventMetricsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("value_total"))

  /** Session windows over a user-event stream via event-time gap —
    * `session_window` (30-minute gap), the streaming twin of q22.
    */
  def sessionizeStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Webhook-style async sink (S8): every micro-batch posts to the
    * delivery function with RETRY + exponential backoff; an exhausted
    * batch emits an ERROR EVENT row instead of failing the stream — the
    * reference's webhook client semantics (`webhook/client.go:107-189`
    * retry loop with backoff; `webhook/middleware.go:33-200` error
    * payload `{status, message}` posted to the error URL).
    *
    * Delivery is at-least-once and idempotent on (batch_id, url_hash):
    * a retry that half-succeeded re-sends the whole batch and readers
    * dedup on the key — the exact posture of the reference's webhook
    * consumer contract.
    */
  def webhookSink(
      df: DataFrame,
      outDir: String,
      checkpointDir: String,
      maxRetries: Int = 3,
      backoffMs: Long = 50L,
      deliver: (DataFrame, Long) => Unit = null) = {
    val send: (DataFrame, Long) => Unit =
      if (deliver != null) deliver
      else (batch, batchId) => batch.withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outDir)
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        var attempt = 0
        var done = false
        var lastError: Throwable = null
        batch.persist() // retries re-send identical rows
        while (!done && attempt <= maxRetries) {
          try { send(batch, batchId); done = true }
          catch {
            // NonFatal only: OOM/interrupts must fail the stream
            // visibly, not be slept on and downgraded to an error event
            case scala.util.control.NonFatal(t) =>
              lastError = t
              attempt += 1
              if (attempt <= maxRetries) Thread.sleep(backoffMs << (attempt - 1))
          }
        }
        if (!done) {
          // error event payload (middleware.go:181-189: {status, message})
          import spark.implicits._
          Seq((batchId, attempt, 500,
            Option(lastError.getMessage).getOrElse(lastError.getClass.getName)))
            .toDF("batch_id", "attempts", "status", "message")
            .write.mode("append").parquet(outDir + "_errors")
        }
        batch.unpersist()
        ()
      }
      .option("checkpointLocation", checkpointDir)
  }
}
