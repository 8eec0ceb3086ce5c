package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.RecordsQuery
import graft.sources.KplFileSource

/** Streaming analog of the reference's `/records` pipeline (SURVEY.md §3.1):
  * Kinesis-shaped DSv2 source → KPL de-aggregate → JSON decode → filters.
  *
  * `Trigger.AvailableNow` + the source's admission control reproduce the
  * reference's bounded catch-up semantics (read from AT_TIMESTAMP to "now"
  * in pages, then stop — O2); a continuous trigger turns the same plan into
  * a live tail, which the reference cannot do. */
object RecordsStream {

  /** Open the envelope stream for a validated query, behind the batch
    * plan's [[RecordsQuery.lookback]] filter: the lookback is one plan
    * filter on both paths, and the source is not told the start. */
  def envelopeStream(
      spark: SparkSession,
      path: String,
      q: RecordsQuery.Query,
      nowMs: Long): DataFrame =
    RecordsQuery.lookback(
      spark.readStream.format(KplFileSource.ProviderClass).option("path", path).load(),
      q, Instant.ofEpochMilli(nowMs))

  /** Full streaming records pipeline: the batch plan's
    * [[RecordsQuery.pipeline]] over the stream, one column, `json`. */
  def records(envelope: DataFrame, q: RecordsQuery.Query): DataFrame =
    RecordsQuery.pipeline(envelope, q)
}
