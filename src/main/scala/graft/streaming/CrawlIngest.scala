package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StringType, StructField, StructType}

import graft.ops.CrawlMouth
import graft.plans.KplExplode
import graft.sources.KplFileSource

/** THE PRODUCT STORY, END TO END: the reference's entire pipeline
  * (`app/server/index.js:43-73` — Kinesis scan → KPL de-aggregation →
  * payload decode) composed with this engine's flagship addition, the
  * admission mouth ([[graft.ops.CrawlMouth]]): quality → language →
  * dedup gate → ANN novelty, exactly-once across BOTH index families.
  *
  * One streaming plan: the Kinesis-shaped DSv2 source (file backend for
  * offline runs, [[graft.sources.KinesisHttpBackend]] for the wire) →
  * [[KplExplode.userRecords]] (the Catalyst generator, O3) →
  * `from_json` doc decode → optional boilerplate extraction (the mouth's
  * `extractMarkup` pre-stage, `q_txt_extract`'s oracle-gated chain) →
  * [[CrawlMouth.admissionStream]].
  *
  * THREE PROGRESS DOMAINS, ONE CRASH MATRIX: the composition stacks the
  * stream's OWN checkpoint (source offsets, committed after the
  * foreachBatch body returns) on top of the mouth's two per-index commit
  * markers. A crash at any point between them redelivers cleanly:
  *
  *  - between the dedup marker and the ANN marker → the source replays
  *    the SAME batch id over the SAME offset range (the offset log wrote
  *    the intended range before the batch ran, and the source's offsets
  *    are per-shard record ordinals, so replay is deterministic); the
  *    dedup stage skips via its marker and READS BACK its persisted
  *    verdicts, the ANN stage runs for the first time;
  *  - between the ANN marker and the manifest → both stages skip, the
  *    manifest rewrites idempotently from the persisted verdicts;
  *  - after the manifest but BEFORE the source's offset commit (the
  *    domain only this composition exercises) → the whole batch
  *    redelivers, every stage skips, the manifest rewrite converges
  *    bit-identically.
  *
  * [[KinesisMouthSpec]] drives all three kill points against the real
  * source and asserts convergence with an uninterrupted golden run.
  *
  * Scale shape: everything before the mouth is a per-row projection
  * fused into the source scan (generator + JSON decode + regex chain, no
  * shuffle); the mouth's own per-batch work is O(batch) band-bucket
  * joins plus an nprobe-bounded probe. Corrupt KPL aggregates and
  * undecodable payloads are DROPPED at the seam — the reference's
  * strict-drop behavior (`kinesisReader/index.js:163-164`); callers that
  * need the corrupt side-channel select the [[KplExplode]] generator's
  * `corrupt` column on the same envelope stream.
  */
object CrawlIngest {

  /** Payload schema of one crawl-document user record: the JSON carried
    * inside a (possibly KPL-aggregated) Kinesis record. `embedding` is
    * nullable — a doc without one skips the mouth's semantic stage. */
  val DocPayloadSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType))))

  /** Envelope stream → document stream: de-aggregate (strict-drop, the
    * reference path), decode each payload as a [[DocPayloadSchema]] doc,
    * and drop undecodable payloads (`from_json` PERMISSIVE yields all-null
    * rows for broken JSON; a doc without an id or text cannot enter the
    * manifest, which is keyed by `doc_id`). */
  def docsFromEnvelopes(envelope: DataFrame): DataFrame =
    KplExplode.userRecords(envelope)
      .select(from_json(col("payload").cast("string"), DocPayloadSchema).as("doc"))
      .select(col("doc.doc_id").as("doc_id"), col("doc.text").as("text"),
        col("doc.embedding").as("embedding"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)

  /** Open the envelope stream and start the composed admission mouth.
    *
    * `sourceOptions` go verbatim to the Kinesis-shaped source: offline
    * runs pass `path` (+ `maxRecordsPerFetch`); wire runs pass `backend`,
    * `endpoint`, `streamName`, credentials — exactly the options the
    * source's own specs use. `failAfterStage` is the test-only kill
    * switch ([[CrawlMouth.admissionStream]]). */
  def admissionFromKinesis(
      spark: SparkSession,
      sourceOptions: Map[String, String],
      dedupIndexDir: String,
      ivfIndexDir: String,
      verdictDir: String,
      checkpointDir: String,
      tauE4: Long = graft.queries.Dedup.ClusterEdgeE4,
      semTauE4: Long = graft.queries.Similarity.NearDupE4,
      nprobe: Int = graft.queries.Similarity.IvfProbes,
      extractMarkup: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow(),
      failAfterStage: Long => Int = _ => Int.MaxValue,
      onStageWall: (Long, String, Double) => Unit = (_, _, _) => ())
      : StreamingQuery = {
    val envelope = sourceOptions
      .foldLeft(spark.readStream.format(KplFileSource.ProviderClass)) {
        case (r, (k, v)) => r.option(k, v)
      }
      .load()
    CrawlMouth.admissionStream(
      docsFromEnvelopes(envelope), "doc_id", "text", "embedding",
      dedupIndexDir, ivfIndexDir, verdictDir, checkpointDir,
      tauE4, semTauE4, nprobe, extractMarkup, trigger, failAfterStage,
      onStageWall)
  }
}
