package graft.sources

/** One record in a shard. `sequence` is its position: the record's ordinal
  * from the shard's readable start. The file backend uses the frame index;
  * a Kinesis backend counts records as they are paged ([[KinesisDataApi]]). */
final case class ShardRecord(
    sequence: Long,
    tsMillis: Long,
    partitionKey: String,
    data: Array[Byte])

/** Shard lifecycle metadata for RESHARD-aware planning (the ListShards
  * `ParentShardId` / `AdjacentParentShardId` / `EndingSequenceNumber`
  * fields of the public API): a split closes one parent and opens two
  * children carrying its id; a merge closes two adjacent parents and
  * opens one child carrying both. `closed` ⇔ no record will ever be
  * appended again (the shard has an ending sequence number).
  *
  * Per-key ordering across a reshard depends on consumption ORDER: a
  * partition key's records live in the parent up to the reshard point and
  * in exactly one child after it, so reading a child before its parent is
  * drained re-orders that key's records. [[ReshardAdmission]] is the
  * planner-side rule that prevents it. */
final case class ShardMeta(
    shardId: String,
    parentIds: Seq[String],
    closed: Boolean)

/** The parent-before-child admission rule (the same rule the public
  * Kinesis Client Library applies): a shard may serve records only once
  * every ancestor still listed by the stream is CLOSED and FULLY
  * consumed. Ancestors the stream no longer lists (aged past retention
  * and deleted) are treated as consumed — their records are unreadable by
  * anyone, so holding the child forever would just wedge the stream. */
object ReshardAdmission {
  /** Shard ids admitted for reading this trigger.
    *
    * @param metas     current shard listing with lifecycle metadata
    * @param committed the caller's committed offset per shard (0 if none)
    * @param target    each shard's backlog end (its drain target)
    */
  def admissible(
      metas: Seq[ShardMeta],
      committed: String => Long,
      target: String => Long): Set[String] = {
    val byId = metas.map(m => m.shardId -> m).toMap
    val memo = scala.collection.mutable.Map.empty[String, Boolean]
    val visiting = scala.collection.mutable.Set.empty[String]
    def ok(id: String): Boolean = memo.get(id) match {
      case Some(v) => v
      case None =>
        require(visiting.add(id),
          s"cycle in shard parent metadata at $id — refusing to plan")
        val v = byId.get(id).forall(_.parentIds.forall { p =>
          byId.get(p) match {
            case None => true // expired parent: nothing left to order after
            case Some(pm) => pm.closed && committed(p) >= target(p) && ok(p)
          }
        })
        visiting.remove(id)
        memo(id) = v
        v
    }
    metas.map(_.shardId).filter(ok).toSet
  }
}

/** The source's storage seam — the operations [[KplFileMicroBatchStream]]
  * and the batch scan need from any shard store, shaped one-to-one after
  * the public Kinesis data API the reference consumes
  * (`kinesisReader/index.js:77-108`):
  *
  *  - [[listShards]]   ↔ ListShards
  *  - [[latestPosition]] ↔ the backlog end (the reference detects it via
  *    `MillisBehindLatest === 0` while paging; a positional store exposes
  *    it directly)
  *  - [[read]]         ↔ GetShardIterator + paged GetRecords over
  *    [from, until)
  *
  * Implementations must be constructible on executors from a
  * [[BackendSpec]] (string options only), so partitions stay serializable.
  */
trait ShardBackend extends Serializable {
  def listShards(): Seq[String]

  /** Shard lifecycle metadata for reshard-aware planning. Default: every
    * listed shard is open with no parents — correct for stores without a
    * reshard lifecycle; stores that have one override. */
  def shardMetas(): Seq[ShardMeta] =
    listShards().map(ShardMeta(_, Nil, closed = false))

  /** The shard's backlog end, with a resume hint — the caller's last
    * committed offset. Backends whose backlog probe must PAGE (no metadata
    * answer) resume the drain from the hint instead of the shard head, so a
    * bounded probe still advances trigger-over-trigger on a shard whose
    * retained backlog exceeds one probe's page budget. Positional stores
    * answer in O(1) and ignore the hint. */
  def latestPosition(shard: String, resumeFrom: Long): Long

  /** [[latestPosition]] probed from the shard head (no committed offset). */
  final def latestPosition(shard: String): Long = latestPosition(shard, 0L)

  def read(shard: String, from: Long, until: Long): Seq[ShardRecord]
}

/** Default backend: local `shard-*.kpl` files via [[KplShardFiles]]. */
final class FileShardBackend(path: String) extends ShardBackend {
  override def listShards(): Seq[String] = KplShardFiles.listShards(path)
  /** Lifecycle metadata from the optional `shards.json` sidecar
    * ([[KplShardFiles.readMetas]]); shards without an entry default to
    * open/no-parents, so fixtures without a reshard stay unchanged. */
  override def shardMetas(): Seq[ShardMeta] = {
    val side = KplShardFiles.readMetas(path)
    listShards().map(id => side.getOrElse(id, ShardMeta(id, Nil, closed = false)))
  }
  override def latestPosition(shard: String, resumeFrom: Long): Long =
    KplShardFiles.frameCount(path, shard)
  override def read(shard: String, from: Long, until: Long): Seq[ShardRecord] =
    // Slice-indexed read: a micro-batch decodes ONLY its [from, until)
    // frames (one seek + sequential slice), not the whole shard file —
    // without this a deep catch-up is O(backlog²) across the drain.
    KplShardFiles.readSlice(path, shard, from, until)
}

/** Serializable backend selector carried inside every input partition and
  * re-instantiated on executors. `backend` option values:
  *
  *  - `files` (default): [[FileShardBackend]] over the `path` option.
  *  - a fully-qualified class name: reflective construction with a
  *    `(Map[String, String])` constructor receiving all source options —
  *    the hook a production Kinesis adapter (or a test stub) plugs into.
  */
final case class BackendSpec(kind: String, options: Map[String, String]) {
  def create(): ShardBackend = kind match {
    case "files" | null | "" =>
      new FileShardBackend(options.getOrElse("path",
        sys.error("kpl source: 'files' backend requires a 'path' option")))
    case className =>
      Class.forName(className)
        .getDeclaredConstructor(classOf[Map[String, String]])
        .newInstance(options)
        .asInstanceOf[ShardBackend]
  }
}

object BackendSpec {
  def fromOptions(options: Map[String, String]): BackendSpec =
    BackendSpec(options.getOrElse("backend", "files"), options)
}

// ---- Kinesis-API-shaped adapter ---------------------------------------------

/** The slice of the Kinesis data-plane API the reference uses
  * (`kinesisReader/index.js:77-108`): ListShards, GetShardIterator and
  * paged GetRecords. [[KinesisHttpApi]] speaks it over the wire,
  * [[RecordedKinesisApi]] replays recorded responses, and tests stub it in
  * memory. Keeping the seam at the API-call level makes the catch-up and
  * pagination logic in [[KinesisShardBackend]] — the part that is easy to
  * get wrong — compile-checked and unit-testable offline.
  *
  * Positions. A position is a record's ORDINAL: its index from the shard's
  * readable start, and 0 is TRIM_HORIZON. Real sequence numbers are sparse
  * 128-bit decimals and never become positions. An adapter must:
  *
  *  - number the records of each [[getRecords]] page consecutively,
  *    continuing from the position its iterator was opened at, so a shard
  *    read from TRIM_HORIZON yields 0, 1, 2, … whatever the gaps between
  *    the underlying sequence numbers;
  *  - open [[getShardIterator]] at or before `from`, never after it.
  *    [[KinesisShardBackend]] drops records below `from`, so an early
  *    start costs pages, not correctness.
  */
trait KinesisDataApi extends Serializable {
  /** ListShards → shard ids. */
  def listShards(streamName: String): Seq[String]

  /** ListShards → lifecycle metadata ([[ShardMeta]]). Default derives
    * open/no-parent metas from [[listShards]]; the transports override it
    * with the listing's `ParentShardId` / `AdjacentParentShardId` /
    * `EndingSequenceNumber`. */
  def listShardMetas(streamName: String): Seq[ShardMeta] =
    listShards(streamName).map(ShardMeta(_, Nil, closed = false))

  /** GetShardIterator at position `from`; `from <= 0` is TRIM_HORIZON. The
    * reference's AT_TIMESTAMP lookback is a plan filter here
    * ([[graft.api.RecordsQuery.lookback]]), not an iterator type. */
  def getShardIterator(streamName: String, shardId: String, from: Long): String

  /** GetRecords page: (records, nextIterator, millisBehindLatest).
    * `nextIterator = None` ↔ a closed shard; `millisBehindLatest == 0` is
    * the reference's catch-up termination signal (index.js:97-104). */
  def getRecords(iterator: String, limit: Int)
      : (Seq[ShardRecord], Option[String], Long)
}

/** [[ShardBackend]] over a [[KinesisDataApi]]: reproduces the reference's
  * bounded catch-up loop — page with GetRecords(limit) from an iterator
  * until the requested range is covered or the backlog is drained
  * (`MillisBehindLatest === 0`). Positions are the adapter's ordinals. */
final class KinesisShardBackend(
    api: KinesisDataApi, streamName: String, pageSize: Int = 100,
    maxEmptyPages: Int = 16, maxPagesPerCall: Int = 10000)
    extends ShardBackend {

  override def listShards(): Seq[String] = api.listShards(streamName)
  override def shardMetas(): Seq[ShardMeta] = api.listShardMetas(streamName)

  /** Backlog end = last position + 1, found by the reference's drain,
    * RESUMED from the caller's committed offset: each trigger's bounded
    * probe advances from where the last one left off, so a shard whose
    * retained backlog exceeds one probe's page budget still makes progress
    * every trigger instead of re-draining from TRIM_HORIZON and plateauing
    * at the same cap forever.
    *
    * Real GetRecords can legitimately return EMPTY pages while still
    * behind (throttling, sparse shards), so the drain loops are bounded by
    * [[maxEmptyPages]] consecutive empty pages AND [[maxPagesPerCall]]
    * total pages — on a live stream with continuous writers
    * millisBehindLatest may never reach 0, so termination never depends on
    * the remote service catching up. Under-reporting here is safe (a later
    * trigger reads the rest); a tripped page cap is logged so a persistent
    * stall is observable. */
  override def latestPosition(shard: String, resumeFrom: Long): Long = {
    var it: Option[String] = Some(api.getShardIterator(streamName, shard, resumeFrom))
    // The iterator may open before resumeFrom; the reported position must
    // never regress below what the caller already committed.
    var last = resumeFrom
    var behind = Long.MaxValue
    var emptyStreak = 0
    var pages = 0
    while (it.isDefined && behind != 0L && emptyStreak < maxEmptyPages &&
           pages < maxPagesPerCall) {
      val (records, next, b) = api.getRecords(it.get, pageSize)
      pages += 1
      emptyStreak = if (records.isEmpty) emptyStreak + 1 else 0
      records.lastOption.foreach(r => last = math.max(last, r.sequence + 1))
      it = next
      behind = b
    }
    if (pages >= maxPagesPerCall && behind != 0L && it.isDefined)
      System.err.println(
        s"[graft] latestPosition($shard): backlog probe stopped at the " +
          s"$maxPagesPerCall-page cap while still behind (position $last); " +
          "the next trigger resumes from the committed offset")
    last
  }

  /** Pages from an iterator opened at `from`, so a micro-batch range read
    * costs O(range), not O(shard prefix). The range filter stays (an
    * iterator may open before `from`).
    *
    * Unlike [[latestPosition]] (where giving up early merely UNDER-reports
    * the backlog end and a later trigger catches up), `read` serves a
    * PLANNED `[from, until)` range whose end offset the caller will
    * commit — silently returning a partial range would drop committed
    * records forever. So the only legitimate early exits are the ones
    * where the missing records provably do not exist: the shard ended
    * (iterator exhausted) or the API reports fully caught up
    * (millisBehindLatest == 0). If the adapter stops making SEQUENCE
    * PROGRESS for [[maxEmptyPages]] consecutive pages while still behind
    * (endless throttle, or a pathological adapter repeating pages), `read`
    * THROWS: the batch fails and retries instead of committing data loss.
    * An adapter that advances with underfilled pages never trips the
    * guard — progress, not page count, is what resets it. */
  override def read(shard: String, from: Long, until: Long): Seq[ShardRecord] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[ShardRecord]
    var it: Option[String] =
      Some(api.getShardIterator(streamName, shard, from))
    var behind = Long.MaxValue
    var maxSeq = Long.MinValue
    var stuckPages = 0
    while (it.isDefined && behind != 0L &&
           out.lastOption.forall(_.sequence < until - 1)) {
      val (records, next, b) = api.getRecords(it.get, pageSize)
      val pageMax = records.lastOption.map(_.sequence).getOrElse(Long.MinValue)
      stuckPages = if (pageMax > maxSeq) 0 else stuckPages + 1
      maxSeq = math.max(maxSeq, pageMax)
      out ++= records.filter(r => r.sequence >= from && r.sequence < until)
      if (records.exists(_.sequence >= until - 1)) return out.toSeq
      if (stuckPages >= maxEmptyPages)
        throw new IllegalStateException(
          s"read($shard, [$from, $until)) made no sequence progress for " +
            s"$stuckPages consecutive GetRecords pages while still behind: " +
            "refusing to commit a partial range (this batch will retry)")
      it = next
      behind = b
    }
    out.toSeq
  }
}
