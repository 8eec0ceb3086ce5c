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
  *  - [[shardMetas]]     ↔ ListShards, with each shard's reshard lineage;
  *    [[listShards]] is its ids
  *  - [[latestPosition]] ↔ how far one trigger may read: the backlog end,
  *    looking at most `limit` records past `from` (the reference detects
  *    the end via `MillisBehindLatest === 0` while paging; a positional
  *    store answers directly)
  *  - [[read]]           ↔ GetShardIterator + paged GetRecords over
  *    [from, until)
  *
  * Implementations must be constructible on executors from a
  * [[BackendSpec]] (string options only), so partitions stay serializable.
  */
trait ShardBackend extends Serializable {
  /** Every shard with its lifecycle metadata, for reshard-aware planning. */
  def shardMetas(): Seq[ShardMeta]

  final def listShards(): Seq[String] = shardMetas().map(_.shardId)

  /** `min(backlog end, from + limit)`. `from` is the caller's committed
    * offset and `limit` the most records one trigger may admit from this
    * shard, so a store that must PAGE to find the end pages only what the
    * trigger can use. A paging store that cannot see that far (a stalled
    * live shard) may answer less, but not less than `from`: a later
    * trigger reads the rest. `from + limit` may exceed `Long.MaxValue`. */
  def latestPosition(shard: String, from: Long, limit: Long): Long

  /** The whole backlog end, probed from the shard head. */
  final def latestPosition(shard: String): Long =
    latestPosition(shard, 0L, Long.MaxValue)

  def read(shard: String, from: Long, until: Long): Seq[ShardRecord]
}

/** Default backend: local `shard-*.kpl` files via [[KplShardFiles]]. */
final class FileShardBackend(path: String) extends ShardBackend {
  /** Lifecycle metadata from the optional `shards.json` sidecar
    * ([[KplShardFiles.readMetas]]); shards without an entry default to
    * open/no-parents, so fixtures without a reshard stay unchanged. */
  override def shardMetas(): Seq[ShardMeta] = {
    val side = KplShardFiles.readMetas(path)
    KplShardFiles.listShards(path)
      .map(id => side.getOrElse(id, ShardMeta(id, Nil, closed = false)))
  }
  override def latestPosition(shard: String, from: Long, limit: Long): Long =
    from + math.min(limit, KplShardFiles.frameCount(path, shard) - from)
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
  *    [[KinesisShardBackend]] keeps only positions its walk has not
  *    passed, so an early open, at the start or after re-opening an
  *    expired iterator, costs pages, never duplicates.
  *
  * [[getShardIterator]] is an adapter's one way to open a shard at a
  * position, so the probe, the read and any re-open meet the same rule.
  */
trait KinesisDataApi extends Serializable {
  /** ListShards → every shard with its lineage ([[ShardMeta]]): the
    * listing's `ParentShardId` / `AdjacentParentShardId`, and closed ⇔
    * `EndingSequenceNumber` present. */
  def listShards(streamName: String): Seq[ShardMeta]

  /** GetShardIterator at position `from`, or before it; `from <= 0` is
    * TRIM_HORIZON. The reference's AT_TIMESTAMP lookback is a plan filter
    * here ([[graft.api.RecordsQuery.lookback]]), not an iterator type. */
  def getShardIterator(streamName: String, shardId: String, from: Long): String

  /** GetRecords page: (records, nextIterator, millisBehindLatest).
    * `nextIterator = None` ↔ a closed shard; `millisBehindLatest == 0` is
    * the reference's catch-up termination signal (index.js:97-104). */
  def getRecords(iterator: String, limit: Int)
      : (Seq[ShardRecord], Option[String], Long)
}

/** [[ShardBackend]] over a [[KinesisDataApi]]. The probe and the read run
  * one paging loop, the reference's catch-up loop. Termination never
  * depends on the service catching up: on a live stream with continuous
  * writers `millisBehindLatest` may never reach 0, and GetRecords may
  * return empty pages while still behind (throttling, sparse shards). So
  * the probe asks for at most the trigger's budget, and
  * [[KinesisShardBackend.StallPages]] pages in a row without a new
  * position end the loop: the probe then under-reports, which is safe,
  * and the read throws (see [[read]]). Positions are the adapter's
  * ordinals. `pageSize` caps each GetRecords `Limit`; the trigger's row
  * budget (`maxRecordsPerFetch`) bounds what the probe asks for, not the
  * page. */
final class KinesisShardBackend(
    api: KinesisDataApi, streamName: String, pageSize: Int = 1000)
    extends ShardBackend {

  import KinesisShardBackend.{MaxProbePages, StallPages}

  override def shardMetas(): Seq[ShardMeta] = api.listShards(streamName)

  /** The one paging loop: GetRecords from an iterator opened at `from`,
    * each call asking for `min(pageSize, until - pos)`, `pos` being the
    * iterator's position (`from`, then past the last record returned, so
    * an early open pages up to `from` in full pages), until the
    * position reaches `until`, the shard closes, the service reports it
    * caught up (`millisBehindLatest == 0`), `maxPages` pages were read, or
    * [[StallPages]] pages in a row brought no new position (empty or
    * repeated). Hands `keep` each record in `[from, until)` once: a page
    * that repeats positions the walk has passed (an iterator opened or
    * re-opened early) keeps none of them. Returns the
    * position after the newest record seen, within `[from, until]`, and
    * whether the loop ended on a stall. */
  private def walk(shard: String, from: Long, until: Long, maxPages: Int)
                  (keep: ShardRecord => Unit): (Long, Boolean) = {
    var it: Option[String] = Some(api.getShardIterator(streamName, shard, from))
    var behind = Long.MaxValue
    // The iterator may open before `next`: such records still count as
    // progress, and none of them is kept.
    var seen = Long.MinValue
    var pos = from
    var stalls = 0
    var pages = 0
    def next = math.max(from, seen)
    while (it.isDefined && behind != 0L && next < until &&
           stalls < StallPages && pages < maxPages) {
      val at = next
      val (records, nextIt, b) =
        api.getRecords(it.get, math.min(pageSize.toLong, until - pos).toInt)
      records.foreach(r => if (r.sequence >= at && r.sequence < until) keep(r))
      val pageEnd = records.lastOption.fold(Long.MinValue)(_.sequence + 1)
      stalls = if (pageEnd > seen) 0 else stalls + 1
      seen = math.max(seen, pageEnd)
      if (records.nonEmpty) pos = pageEnd
      it = nextIt
      behind = b
      pages += 1
    }
    (math.min(until, next), stalls >= StallPages)
  }

  override def latestPosition(shard: String, from: Long, limit: Long): Long =
    walk(shard, from, from + math.min(limit, Long.MaxValue - from),
      MaxProbePages)(_ => ())._1

  /** Unlike [[latestPosition]] (where giving up early merely UNDER-reports
    * the backlog end and a later trigger catches up), `read` serves a
    * PLANNED `[from, until)` range whose end offset the caller will
    * commit — silently returning a partial range would drop committed
    * records forever. So the only legitimate early exits are the ones
    * where the missing records provably do not exist: the shard closed or
    * the API reports it caught up. On a stall `read` THROWS: the batch
    * fails and retries instead of committing data loss. An adapter that
    * advances with underfilled pages never stalls — progress, not page
    * count, is what the rule counts. */
  override def read(shard: String, from: Long, until: Long): Seq[ShardRecord] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[ShardRecord]
    if (walk(shard, from, until, Int.MaxValue)(out += _)._2)
      throw new IllegalStateException(
        s"read($shard, [$from, $until)) made no position progress for " +
          s"$StallPages consecutive GetRecords pages while still behind: " +
          "refusing to commit a partial range (this batch will retry)")
    out.toSeq
  }
}

object KinesisShardBackend {
  /** Consecutive pages without a new position that end a paging loop. */
  val StallPages = 16

  /** Pages one probe may read. A budgeted probe ends long before this,
    * since it asks for at most `limit` records; the cap binds only the
    * unbounded probe, [[ShardBackend.latestPosition]] with `Long.MaxValue`
    * (`Trigger.AvailableNow`'s pinned end, or a read limit other than
    * `maxRows`), on a shard whose writers outpace it. */
  val MaxProbePages = 10000
}
