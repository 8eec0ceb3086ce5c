package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

/** Process-wide resume-anchor registry for the live Kinesis transport.
  *
  * An ANCHOR maps an ordinal position (the seam's long, see
  * [[KinesisHttpApi]]'s position-space note) to the REAL sequence string
  * of the record just before it, so a later range read resumes with
  * `AFTER_SEQUENCE_NUMBER` instead of draining the shard from
  * TRIM_HORIZON. Two scoping decisions, both load-bearing at scale:
  *
  *  - '''Process-wide, not per-instance.''' The DSv2 reader constructs a
  *    FRESH backend per partition per micro-batch
  *    (`KplShardReaderFactory` → `p.spec.create()`), so instance-scoped
  *    anchors would send every executor read down the no-anchor path —
  *    an O(shard-prefix) TRIM_HORIZON drain per batch, the exact
  *    O(backlog²) pathology the anchors exist to prevent. Anchors are
  *    therefore keyed by (endpoint, stream, shard, anchorDir) in a
  *    process-level map, shared by every transport instance in the JVM
  *    (same shape as `KplShardFiles.offsetIndex`).
  *
  *  - '''Optionally durable.''' With an `anchorDir` (the micro-batch
  *    scan injects `<checkpointLocation>/graft-anchors` by default), the
  *    anchor map is snapshotted through the Hadoop `FileSystem` API — so
  *    it lands wherever the checkpoint lands (local FS, HDFS, S3A) — and
  *    loaded on first access in a new process. A restarted driver (or an
  *    executor that never served this shard) then resumes POSITIONED via
  *    `AFTER_SEQUENCE_NUMBER` of a real sequence string, which is immune
  *    to retention trimming: unlike the TRIM_HORIZON fallback (whose
  *    re-counted ordinals shift if the readable start moved — see
  *    [[KinesisHttpApi.getShardIterator]]), a persisted anchor
  *    pins the committed ordinal space to a stream-absolute coordinate.
  *
  * Persistence is write-behind: a snapshot every [[PersistEvery]] recorded
  * anchors (atomic tmp-write + rename; concurrent writers on a shared FS
  * each produce a complete snapshot, last rename wins). A crash loses at
  * most the last [[PersistEvery]] pages of anchors — a resume then floors
  * onto a slightly older anchor and [[KinesisShardBackend]]'s walk drops
  * the overlap; never a correctness loss. Snapshot writes are best-effort: a
  * persistence failure degrades restart cost, so it warns instead of
  * failing the batch.
  */
object KinesisAnchorStore {

  /** Anchors kept per shard; the lowest positions are evicted past it. */
  val MaxAnchorsPerShard = 8192

  /** Recorded anchors between two durable snapshots. */
  val PersistEvery = 16

  final case class Key(
      endpoint: String, stream: String, shard: String, anchorDir: Option[String])

  /** One shard's anchors: a bounded skip-list (lowest positions evicted
    * past [[MaxAnchorsPerShard]]) plus the optional durable snapshot. */
  final class ShardAnchors private[sources] (key: Key) {

    private val map = new java.util.concurrent.ConcurrentSkipListMap[Long, String]()
    private val sincePersist = new java.util.concurrent.atomic.AtomicInteger(0)

    // Load the snapshot once, at store construction (i.e. first access in
    // this process). Unreadable/absent snapshots mean an empty map — the
    // caller's TRIM_HORIZON fallback handles it.
    key.anchorDir.foreach { dir =>
      try {
        val fs = hadoopFs(dir)
        val p = snapshotPath(dir)
        if (fs.exists(p)) {
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(fs.open(p), UTF_8))
          try {
            var line = in.readLine()
            while (line != null) {
              val tab = line.indexOf('\t')
              if (tab > 0) map.put(line.substring(0, tab).toLong, line.substring(tab + 1))
              line = in.readLine()
            }
          } finally in.close()
          while (map.size() > MaxAnchorsPerShard) map.pollFirstEntry()
        }
      } catch {
        case e: Exception =>
          System.err.println(
            s"[graft] kinesis: could not load anchor snapshot for ${key.shard} " +
              s"from $dir (${e.getMessage}); resumes fall back to TRIM_HORIZON")
      }
    }

    /** Record the anchor for one served page; snapshots every
      * [[PersistEvery]] records when durable. */
    def record(position: Long, sequence: String): Unit = {
      map.put(position, sequence)
      while (map.size() > MaxAnchorsPerShard) map.pollFirstEntry()
      if (key.anchorDir.isDefined &&
          sincePersist.incrementAndGet() >= PersistEvery) persist()
    }

    /** Nearest anchor at-or-below `position`, if retained. */
    def floor(position: Long): Option[(Long, String)] =
      Option(map.floorEntry(position)).map(e => (e.getKey, e.getValue))

    private def snapshotPath(dir: String): org.apache.hadoop.fs.Path = {
      // The store key includes the ENDPOINT (two endpoints are distinct
      // position spaces), so the snapshot name must too: an endpoint
      // migration reusing the anchorDir would otherwise load the other
      // endpoint's sequence strings and resume past real data.
      val ep = java.security.MessageDigest.getInstance("MD5")
        .digest(key.endpoint.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      new org.apache.hadoop.fs.Path(dir,
        s"${sanitize(key.stream)}__${sanitize(key.shard)}__$ep.anchors")
    }

    private def persist(): Unit = synchronized {
      sincePersist.set(0)
      val dir = key.anchorDir.get
      try {
        val fs = hadoopFs(dir)
        val dest = snapshotPath(dir)
        val tmp = dest.suffix(s".tmp-${java.util.UUID.randomUUID()}")
        val out = new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(fs.create(tmp, true), UTF_8))
        try {
          val it = map.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            out.write(s"${e.getKey}\t${e.getValue}\n")
          }
        } finally out.close()
        if (fs.exists(dest)) fs.delete(dest, false)
        if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
      } catch {
        case e: Exception =>
          System.err.println(
            s"[graft] kinesis: anchor snapshot for ${key.shard} failed " +
              s"(${e.getMessage}); restart resume may fall back to TRIM_HORIZON")
      }
    }
  }

  private def sanitize(s: String): String =
    s.map(c => if (c.isLetterOrDigit || c == '.' || c == '-' || c == '_') c else '_')

  private def hadoopFs(dir: String): org.apache.hadoop.fs.FileSystem = {
    // Use the session's Hadoop configuration when one is available: the
    // anchorDir rides the CHECKPOINT location, which on a real deployment
    // is an object store whose credentials/endpoint arrive via
    // `spark.hadoop.*` — a bare Configuration() would miss them and every
    // snapshot would silently degrade to the TRIM_HORIZON fallback.
    // ON EXECUTORS there is no active/default session (backends are
    // constructed per partition inside tasks), so fall back to the
    // SparkConf-derived executor Hadoop conf, which carries the same
    // propagated `spark.hadoop.*` entries; the bare Configuration() is
    // only for session-less unit tests on the local FS.
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .orElse(
        if (org.apache.spark.SparkEnv.get != null)
          Some(org.apache.spark.sql.GraftBridge.executorHadoopConf())
        else None)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
  }

  private val stores =
    new java.util.concurrent.ConcurrentHashMap[Key, ShardAnchors]()

  def forShard(key: Key): ShardAnchors =
    stores.computeIfAbsent(key, k => new ShardAnchors(k))

  /** TEST HOOK: drop every in-memory store (durable snapshots remain) —
    * simulates process death for fresh-process resume specs. */
  private[sources] def dropInMemory(): Unit = stores.clear()
}
