package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** WIRE-PATH MOUTH PRICING (test-scope main, SCALE.md §5's wire row):
  * drain the composed admission mouth ([[graft.streaming.CrawlIngest]])
  * at sf0.1 volume (the 500 new-source docs) TWICE over identical KPL
  * aggregates and identical base-index copies —
  *
  *  1. through a [[KinesisDouble]] socket (full wire path: SigV4-signed
  *     HTTP, base64 record bodies, ListShards/GetShardIterator/
  *     GetRecords pagination, the double's kinesalite-style iterator
  *     throttle and its server-side signature verification);
  *  2. through the file backend (the offline lane's path);
  *
  * with the SAME single shard, aggregate order, and `maxRecordsPerFetch`,
  * so micro-batch boundaries — and therefore every admission verdict —
  * must match exactly; `verdicts_equal` is the loud check. The printed
  * JSON row prices the transport seam (wire wall − file wall) with
  * per-stage attribution on both sides.
  *
  * The double runs on a daemon thread in this JVM (same socket bytes;
  * the PEER-PROCESS variant is `KinesisEndpointIntegrationSpec`'s 5/5,
  * which prices nothing but proves isolation).
  *
  * Run: `sbt "Test/runMain graft.sources.WireMouthBench"` (optional arg:
  * port, default 4571; env `SPARK_GRAFT_SF_DIR` for the fixture dir). */
object WireMouthBench {

  private val AggSize = 20 // user records per KPL aggregate
  private val FetchLimit = "4" // envelope records per micro-batch, both paths

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(4571)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val streamName = "graft-wire"
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- the double, on a daemon thread (0 seed records, 1 shard) ----
    val server = new Thread(() =>
      KinesisDouble.main(Array(port.toString, streamName, "1", "0")))
    server.setDaemon(true)
    server.start()
    val endpoint = s"http://127.0.0.1:$port"
    val api = new KinesisHttpApi(endpoint, "us-east-1",
      AwsCredentials("x", "x", None))
    // wait for READY: poll ListShards until the socket answers
    var up = false
    var tries = 0
    while (!up && tries < 100) {
      try { api.listShards(streamName); up = true }
      catch { case _: Exception => tries += 1; Thread.sleep(100) }
    }
    require(up, s"KinesisDouble did not come up on $endpoint")

    // ---- sf0.1 mouth inputs: same split as the mouth bench lane ----
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val newSrc = graft.queries.Dedup.NewSources
    val baseDocs = docs.filter(!col("source").isin(newSrc: _*))
      .select(col("doc_id"), col("text"))
    val baseVecs = emb.join(
        docs.filter(col("source").isin(newSrc: _*))
          .select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("embedding"))
    val incoming = docs.filter(col("source").isin(newSrc: _*))
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .join(emb.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"), "left")
      .select(col("doc_id"), col("text"), col("embedding"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) Option.empty[Seq[Float]]
        else Some(r.getSeq[Float](2))))

    // one base-index pair, file-copied per drain so both start identical
    val dedupBase = Files.createTempDirectory("wire-bench-dedup").toString
    val ivfBase = Files.createTempDirectory("wire-bench-ivf").toString
    graft.ops.CorpusDedup.buildIndex(baseDocs, "doc_id", "text", dedupBase)
    graft.ops.VectorSearch.buildIvfIndex(
      baseVecs, "vec_id", "embedding", ivfBase)

    // identical KPL aggregates for both paths, in identical order
    val aggregates = incoming.grouped(AggSize).zipWithIndex.map {
      case (group, gi) =>
        val payloads = group.map { case (id, t, v) =>
          graft.ops.MouthFixture.docJson(id, t, v)
        }
        (s"pk-$gi", graft.kpl.KplCodec.aggregate(s"pk-$gi", payloads.toSeq))
    }.toSeq

    // wire seeding: one PutRecord per aggregate (single shard keeps order)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tSeed0 = System.nanoTime()
    aggregates.foreach { case (pk, agg) =>
      val n = mapper.createObjectNode()
      n.put("StreamName", streamName)
      n.put("PartitionKey", pk)
      n.put("Data", java.util.Base64.getEncoder.encodeToString(agg))
      api.post("Kinesis_20131202.PutRecord", mapper.writeValueAsString(n))
    }
    val seedSec = (System.nanoTime() - tSeed0) / 1e9
    // file seeding: the same frames in the same single shard
    val fileDir = Files.createTempDirectory("wire-bench-frames").toString
    KplShardFiles.write(fileDir, 0, aggregates.zipWithIndex.map {
      case ((pk, agg), i) => KplShardFiles.Frame(1000L * (i + 1), pk, agg)
    })

    def drain(label: String, sourceOptions: Map[String, String])
        : (Double, Map[String, Double], Map[Long, (Option[Any], Option[Any], Boolean)]) = {
      val dDir = graft.TempIndexDirs.copyOf(dedupBase, s"wire-$label-dedup")
      val iDir = graft.TempIndexDirs.copyOf(ivfBase, s"wire-$label-ivf")
      val vDir = Files.createTempDirectory(s"wire-$label-v").toString
      val ck = Files.createTempDirectory(s"wire-$label-ck").toString
      val stageWall = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      val t0 = System.nanoTime()
      val q = graft.streaming.CrawlIngest.admissionFromKinesis(
        spark, sourceOptions, dDir, iDir, vDir, ck,
        onStageWall = (_, stage, sec) => stageWall.synchronized {
          stageWall(stage) += sec
        })
      try q.awaitTermination() finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      val manifest = spark.read.parquet(s"$vDir/manifest")
        .select(col("doc_id"), col("is_dup"), col("sem_novel"),
          col("admitted"))
        .collect().map(r => r.getLong(0) ->
          ((Option(r.get(1)), Option(r.get(2)), r.getBoolean(3)))).toMap
      (wall, stageWall.toMap, manifest)
    }

    // Throwaway WARM-UP drain (file path, untimed): codegen, classloading,
    // shuffle machinery, and the parquet reader all initialize on the
    // first drain of this JVM — charging that to whichever path runs
    // first inflated its wall (the round-14 wire-first ordering overstated
    // the transport seam). After this, both timed drains run warm.
    drain("warmup", Map(
      "path" -> fileDir,
      "maxRecordsPerFetch" -> FetchLimit))

    val (wireWall, wireStages, wireManifest) = drain("wire", Map(
      "backend" -> classOf[KinesisHttpBackend].getName,
      "endpoint" -> endpoint,
      "region" -> "us-east-1",
      "streamName" -> streamName,
      "accessKeyId" -> "x",
      "secretAccessKey" -> "x",
      "maxRecordsPerFetch" -> FetchLimit))
    val (fileWall, fileStages, fileManifest) = drain("file", Map(
      "path" -> fileDir,
      "maxRecordsPerFetch" -> FetchLimit))

    val verdictsEqual = wireManifest == fileManifest
    val admitted = wireManifest.values.count(_._3)
    def stageJson(m: Map[String, Double]): String =
      Seq("extract", "dedup_gate", "ann_gate", "manifest")
        .map(s => f""""$s":${m.getOrElse(s, 0.0)}%.2f""").mkString("{", ",", "}")
    println(
      f"""{"wire_mouth":{"docs":${incoming.length},"aggregates":${aggregates.length},""" +
        f""""agg_size":$AggSize,"fetch_limit":$FetchLimit,""" +
        f""""seed_sec":$seedSec%.2f,""" +
        f""""wire_wall_sec":$wireWall%.2f,"file_wall_sec":$fileWall%.2f,""" +
        f""""wire_overhead_sec":${wireWall - fileWall}%.2f,""" +
        s""""wire_stage_sec":${stageJson(wireStages)},""" +
        s""""file_stage_sec":${stageJson(fileStages)},""" +
        s""""admitted":$admitted,"manifest":${wireManifest.size},""" +
        s""""verdicts_equal":$verdictsEqual}}""")
    spark.stop()
    if (!verdictsEqual) {
      val diff = (wireManifest.keySet ++ fileManifest.keySet).toSeq.sorted
        .filter(k => wireManifest.get(k) != fileManifest.get(k)).take(10)
      System.err.println(s"[wire-mouth] VERDICT MISMATCH on doc_ids: $diff")
      sys.exit(1)
    }
    // the double's HttpServer executor threads are non-daemon: without an
    // explicit exit the JVM lingers after the row prints
    sys.exit(0)
  }
}
