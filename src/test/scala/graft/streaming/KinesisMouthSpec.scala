package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.syntax._
import graft.kpl.KplCodec
import graft.ops.{CorpusDedup, VectorSearch}
import graft.sources.KplShardFiles

/** The composed product story driven by the REAL source
  * ([[CrawlIngest.admissionFromKinesis]]): Kinesis-shaped DSv2 scan →
  * KPL de-aggregation → JSON doc decode → boilerplate extraction → the
  * admission mouth, with the crash matrix across all THREE progress
  * domains — the stream's own checkpoint (source offsets), the dedup
  * index marker, and the ANN index marker.
  *
  * The mouth's verdict math is pinned by `AdmissionMouthSpec` (driven
  * from MemoryStream); this spec pins what only the real source can
  * exercise: (a) redelivery comes from the SOURCE's offset replay (the
  * offset log wrote the intended range before the batch ran, so the
  * restarted query re-plans the same batch id over the same per-shard
  * ordinal range and the fixture bytes are static); (b) the kill point
  * AFTER the foreachBatch body but BEFORE the source's offset commit —
  * the domain MemoryStream-driven tests cannot model, because there the
  * batch boundaries are hand-fed rather than checkpoint-replayed; and
  * (c) the full byte path: the docs arrive as KPL-aggregated crawl
  * MARKUP and must come out the other end as clean-text index entries.
  *
  * Fixture: 2 shards × 2 frames, each frame one KPL aggregate of JSON
  * doc payloads; `maxRecordsPerFetch = 2` with 2 pending shards gives a
  * per-shard budget of 1 frame per trigger, so AvailableNow drains in
  * exactly two micro-batches with a deterministic doc → batch mapping
  * (the same batch split as AdmissionMouthSpec, so the expected verdict
  * table carries over verbatim). */
class KinesisMouthSpec extends AnyFunSuite with Matchers with SparkSpec {

  import graft.ops.MouthFixture._

  /** The doc as its ON-THE-WIRE JSON payload: the crawl feed carries
    * MARKUP (the oracle-gated `htmlOf` page around the text), so the
    * mouth's extraction pre-stage is load-bearing for every verdict. */
  private def docJson(id: Long, text: String, vec: Option[Seq[Float]]): Array[Byte] =
    graft.ops.MouthFixture.docJson(id, pageOf(id, text), vec)

  private def pageOf(id: Long, text: String): String = {
    val sess = spark
    import sess.implicits.{localSeqToDatasetHolder, newProductEncoder}
    Seq((id, text)).toDF("doc_id", "text")
      .select(graft.queries.TextAnalysis.htmlOf($"text", $"doc_id"))
      .collect().head.getString(0)
  }

  /** 2 shards × 2 frames; frame k of every shard lands in micro-batch k.
    * Doc → batch mapping mirrors AdmissionMouthSpec's batch1/batch2. */
  private def writeFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("mouth-src").toString
    def agg(pk: String, docs: Seq[Array[Byte]]): Array[Byte] =
      KplCodec.aggregate(pk, docs)
    KplShardFiles.write(dir, 0, Seq(
      KplShardFiles.Frame(1000L, "pk-a", agg("pk-a", Seq(
        docJson(10L, tA, Some(pC)), // text-dup of stored 1: rejected
        docJson(12L, tD, Some(pC))))), // novel both ways: ADMITTED
      KplShardFiles.Frame(2000L, "pk-c", agg("pk-c", Seq(
        docJson(20L, tD, Some(pD)), // text-dup of batch-0's 12: learned
        docJson(22L, tF, Some(pD))))))) // novel both ways: ADMITTED
    KplShardFiles.write(dir, 1, Seq(
      KplShardFiles.Frame(1000L, "pk-b", agg("pk-b", Seq(
        docJson(11L, tC, Some(basis(0))), // text-novel, sem-dup of 301
        docJson(13L, "tiny doc.", Some(pD)), // quality fail
        docJson(14L, tNoLang, Some(pD))))), // language fail
      KplShardFiles.Frame(2000L, "pk-d", agg("pk-d", Seq(
        docJson(21L, tE, Some(pC)), // text-novel, sem-dup of 12's pC
        docJson(23L, tG, None)))))) // no embedding: text gates alone
    dir
  }

  private def plainDf(rows: (Long, String)*) = {
    val sess = spark
    import sess.implicits.{localSeqToDatasetHolder, newProductEncoder}
    rows.toDF("doc_id", "text")
  }
  private def vecsDf(rows: (Long, Seq[Float])*) = {
    val sess = spark
    import sess.implicits.{localSeqToDatasetHolder, newProductEncoder}
    rows.toDF("vec_id", "embedding")
  }

  private def freshBases(): (String, String) = {
    val dd = java.nio.file.Files.createTempDirectory("kmouth-dedup").toString
    CorpusDedup.buildIndex(plainDf(1L -> tA, 2L -> tB), "doc_id", "text", dd)
    val vd = java.nio.file.Files.createTempDirectory("kmouth-ivf").toString
    VectorSearch.buildIvfIndex(
      vecsDf((0 until 32).map(i => (301L + i) -> basis(i)): _*),
      "vec_id", "embedding", vd)
    (dd, vd)
  }

  private def manifest(dir: String) =
    spark.read.parquet(s"$dir/manifest")
      .select($"doc_id", $"quality_ok", $"lang_ok", $"is_dup", $"has_emb",
        $"sem_novel", $"admitted", $"batch_id".cast("long").as("batch_id"))
      .orderBy($"doc_id")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Run the composed stream over the shard fixture to completion (or to
    * the injected kill), returning the dirs for inspection. */
  private def drive(
      srcDir: String, dedupDir: String, ivfDir: String,
      vDir: String, ck: String,
      failAfterStage: Long => Int = _ => Int.MaxValue): Option[String] = {
    val q = CrawlIngest.admissionFromKinesis(
      spark,
      Map("path" -> srcDir, "maxRecordsPerFetch" -> "2"),
      dedupDir, ivfDir, vDir, ck,
      extractMarkup = true, failAfterStage = failAfterStage)
    try { q.awaitTermination(); None }
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        Some(Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage))
    } finally q.stop()
  }

  test("source → de-agg → extraction → mouth: two micro-batches, cross-batch learning, markup in / clean text out") {
    val srcDir = writeFixture()
    val (dedupDir, ivfDir) = freshBases()
    val vDir = java.nio.file.Files.createTempDirectory("kmouth-v").toString
    val ck = java.nio.file.Files.createTempDirectory("kmouth-ck").toString
    drive(srcDir, dedupDir, ivfDir, vDir, ck) shouldBe None

    val m = manifest(vDir).collect()
    m.map(_.getLong(0)) shouldBe Array(10L, 11L, 12L, 13L, 14L, 20L, 21L, 22L, 23L)
    def row(id: Long) = m.find(_.getLong(0) == id).get
    // batch 0 (frame 0 of both shards)
    row(10L).getBoolean(3) shouldBe true // is_dup of stored 1
    row(11L).getBoolean(3) shouldBe false
    row(11L).getBoolean(5) shouldBe false // sem-dup of stored 301
    row(12L).getBoolean(6) shouldBe true // ADMITTED
    row(13L).getBoolean(1) shouldBe false // quality fail (extracted text!)
    row(14L).getBoolean(2) shouldBe false // lang fail
    // batch 1: both tiers learned from batch 0 THROUGH the source path
    row(20L).getBoolean(3) shouldBe true // text-dup of admitted 12
    row(21L).getBoolean(5) shouldBe false // sem-dup of 12's embedding
    row(22L).getBoolean(6) shouldBe true
    row(23L).getBoolean(4) shouldBe false // has_emb
    row(23L).getBoolean(6) shouldBe true
    // the batch split came from the SOURCE's admission control
    m.map(_.getLong(7)).toSeq shouldBe Seq(0L, 0L, 0L, 0L, 0L, 1L, 1L, 1L, 1L)

    // markup in, CLEAN TEXT out: the index stores extracted text
    // signatures — a clean-text copy of an indexed page must collide
    CorpusDedup.refreshIndex(spark, dedupDir)
    CorpusDedup.fromIndex(spark, dedupDir).signatures
      .select($"doc_id").collect().map(_.getLong(0)).sorted shouldBe
      Array(1L, 2L, 11L, 12L, 21L, 22L, 23L)
    VectorSearch.refreshIvfIndex(spark, ivfDir)
    VectorSearch.fromIvfIndex(spark, ivfDir).vectors
      .select($"vec_id").collect().map(_.getLong(0)).sorted shouldBe
      ((301L to 332L) ++ Seq(12L, 22L)).sorted.toArray
  }

  test("crash matrix across the THREE progress domains: every kill point redelivers from the source and converges") {
    val srcDir = writeFixture()
    // golden: uninterrupted run on twin dirs
    val (gd, gi) = freshBases()
    val gv = java.nio.file.Files.createTempDirectory("kmouth-gv").toString
    val gck = java.nio.file.Files.createTempDirectory("kmouth-gck").toString
    drive(srcDir, gd, gi, gv, gck) shouldBe None
    CorpusDedup.refreshIndex(spark, gd)
    VectorSearch.refreshIvfIndex(spark, gi)
    val goldenManifest = rows(manifest(gv))
    val goldenSigs = rows(CorpusDedup.fromIndex(spark, gd).signatures)
    val goldenEdges = rows(CorpusDedup.fromIndex(spark, gd).edges)
    val goldenVecs = rows(VectorSearch.fromIvfIndex(spark, gi).vectors)

    // kill point 1: after the dedup marker, before the ANN marker
    // kill point 2: after the ANN marker, before the manifest
    // kill point 3: after the manifest — the foreachBatch body COMPLETED
    //   but the source's offset commit never happened; only the real
    //   source exercises this domain (the whole batch redelivers, every
    //   stage skips via its marker, the manifest rewrite must converge)
    for (killAt <- Seq(1, 2, 3)) {
      withClue(s"kill after stage $killAt: ") {
        val (dd, vd) = freshBases()
        val v = java.nio.file.Files.createTempDirectory(s"kmouth-v$killAt").toString
        val ck = java.nio.file.Files.createTempDirectory(s"kmouth-ck$killAt").toString
        val err = drive(srcDir, dd, vd, v, ck,
          failAfterStage = id => if (id == 0L) killAt else Int.MaxValue)
        err.getOrElse("") should include(s"injected crash after stage $killAt")
        // restart from the same checkpoint, no injection: the source
        // replays batch 0 over the same offset range; committed stages
        // skip via their markers and READ BACK persisted verdicts (a
        // re-score against the mutated index would flip verdicts and
        // the manifest would diverge from golden)
        drive(srcDir, dd, vd, v, ck) shouldBe None
        rows(manifest(v)) shouldBe goldenManifest
        CorpusDedup.refreshIndex(spark, dd)
        rows(CorpusDedup.fromIndex(spark, dd).signatures) shouldBe goldenSigs
        rows(CorpusDedup.fromIndex(spark, dd).edges) shouldBe goldenEdges
        VectorSearch.refreshIvfIndex(spark, vd)
        rows(VectorSearch.fromIvfIndex(spark, vd).vectors) shouldBe goldenVecs
      }
    }
  }
}
