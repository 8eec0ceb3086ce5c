package graft.plans

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.kpl.KplCodec

class KplExplodeSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def fixture() = {
    import spark.implicits._
    Seq(
      (1L, KplCodec.aggregate("pk", Seq("a", "bb", "ccc").map(_.getBytes(UTF_8)))),
      (2L, "bare".getBytes(UTF_8)),
      (3L, KplCodec.Magic ++ Array.fill[Byte](40)(0x7F)), // corrupt aggregate
      (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "data")
  }

  /** `(id, corrupt, payload)` rows of the bare generator over the fixture. */
  private def generated(): Array[(Long, Boolean, Seq[Byte])] =
    fixture()
      .select(col("id"),
        GraftBridge.column(KplExplode(GraftBridge.expression(col("data"))))
          .as(Seq("payload", "corrupt")))
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getAs[Array[Byte]](1).toSeq))

  private def ordered(rows: Seq[(Long, Boolean, Seq[Byte])]) =
    rows.sortBy(t => (t._1, t._3.mkString(",")))

  test("generator rows equal the KplCodec.deaggregate reference") {
    val reference = fixture().collect().toSeq.flatMap { r =>
      val id = r.getLong(0)
      Option(r.getAs[Array[Byte]](1)).toSeq.flatMap(data =>
        KplCodec.deaggregate(data) match {
          case KplCodec.Aggregate(ps)   => ps.map(p => (id, false, p.toSeq))
          case KplCodec.Single(p)       => Seq((id, false, p.toSeq))
          case KplCodec.Corrupt(raw, _) => Seq((id, true, raw.toSeq))
        })
    }
    ordered(generated().toSeq) shouldBe ordered(reference)
  }

  test("generator streams aggregate payloads and flags corrupt rows") {
    val rows = generated().map(r => (r._1, r._2, new String(r._3.toArray, UTF_8)))
      .sortBy(r => (r._1, r._3))
    rows.count(_._1 == 1L) shouldBe 3
    rows.filter(_._1 == 1L).map(_._3) shouldBe Array("a", "bb", "ccc")
    rows.filter(_._1 == 2L).map(_._3) shouldBe Array("bare")
    rows.filter(_._1 == 3L).map(_._2) shouldBe Array(true)
    rows.count(_._1 == 4L) shouldBe 0 // null input generates nothing
  }

  test("strict-drop mode removes corrupt aggregates (reference parity)") {
    val rows = KplExplode.userRecords(fixture())
    rows.columns.toSeq shouldBe Seq("id", "data", "payload")
    rows.filter(col("id") === 3L).count() shouldBe 0
    rows.count() shouldBe 4
  }

  test("works from SQL once extensions are registered") {
    graft.GraftExtensions.register(spark)
    fixture().createOrReplaceTempView("kpl_fixture")
    val n = spark.sql(
      "SELECT graft_kpl_explode(data) FROM kpl_fixture WHERE data IS NOT NULL")
      .count()
    n shouldBe 5 // 3 payloads + 1 bare + 1 corrupt
  }
}
