package graft.plans

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.kpl.KplCodec

/** Native Catalyst generator for KPL de-aggregation (SURVEY.md O3): one
  * envelope row fans out to N `(payload, corrupt)` rows with no
  * intermediate array value — payloads stream straight out of the protobuf
  * decode loop. A bare (non-KPL) record yields itself, the identity path at
  * `kinesisReader/index.js:170-174`; a null input yields no rows. Corrupt
  * aggregates surface as a single flagged row carrying the raw bytes, rather
  * than being dropped silently as the reference does
  * (`kinesisReader/index.js:163-164`); that `corrupt` column is the side
  * channel, reachable from SQL as `graft_kpl_explode` once
  * [[graft.GraftExtensions]] is installed.
  *
  * Plan integration: `Generate graft_kpl_explode(data)` — whole-stage
  * codegen keeps the surrounding operators fused; the generator itself
  * evaluates via [[CodegenFallback]] (custom generators are interpreted in
  * Spark; the per-row cost is protobuf decode, not dispatch).
  */
case class KplExplode(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("payload", BinaryType),
    StructField("corrupt", BooleanType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_kpl_explode requires a binary column, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val data = child.eval(input).asInstanceOf[Array[Byte]]
    if (data == null) Nil
    else KplCodec.deaggregate(data) match {
      case KplCodec.Aggregate(payloads) => payloads.map(p => InternalRow(p, false))
      case KplCodec.Single(payload)     => InternalRow(payload, false) :: Nil
      case KplCodec.Corrupt(raw, _)     => InternalRow(raw, true) :: Nil
    }
  }

  override protected def withNewChildInternal(newChild: Expression): KplExplode =
    copy(child = newChild)

  override def prettyName: String = "graft_kpl_explode"
}

object KplExplode {

  /** The engine's one KPL flatten: every column of `envelope` plus one
    * `payload: binary` row per user record of its `data` column. Corrupt
    * aggregates are dropped, the reference's strict-drop behavior
    * (`kinesisReader/index.js:163-164`); callers that want them select the
    * generator's `corrupt` column directly. */
  def userRecords(envelope: DataFrame): DataFrame =
    envelope
      .select(col("*"),
        GraftBridge.column(KplExplode(GraftBridge.expression(col("data"))))
          .as(Seq("payload", "corrupt")))
      .filter(!col("corrupt"))
      .drop("corrupt")
}
