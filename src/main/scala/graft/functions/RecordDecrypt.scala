package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Native codegen'd record decryption for scans (A13).
  *
  * Dispatches per record on the reference's leading format byte
  * (storage/src/record/encryption.rs:1-29: 0x01 AEGIS-256 v1,
  * 0x02 AES-256-GCM v1), authenticates with the per-record AAD, and
  * decodes the decrypted payload as the byte-for-byte plaintext
  * EnvelopeRecord encoding (headers INCLUDED — the reference encrypts
  * the whole envelope, encryption.rs:243-272, not just the body), so
  * the result is a struct<headers, body> the read plan projects back
  * into the logical record columns. The key rides along as a
  * reference object so the call sits inside whole-stage codegen. The
  * per-record work is EnvelopeCodec.decryptRecord, which the serving
  * reads (StreamStore.readBatch) call directly on the driver — the
  * analog of the reference decrypting in its session loop,
  * read.rs:74-91.
  *
  * The AAD is an EXPRESSION child, not a constant: a single-stream
  * read binds it to a literal, while a basin-wide decrypting scan
  * derives it from the `stream` partition column — so decrypting a
  * 10k-stream basin is ONE scan with one project, not 10k unioned
  * per-stream plan branches (the plan-count scale hazard, and the
  * fixed-overhead floor the bench's enc-read phase used to pay).
  *
  * Tag mismatch / unknown format throw (AEADBadTagException) and fail
  * the task — auth failure is never silent garbage. Null input → null.
  */
case class RecordDecryptExpr(left: Expression, right: Expression, key: Array[Byte])
    extends BinaryExpression {

  // left = sealed record bytes, right = AAD bytes
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (BINARY, BINARY) arguments, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def dataType: DataType = graft.log.EnvelopeCodec.structType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "record_decrypt"

  /** Deliberately non-deterministic-flagged (the function IS pure):
    * Catalyst inlines deterministic aliases into pushed-down predicates
    * and collapsed projects, so a query touching both restored columns
    * re-ran the cipher up to 4x per record (measured by
    * EnvelopeCodec.decryptCalls; pinned in RecordDecryptPlanSpec). The
    * flag pins the decrypt into ONE project node — predicates on
    * pass-through columns (seq_num, timestamp) still push to the scan
    * below it, which is where the read path applies them anyway.
    */
  override lazy val deterministic: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    val a = right.eval(input)
    if (v == null || a == null) null
    else graft.log.EnvelopeCodec.decryptToRow(
      key, a.asInstanceOf[Array[Byte]], v.asInstanceOf[Array[Byte]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("recKey", key, "byte[]")
    nullSafeCodeGen(ctx, ev, (c, a) =>
      s"${ev.value} = graft.log.EnvelopeCodec.decryptToRow($keyRef, $a, $c);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
