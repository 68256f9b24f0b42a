package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The fused candidate-generation key list of one row: its LSH band tokens
  * (ktype 0) followed by its four 15-bit SimHash chunk keys (ktype 1), as
  * array<struct<bkey, ktype>> ready to explode into the bucket self-join.
  *
  * Native instead of a UDF because this explode is the flagship's largest
  * row fanout (bands + 4 keys per corpus row): the tuple-returning UDF it
  * replaces boxed the band array in and a Tuple2 per key out through the
  * Scala converter. Band hashes pass through verbatim; chunk key c is the
  * c-th 15-bit slice of the fingerprint (LOGICAL shift — sign extension
  * would fold the sign bit into every chunk) offset by c << 15 so the four
  * positions never collide. Bucket contents, and therefore the emitted
  * pair set, match separate band-only and chunk-only passes exactly
  * (CandidatesSpec pins the union equality against test-scope references).
  */
case class FusedKeysExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"fused_keys expects (array<bigint>, bigint), got ${l.catalogString} / ${r.catalogString}")
    }

  override def dataType: DataType = FusedKeysExpr.OutType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(bands: Any, simhash: Any): Any =
    FusedKeysExpr.compute(bands.asInstanceOf[ArrayData], simhash.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, s) => s"graft.sql.FusedKeysExpr.compute($b, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): FusedKeysExpr = copy(left = newLeft, right = newRight)

  override def prettyName: String = "fused_keys"
}

object FusedKeysExpr {
  /** 15-bit SimHash chunk keys per fingerprint. */
  val Chunks = 4

  /** Largest fingerprint hamming distance the chunk keys are guaranteed to
    * find (pigeonhole: <= Chunks - 1 differing bits leave at least one
    * chunk identical) — the candidate kernel's SimHash gate.
    */
  val MaxHamming: Int = Chunks - 1

  val OutType: ArrayType = ArrayType(
    StructType(Seq(
      StructField("bkey", LongType, nullable = false),
      StructField("ktype", IntegerType, nullable = false))),
    containsNull = false)

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(bands: ArrayData, simhash: Long): ArrayData = {
    val nb = bands.numElements()
    val out = new Array[Any](nb + Chunks)
    var i = 0
    while (i < nb) {
      val row = new GenericInternalRow(2)
      row.setLong(0, bands.getLong(i))
      row.setInt(1, 0)
      out(i) = row
      i += 1
    }
    var c = 0
    while (c < Chunks) {
      val row = new GenericInternalRow(2)
      row.setLong(0, ((simhash >>> (15 * c)) & 0x7fffL) + (c.toLong << 15))
      row.setInt(1, 1)
      out(nb + c) = row
      c += 1
    }
    new GenericArrayData(out)
  }
}
