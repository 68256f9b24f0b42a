package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The engine's one signature kernel — normalize, enclose, window into
  * n-grams, MinHash + SimHash + band tokens — fused into ONE streaming pass
  * over the key, so the gram array never materializes: no UTF8String per
  * window, no per-gram byte copies on the ASCII fast path (md5 updates
  * straight from the row's single UTF-8 buffer, digests into a reused
  * 16-byte scratch). The index build, the streaming new-item pass, the
  * signature inventory queries and `graft_sig_bands_from_key` all run it.
  *
  * Output struct<sig, simhash, band_hashes>:
  *  - sig: MinHash over the DISTINCT gram set, component k =
  *    min_g (h1(g) + k * h2(g)) mod P, with h1/h2 the two 60-bit md5 words
  *    of the gram's UTF-8 bytes reduced mod P (Kirsch-Mitzenmacher double
  *    hashing — DuckDB reproduces it as
  *    `('0x'||substr(md5(g), 1|17, 15))::BIGINT % P`);
  *  - simhash: 60-bit SimHash over the gram MULTISET (bit b set iff more
  *    occurrences have bit b of h1 set than clear);
  *  - band_hashes: [[PortableHash.bandHashes]] of sig.
  *
  * Same normalization (graft.text.Gram) and CODE-POINT windowing (a window
  * never splits a surrogate pair — Gram.cpStartsOrNull — so every gram's
  * UTF-8 bytes are well-formed) as `Gram.grams`; FunctionsSpec pins the
  * values against a scalar reference over `Gram.grams` on every key shape.
  * Returns NULL when the normalized key has no n-gram (fewer than n code
  * points after enclosure): the folded state of zero grams is a CONSTANT,
  * so every gram-less row would otherwise share identical band tokens —
  * one quadratic LSH bucket per band.
  *
  * Gram distinctness is keyed on the gram's md5 words (120 bits): two
  * DIFFERENT grams within one row colliding on all 120 bits would be
  * needed to diverge from string-keyed dedup — beyond astronomical, and
  * both hash words are already computed for the signature math.
  */
case class SigBandsFromKeyExpr(child: Expression, n: Int, numHashes: Int, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(n >= 2, "gram size must be at least 2 (Internal.hs:193)")
  require(bands * rowsPerBand <= numHashes,
    s"bands($bands) x rowsPerBand($rowsPerBand) must fit in the signature ($numHashes)")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sig_bands_from_key expects a string column, got ${child.dataType.catalogString}")

  override def dataType: DataType = SigBandsFromKeyExpr.OutType
  override def nullable: Boolean = true // gram-less keys -> null

  override def nullSafeEval(input: Any): Any =
    SigBandsFromKeyExpr.compute(input.asInstanceOf[UTF8String], n, numHashes, bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = (InternalRow) graft.sql.SigBandsFromKeyExpr.compute(
        $c, $n, $numHashes, $bands, $rowsPerBand);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): SigBandsFromKeyExpr =
    copy(child = newChild)

  override def prettyName: String = "sig_bands_from_key"
}

object SigBandsFromKeyExpr {
  val OutType: StructType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("simhash", LongType, nullable = false),
    StructField("band_hashes", ArrayType(LongType, containsNull = false), nullable = false)))

  /** Static entry point shared by interpreted eval and generated code.
    * Returns null when the key yields no n-grams. Declared InternalRow (not
    * Any/Object): the generated code assigns the call result to an
    * InternalRow-typed variable and Janino has no implicit
    * Object→InternalRow conversion — an Any return type makes the generated
    * class fail to compile and silently fall back to interpreted eval
    * (CodegenCompileSpec).
    */
  def compute(u: UTF8String, n: Int, numHashes: Int, bands: Int, rowsPerBand: Int): InternalRow = {
    val s = graft.text.Gram.enclosedIn(graft.text.Gram.normalized(u.toString), '-')
    // code-point window starts (null = identity, the common case)
    val starts = graft.text.Gram.cpStartsOrNull(s)
    val windows = graft.text.Gram.windowCount(s, starts, n)
    if (windows <= 0) return null

    val state = new PortableHash.SigState(numHashes)
    val md = PortableHash.md5Reset()
    val out = new Array[Byte](16)
    // one UTF-8 encode per ROW; when it is pure ASCII every code-point
    // window [i, i+n) is exactly bytes [i, i+n) of this buffer — md5
    // streams from it with zero per-gram allocation
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ascii = bytes.length == s.length

    // distinct-gram set as an open-addressing probe table over the two
    // 60-bit md5 words — no boxing (a HashSet of boxed pairs would undo
    // the pass's allocation win). Capacity 2x the window count keeps the
    // load factor <= 0.5; md5 words are uniform, so (h1 ^ h2) probes well.
    var cap = 4
    while (cap < windows * 2) cap <<= 1
    val mask = cap - 1
    val seen1 = new Array[Long](cap)
    val seen2 = new Array[Long](cap)
    val seenUsed = new Array[Boolean](cap)

    var i = 0
    while (i < windows) {
      if (ascii) md.update(bytes, i, n)
      else md.update(graft.text.Gram.window(s, starts, i, n)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.digest(out, 0, 16) // writes in place and resets for the next window
      val h1full = PortableHash.digest60(out, 0)
      val h2full = PortableHash.digest60(out, 8)
      var idx = ((h1full ^ h2full) & mask).toInt
      var isNew = true
      var probing = true
      while (probing) {
        if (!seenUsed(idx)) {
          seenUsed(idx) = true; seen1(idx) = h1full; seen2(idx) = h2full; probing = false
        } else if (seen1(idx) == h1full && seen2(idx) == h2full) {
          isNew = false; probing = false
        } else idx = (idx + 1) & mask
      }
      state.addWords(h1full, h2full, isNew)
      i += 1
    }
    val row = new GenericInternalRow(3)
    row.update(0, new GenericArrayData(state.sig))
    row.setLong(1, state.simhash)
    row.update(2, new GenericArrayData(PortableHash.bandHashes(state.sig, bands, rowsPerBand)))
    row
  }
}
