package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** `HfBpeIds(encodedWords, vocab, unk, byteFallback, fuseUnk)` — the whole
  * encoded-words → explicit-HF-ids tail of the imported-BPE tokenize path
  * as ONE native walk.
  *
  * Replaces the composed form
  * `HfEncode.bpeIds(Bpe.docSymbols(array_join(enc, "|")), …)`, which the
  * probe recorded in 2a2c379 measured as ~70% of the q_tokenize_hf_import row:
  * array_join copies the document into one string, docSymbols copies it
  * again (replace) and a third time (split), and explicitIds maps every
  * token through an interpreted higher-order `transform` whose lambda
  * (`element_at` on a literal array) never enters whole-stage codegen.
  * Here the symbol stream is read straight off the delimiter-encoded
  * words and each symbol maps through one per-executor hash of
  * surface → explicit id — no joined string, no per-token lambda.
  *
  * Semantics are the composed form's EXACTLY (HfTokenizerSpec pins
  * equality, and the oracle rows hash it):
  *   - symbol stream = `docSymbols(array_join(enc, "|"))`: null words are
  *     skipped (array_join's contract); an empty encoded word (`⟨⟩`)
  *     contributes ONE empty-string symbol — except when the total
  *     encoded length is ≤ 2, where docSymbols yields no symbols at all;
  *   - a symbol absent from the vocab: with `byteFallback` it decomposes
  *     to `<0xNN>` pieces of its UTF-8 bytes, each mapped again (a byte
  *     piece missing from a malformed vocab maps to `unk`); without, it
  *     maps to `unk`;
  *   - `fuseUnk` drops an id equal to `unk` when the PREVIOUS emitted id
  *     also equals `unk` (explicit ids compare, exactly like the filter
  *     over the final id array).
  */
case class HfBpeIds(child: Expression, vocab: Seq[(String, Int)], unk: Int,
    byteFallback: Boolean, fuseUnk: Boolean, open: String, close: String)
    extends UnaryExpression {

  override def prettyName: String = "hf_bpe_ids"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    HashExpressions.checkStringArray(child, prettyName)

  /** surface → explicit id; first occurrence wins on duplicate surfaces
    * (the VocabIds + ids-list composition's behavior).
    */
  @transient private lazy val ids: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](vocab.size * 2)
    for ((p, i) <- vocab) if (!m.containsKey(p)) m.put(p, Integer.valueOf(i))
    m
  }

  private val hex = "0123456789ABCDEF"

  /** Map one symbol, appending its id(s). */
  private def emit(sym: String, out: java.util.ArrayList[Integer]): Unit = {
    val direct = ids.get(sym)
    if (direct != null) { out.add(direct); return }
    if (!byteFallback) { out.add(Integer.valueOf(unk)); return }
    // <0xNN> byte pieces of the symbol's UTF-8 bytes, each mapped again
    val bytes = sym.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (bytes.length == 0) {
      // composed-form quirk, replicated exactly: bytePieces("") evaluates
      // sequence(1, octet_length('')) = sequence(1, 0), whose step infers
      // to -1, yielding [1, 0] — TWO substr('', i, 1) pieces, each the
      // degenerate "<0x>" surface (hex of zero bytes), each mapped again
      val id = ids.get("<0x>")
      val v = if (id == null) Integer.valueOf(unk) else id
      out.add(v); out.add(v)
      return
    }
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      val piece = new java.lang.StringBuilder(6).append("<0x")
        .append(hex.charAt(b >> 4)).append(hex.charAt(b & 0xF)).append('>')
        .toString
      val id = ids.get(piece)
      out.add(if (id == null) Integer.valueOf(unk) else id)
      i += 1
    }
  }

  def idsOf(input: ArrayData): ArrayData = {
    val n = input.numElements()
    // docSymbols' degenerate gate: total encoded length (the joined string
    // minus its "|" joiners) ≤ 2 means no symbols at all
    var total = 0
    var w = 0
    while (w < n) {
      if (!input.isNullAt(w)) total += input.getUTF8String(w).numChars()
      w += 1
    }
    if (total <= 2) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Integer]()
    val sep = close + open
    w = 0
    while (w < n) {
      if (!input.isNullAt(w)) {
        val enc = input.getUTF8String(w).toString
        if (enc.length == 2) emit("", out) // empty word: one "" symbol
        else if (enc.length > 2) {
          var prevStart = 1
          val stop = enc.length - 1
          while (prevStart <= stop) {
            val cut = enc.indexOf(sep, prevStart)
            val end = if (cut < 0 || cut >= stop) stop else cut
            emit(enc.substring(prevStart, end), out)
            prevStart = end + 2
          }
        }
      }
      w += 1
    }
    if (fuseUnk) {
      val fused = new java.util.ArrayList[Integer](out.size())
      var i = 0
      while (i < out.size()) {
        val x = out.get(i)
        if (!(x.intValue() == unk && i > 0 && out.get(i - 1).intValue() == unk))
          fused.add(x)
        i += 1
      }
      return new GenericArrayData(fused.toArray.asInstanceOf[Array[Any]])
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  override protected def nullSafeEval(input: Any): Any =
    idsOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hfBpeIds", this, classOf[HfBpeIds].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.idsOf($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
