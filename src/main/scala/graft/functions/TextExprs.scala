package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the text-pipeline hot loop: normalized
  * word n-grams of a document in ONE compiled pass.
  *
  * Value-identical to the builtin formulation every shingling operator used
  * (`transform(sequence(0, greatest(size(toks)-n, 0)),
  *    i => concat_ws(" ", slice(toks, i+1, n)))`
  * over `toks = split(lower(trim(text)), "\s+")`) — pinned by
  * `TextExprsSpec` against that exact expression over the real corpus —
  * but ~4× faster: higher-order lambdas run INTERPRETED with no
  * common-subexpression sharing (each gram re-evaluates slice+concat
  * through boxed per-element Catalyst eval, and `split` recompiles its
  * regex per row), which made gram generation the ~3.5 s floor under every
  * corpus/dedup/text query at sf0.1. Shingling feeds dedup, novelty,
  * decontamination, the n-gram index and the LM/OOV family — at 100 TB
  * this loop IS the tokenize pass, the same argument as [[FloatDotProduct]]
  * for the embedding scan.
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"word_ngrams n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"argument 1 of $prettyName must be STRING, got ${child.dataType.sql}")

  override def nullSafeEval(s: Any): Any =
    TextExprs.wordNgrams(s.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.wordNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd base-31 polynomial rolling hash mod 1e9+7 over a string —
  * the portable hash family's per-token base hash. Value-identical
  * (TextExprsSpec) to the builtin fold
  * `aggregate(transform(split(s,""), ch => ascii(ch)), 0L,
  *    (acc,c) => pmod(acc*31+c, p))`
  * — `split(s,"")` yields code-point chunks with no trailing empty (and
  * `[""]` for the empty string, whose `ascii` is 0, so hash("") = 0) and
  * `ascii` is the first CODE POINT (Spark 4.x's `Ascii` decodes the full
  * supplementary-plane code point, e.g. 128512 for U+1F600, not the UTF-16
  * high surrogate — verified against the builtin and pinned by the astral
  * cases in TextExprsSpec's fuzz sweep) — but one compiled loop per string
  * instead of an interpreted lambda PER CHARACTER, which made the portable
  * dedup/fingerprint family character-bound. */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "poly_hash"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"argument 1 of $prettyName must be STRING, got ${child.dataType.sql}")
  override def nullSafeEval(s: Any): Any =
    TextExprs.polyHash(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.polyHash($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd per-window rolling-hash fold over a per-token hash array:
  * window i (0-based, for i in 0..L-k) folds hashes[i..i+k-1] as
  * `acc = (acc*r + h) mod p` — value-identical (TextExprsSpec) to
  * `transform(sequence(0, size-k), i => aggregate(slice(hs, i+1, k), 0L,
  *    (acc,h) => pmod(acc*r + h, p)))`
  * on inputs with size >= k (callers pre-filter, as the builtin sites did).
  * One compiled double loop per document instead of k interpreted fold
  * steps + an array copy PER WINDOW — the duplicated-span discovery pass's
  * hot loop. */
case class RollingWindowHashes(child: Expression, k: Int, r: Long, p: Long)
    extends UnaryExpression {
  require(k >= 1 && r > 0 && p > 1, s"bad rolling-hash params k=$k r=$r p=$p")
  // null ELEMENTS propagate like the builtin fold (a null hash poisons its
  // windows' pmod chain to null), so output nullability mirrors the input's
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType,
      containsNull = child.dataType match {
        case ArrayType(_, cn) => cn
        case _ => false
      })
  override def prettyName: String = "rolling_window_hashes"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"argument 1 of $prettyName must be ARRAY<BIGINT>, got ${other.sql}")
  }
  override def nullSafeEval(a: Any): Any =
    TextExprs.rollingWindowHashes(a.asInstanceOf[ArrayData], k, r, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextExprs.rollingWindowHashes($c, $k, ${r}L, ${p}L)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExprs {
  // the exact pattern the builtin chain used: split(lower(trim(text)), "\s+")
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Base-31 polynomial hash mod 1e9+7 over code points; "" hashes to 0
    * (the builtin chain's `split("","")=[""]`, `ascii("")=0` edge). */
  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  /** Per-window fold `(acc*r + h) mod p` over hashes[i..i+k-1] for
    * i in 0..max(L-k, 0); mirrors `sequence(0, size-k)` for L >= k
    * (callers pre-filter shorter docs exactly like the builtin sites).
    * A null element yields a null value for every window covering it —
    * exactly the builtin aggregate fold's null-poisoning (`acc*r + null`
    * is null, and pmod of null is null) — instead of silently hashing it
    * as 0. The null-free fast path stays a pure primitive loop. */
  def rollingWindowHashes(hs: ArrayData, k: Int, r: Long, p: Long): ArrayData = {
    val L = hs.numElements()
    val count = math.max(L - k, 0) + 1
    var hasNull = false
    var c = 0
    while (c < L && !hasNull) { if (hs.isNullAt(c)) hasNull = true; c += 1 }
    if (!hasNull) {
      val out = new Array[Long](count)
      var i = 0
      while (i < count) {
        var acc = 0L
        val end = math.min(i + k, L)
        var j = i
        while (j < end) {
          acc = (acc * r + hs.getLong(j)) % p
          j += 1
        }
        out(i) = acc
        i += 1
      }
      ArrayData.toArrayData(out)
    } else {
      val out = new Array[Any](count)
      var i = 0
      while (i < count) {
        var acc: java.lang.Long = 0L
        val end = math.min(i + k, L)
        var j = i
        while (j < end && acc != null) {
          acc = if (hs.isNullAt(j)) null
                else java.lang.Long.valueOf((acc.longValue * r + hs.getLong(j)) % p)
          j += 1
        }
        out(i) = acc
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Compute the gram array for one document. Normalization goes through
    * the SAME UTF8String trim/toLowerCase the builtin `trim`/`lower`
    * expressions call, and the split through the same java Pattern
    * machinery `UTF8String.split` delegates to (compiled once here, per
    * row there) — so outputs are byte-identical to the builtin chain. */
  def wordNgrams(text: UTF8String, n: Int): ArrayData = {
    val norm = text.trim().toLowerCase().toString
    val toks = Ws.split(norm, -1)
    val L = toks.length
    val count = math.max(L - n, 0) + 1
    val out = new Array[Any](count)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < count) {
      sb.setLength(0)
      val end = math.min(i + n, L)
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  /** [[WordNgrams]] over an arbitrary Column. */
  def wordNgramsCol(text: Column, n: Int): Column =
    column(WordNgrams(expression(text), n))

  /** [[PolyHash]] over an arbitrary Column. */
  def polyHashCol(s: Column): Column = column(PolyHash(expression(s)))

  /** [[RollingWindowHashes]] over an arbitrary Column. */
  def rollingWindowHashesCol(hs: Column, k: Int, r: Long, p: Long): Column =
    column(RollingWindowHashes(expression(hs), k, r, p))
}
