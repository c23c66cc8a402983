package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Equal-slot count of two minhash signatures: the near-dup
  * prefilter's estimate of their Jaccard (matches / slots).
  *
  * Why a custom expression (same rationale as [[MinhashSig]]): the HOF
  * formulation `aggregate(zip_with(sa, sb, x == y ? 1 : 0), 0, +)`
  * interprets two lambdas per slot. This node is one loop per row.
  *
  * Value contract (pinned by DedupSpec against the HOF twin): NULL if
  * either signature is NULL; otherwise the number of positions below
  * the shorter length where both slots are non-null and equal (zip_with
  * pads the shorter side with nulls, which never match). */
case class SigMatches(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_sig_matches expects two ARRAY<BIGINT> signatures, got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatches =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sig_matches"
}

/** Exact Jaccard of two documents' DISTINCT shingle-hash sets — the
  * near-dup verification, computed from the same shingles and hashes as
  * [[MinhashSig]] (both call [[ShingleHashes]]), one pass per side.
  *
  * Inputs select the mode as in [[MinhashSig]]: two `ARRAY<STRING>`
  * token arrays (word shingles of `shingleSize` tokens) or two `STRING`
  * normalized texts (char shingles of `shingleSize` characters).
  *
  * Value contract (pinned by DedupSpec against the explode +
  * `collect_set` twin): NULL if either input is NULL; otherwise
  * `|A ∩ B| / |A ∪ B|` as a double, where a document shorter than one
  * shingle contributes its whole text as one shingle — so both sets are
  * non-empty and the ratio is always defined. */
case class ShingleJaccard(left: Expression, right: Expression, shingleSize: Int)
    extends BinaryExpression with CodegenFallback {

  require(shingleSize >= 1, s"shingleSize must be >= 1: $shingleSize")

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) |
           (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_shingle_jaccard expects two ARRAY<STRING> token arrays " +
          s"(word shingles) or two STRING texts (char shingles), got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  private lazy val charMode = left.dataType == StringType

  /** The document's shingle hashes, sorted and distinct. */
  private def hashSet(in: Any): Array[Long] = {
    var buf = new Array[Long](16)
    var n = 0
    ShingleHashes.foreach(in, charMode, shingleSize) { h =>
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
      buf(n) = h
      n += 1
    }
    java.util.Arrays.sort(buf, 0, n)
    var d = 0
    var i = 0
    while (i < n) {
      if (d == 0 || buf(i) != buf(d - 1)) { buf(d) = buf(i); d += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(buf, d)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = hashSet(a)
    val y = hashSet(b)
    var inter = 0
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      if (x(i) < y(j)) i += 1
      else if (x(i) > y(j)) j += 1
      else { inter += 1; i += 1; j += 1 }
    }
    inter.toDouble / (x.length + y.length - inter)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleJaccard =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_shingle_jaccard"
}
