package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native row-local OPH minhash signature — the streaming-safe twin of
  * `Dedup.minhashSigs` (whose explode + groupBy shape cannot run inside
  * a streaming scan stage without becoming a stateful operator).
  *
  * Two shingle granularities, selected by the child's type:
  *  - `ARRAY<STRING>` tokens → WORD shingles of `shingleSize` tokens
  *    (`concat_ws(" ", slice(toks, i, n))`), the `minHashLsh` contract;
  *  - `STRING` (pre-normalized text) → CHAR shingles of `shingleSize`
  *    characters (`substr(t, i, n)` with SQL substring semantics), the
  *    `ngramJaccardPairs` contract.
  *
  * Why a custom expression (same rationale as [[DotProduct]]): the HOF
  * formulation (`aggregate` fold over shingle hashes, `zip_with` slot
  * update per element) interprets its lambdas per element×slot —
  * measured 150 s for a 5k-doc batch at sf0.1, ~50× the whole pipeline.
  * This node runs the identical arithmetic as ONE tight JVM loop per
  * row: shingle → xxhash64 → 4 region rehashes → slot min, then
  * global-min densification.
  *
  * Value contract (pinned by StreamingCurationSpec for the word mode and
  * DedupSpec for the char mode, bit-equal to the batch aggregate): slot
  * `r·(k/m) + (xxhash64(h, r) mod k/m)` holds the min region rehash over
  * the doc's shingles, empty slots densify to the global min; shingle
  * hash = seed-42 xxhash64 of the shingle string; docs shorter than one
  * shingle contribute a single whole-text shingle. */
case class MinhashSig(child: Expression, shingleSize: Int, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  private val Regions = 4
  require(shingleSize >= 1, s"shingleSize must be >= 1: $shingleSize")
  require(numHashes >= Regions && numHashes % Regions == 0,
    s"numHashes must be a positive multiple of $Regions: $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects ARRAY<STRING> tokens (word shingles) " +
        s"or STRING text (char shingles), got ${other.catalogString}")
  }

  private lazy val charMode = child.dataType == StringType

  override def nullSafeEval(in: Any): Any = {
    val per = numHashes / Regions
    val acc = new Array[Long](numHashes)
    val filled = new Array[Boolean](numHashes)
    ShingleHashes.foreach(in, charMode, shingleSize) { h =>
      var r = 0
      while (r < Regions) {
        // xxhash64(h, r) chains: seed 42 → hashLong(h) → hashInt(r).
        val hr = XXH64.hashInt(r, XXH64.hashLong(h, 42L))
        val slot = r * per + (((hr % per) + per) % per).toInt
        if (!filled(slot) || hr < acc(slot)) { acc(slot) = hr; filled(slot) = true }
        r += 1
      }
    }
    // Densify empty slots with the global min — every rehash lands in
    // exactly one slot of its region, so the min over filled slots IS
    // the min over all rehashes.
    var g = Long.MaxValue
    var s = 0
    while (s < numHashes) {
      if (filled(s) && acc(s) < g) g = acc(s)
      s += 1
    }
    s = 0
    while (s < numHashes) {
      if (!filled(s)) acc(s) = g
      s += 1
    }
    new GenericArrayData(acc)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_sig"
}

/** The shingle → hash loop [[MinhashSig]] and [[ShingleJaccard]] share,
  * so the two agree on a document's shingles by construction.
  *
  * Word mode (`ARRAY<STRING>` tokens): windows of `n` tokens joined by
  * " " (`concat_ws(" ", slice(toks, i, n))`), null tokens skipped. Char
  * mode (`STRING`, pre-normalized text): windows `substringSQL(i, n)`,
  * the same 1-based, code-point-counted window as `Column.substr`. A
  * document shorter than one window yields one whole-text shingle. The
  * hash is seed-42 xxhash64 of the shingle's UTF-8 bytes, byte-for-byte
  * the builtin `xxhash64(string)`. */
private[functions] object ShingleHashes {
  private val Sep = UTF8String.fromString(" ")

  def foreach(in: Any, charMode: Boolean, n: Int)(f: Long => Unit): Unit =
    if (charMode) {
      val t = in.asInstanceOf[UTF8String]
      val nSh = math.max(t.numChars() - n + 1, 1)
      var i = 0
      while (i < nSh) {
        f(hash(t.substringSQL(i + 1, n)))
        i += 1
      }
    } else {
      val toks = in.asInstanceOf[ArrayData]
      val len = toks.numElements()
      val nSh = math.max(len - n + 1, 1)
      var i = 0
      while (i < nSh) {
        val end = math.min(i + n, len)
        val parts = new Array[UTF8String](end - i)
        // Null elements stay null in `parts` and concatWs skips them. The
        // isNullAt guard is load-bearing: columnar ArrayData
        // getUTF8String on a null slot is undefined (garbage offsets),
        // not null.
        var j = i
        while (j < end) {
          if (!toks.isNullAt(j)) parts(j - i) = toks.getUTF8String(j)
          j += 1
        }
        f(hash(UTF8String.concatWs(Sep, parts: _*)))
        i += 1
      }
    }

  private def hash(sh: UTF8String): Long =
    XXH64.hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset, sh.numBytes, 42L)
}
