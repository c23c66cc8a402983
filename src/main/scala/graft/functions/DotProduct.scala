package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Native Catalyst dot product over two numeric arrays → double.
  *
  * Why a custom expression (the one place built-ins genuinely fall short):
  *   - the HOF formulation (`aggregate(zip_with(...))`) interprets its
  *     lambda per element — measured ~10× slower in LSH hot loops;
  *   - the unrolled `element_at` formulation needs a statically known
  *     length (a driver action to sniff it), re-reads the array per
  *     element, and at tables×planes×dim terms blows up codegen.
  *   This expression is one tree node that compiles (`doGenCode`) to a
  *   tight primitive loop over the unsafe array data — whole-stage
  *   codegen keeps fusing the surrounding operators.
  *
  * Semantics: Σ aᵢ·bᵢ in double over the common prefix length; NULL if
  * either array is NULL; array elements are assumed non-null (embedding
  * columns — NULL elements read as 0 via the unsafe accessors).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(_: NumericType, _), ArrayType(_: NumericType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_dot expects two numeric arrays, got ${l.catalogString} and ${r.catalogString}")
    }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def getAsDouble(a: ArrayData, t: DataType, i: Int): Double = t match {
    case DoubleType => a.getDouble(i)
    case FloatType  => a.getFloat(i).toDouble
    case LongType   => a.getLong(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case ShortType  => a.getShort(i).toDouble
    case ByteType   => a.getByte(i).toDouble
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (ta, tb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0d
    var i = 0
    while (i < n) {
      s += getAsDouble(a, ta, i) * getAsDouble(b, tb, i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val getA = CodeGenerator.getValue(a, elemType(left), i)
      val getB = CodeGenerator.getValue(b, elemType(right), i)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (double)($getA) * (double)($getB);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** Registration for graft's native expressions: programmatic
  * (`GraftFunctions.register(spark)`, idempotent) or config-driven
  * (`spark.sql.extensions=graft.functions.GraftExtensions`). */
object GraftFunctions {
  val DotName = "graft_dot"

  private val dotInfo = new ExpressionInfo(classOf[DotProduct].getName, DotName)
  private val dotBuilder = (children: Seq[Expression]) => {
    require(children.length == 2, s"$DotName takes exactly 2 arguments")
    DotProduct(children.head, children(1))
  }

  val MinhashSigName = "graft_minhash_sig"

  private val sigInfo = new ExpressionInfo(classOf[MinhashSig].getName, MinhashSigName)
  private val sigBuilder = (children: Seq[Expression]) => {
    require(children.length == 3,
      s"$MinhashSigName takes (tokens, shingleSize, numHashes)")
    def litInt(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$MinhashSigName $what must be an integer literal, got $other")
    }
    MinhashSig(children.head,
      litInt(children(1), "shingleSize"), litInt(children(2), "numHashes"))
  }

  val WinnowFpsName = "graft_winnow_fps"

  private val winnowInfo = new ExpressionInfo(classOf[WinnowFps].getName, WinnowFpsName)
  private val winnowBuilder = (children: Seq[Expression]) => {
    require(children.length == 3, s"$WinnowFpsName takes (norm, k, w)")
    def litInt(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$WinnowFpsName $what must be an integer literal, got $other")
    }
    WinnowFps(children.head, litInt(children(1), "k"), litInt(children(2), "w"))
  }

  val SimhashSigName = "graft_simhash_sig"

  private val simhashInfo = new ExpressionInfo(classOf[SimhashSig].getName, SimhashSigName)
  private val simhashBuilder = (children: Seq[Expression]) => {
    require(children.length == 1, s"$SimhashSigName takes (tokens)")
    SimhashSig(children.head)
  }

  val BucketRankName = "graft_bucket_rank"

  private val bucketRankInfo = new ExpressionInfo(classOf[BucketRank].getName, BucketRankName)
  private val bucketRankBuilder = (children: Seq[Expression]) => {
    require(children.length == 2, s"$BucketRankName takes (value, edges)")
    BucketRank(children.head, children(1))
  }

  val QualityScoreName = "graft_quality_score"

  private val qualityInfo = new ExpressionInfo(classOf[QualityScore].getName, QualityScoreName)
  private val qualityBuilder = (children: Seq[Expression]) => {
    require(children.length == 1, s"$QualityScoreName takes (text)")
    QualityScore(children.head)
  }

  val WordShinglesName = "graft_word_shingles"

  private val wordShinglesInfo =
    new ExpressionInfo(classOf[WordShingles].getName, WordShinglesName)
  private val wordShinglesBuilder = (children: Seq[Expression]) => {
    require(children.length == 2, s"$WordShinglesName takes (text, shingleSize)")
    val n = children(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$WordShinglesName shingleSize must be an integer literal, got $other")
    }
    WordShingles(children.head, n)
  }

  val SigMatchesName = "graft_sig_matches"

  private val sigMatchesInfo =
    new ExpressionInfo(classOf[SigMatches].getName, SigMatchesName)
  private val sigMatchesBuilder = (children: Seq[Expression]) => {
    require(children.length == 2, s"$SigMatchesName takes (sigA, sigB)")
    SigMatches(children.head, children(1))
  }

  val ShingleJaccardName = "graft_shingle_jaccard"

  private val shingleJaccardInfo =
    new ExpressionInfo(classOf[ShingleJaccard].getName, ShingleJaccardName)
  private val shingleJaccardBuilder = (children: Seq[Expression]) => {
    require(children.length == 3, s"$ShingleJaccardName takes (a, b, shingleSize)")
    val n = children(2) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$ShingleJaccardName shingleSize must be an integer literal, got $other")
    }
    ShingleJaccard(children.head, children(1), n)
  }

  // Spark's own runtime-filter expression pair, surfaced as session
  // functions: `graft_bloom_agg(key, estItems)` builds the serialized
  // filter (BinaryType), `graft_might_contain(bloom, key)` probes it.
  // These power operator-level semi-join reduction (see
  // `operators.BloomPrune`) in pipelines where Catalyst's automatic
  // InjectRuntimeFilter can't see the opportunity — e.g. the filter is
  // built in one job and applied in another, or the probe side is an
  // exploded intermediate. Using the engine's OWN aggregate/probe pair
  // (not a re-implementation) keeps the serialized format, hashing, and
  // codegen identical to what a runtime-injected filter would produce.
  val BloomAggName = "graft_bloom_agg"
  val MightContainName = "graft_might_contain"

  private val bloomAggInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
    BloomAggName)
  private val bloomAggBuilder = (children: Seq[Expression]) => {
    require(children.length == 2, s"$BloomAggName takes (key, estItems)")
    val est = children(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, LongType) => v
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v.toLong
      case other => throw new IllegalArgumentException(
        s"$BloomAggName estItems must be an integer literal, got $other")
    }
    require(est > 0, s"$BloomAggName estItems must be positive: $est")
    new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      children.head, est)
  }

  private val mightContainInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
    MightContainName)
  private val mightContainBuilder = (children: Seq[Expression]) => {
    require(children.length == 2, s"$MightContainName takes (bloom, key)")
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      children.head, children(1))
  }

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(DotName), dotInfo, dotBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(MinhashSigName), sigInfo, sigBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(WinnowFpsName), winnowInfo, winnowBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(SimhashSigName), simhashInfo, simhashBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(BucketRankName), bucketRankInfo, bucketRankBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(QualityScoreName), qualityInfo, qualityBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(WordShinglesName), wordShinglesInfo, wordShinglesBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(SigMatchesName), sigMatchesInfo, sigMatchesBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(ShingleJaccardName), shingleJaccardInfo, shingleJaccardBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(BloomAggName), bloomAggInfo, bloomAggBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(MightContainName), mightContainInfo, mightContainBuilder)
  }

  def inject(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier(DotName), dotInfo, dotBuilder))
    ext.injectFunction((FunctionIdentifier(MinhashSigName), sigInfo, sigBuilder))
    ext.injectFunction((FunctionIdentifier(WinnowFpsName), winnowInfo, winnowBuilder))
    ext.injectFunction((FunctionIdentifier(SimhashSigName), simhashInfo, simhashBuilder))
    ext.injectFunction((FunctionIdentifier(BucketRankName), bucketRankInfo, bucketRankBuilder))
    ext.injectFunction((FunctionIdentifier(QualityScoreName), qualityInfo, qualityBuilder))
    ext.injectFunction((FunctionIdentifier(WordShinglesName), wordShinglesInfo, wordShinglesBuilder))
    ext.injectFunction((FunctionIdentifier(SigMatchesName), sigMatchesInfo, sigMatchesBuilder))
    ext.injectFunction((FunctionIdentifier(ShingleJaccardName), shingleJaccardInfo,
      shingleJaccardBuilder))
    ext.injectFunction((FunctionIdentifier(BloomAggName), bloomAggInfo, bloomAggBuilder))
    ext.injectFunction((FunctionIdentifier(MightContainName), mightContainInfo, mightContainBuilder))
  }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftFunctions.inject(ext)
}
