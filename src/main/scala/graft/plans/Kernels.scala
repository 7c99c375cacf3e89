package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** One row of the kernel registration table: the SQL function `name`
  * is the static method `obj.method`.
  *
  * @param args   argument types, matched exactly (nullability aside, no
  *               implicit casts); they map to the method's parameter
  *               classes as in any `StaticInvoke` (int → `int`, string →
  *               `UTF8String`, array → `ArrayData`, struct →
  *               `InternalRow`)
  * @param consts positions of the arguments that must be non-null
  *               constants
  * @param lift   constant arguments converted once, on the driver, into
  *               the object the method takes (an `ObjectType` literal)
  * @param propagateNull true: a null argument yields null without a
  *               call. false: the method sees null arguments and never
  *               returns null.
  */
final case class Kernel(name: String, obj: AnyRef, method: String,
                        args: Seq[DataType], ret: DataType,
                        consts: Seq[Int] = Nil,
                        lift: Map[Int, Any => AnyRef] = Map.empty,
                        propagateNull: Boolean = true)

/** A call of a table kernel. It checks the arguments against its row
  * and is replaced, at optimization, by a `StaticInvoke` of the
  * kernel's method: generated code calls the method directly (inside
  * whole-stage codegen), interpreted code calls it by reflection — the
  * way Spark builds its own `url_encode`.
  */
case class KernelCall(kernel: Kernel, children: Seq[Expression])
    extends RuntimeReplaceable with ExpectsInputTypes {
  override def prettyName: String = kernel.name
  override def inputTypes: Seq[DataType] = kernel.args
  // from the row, so analysis never builds the replacement (which
  // evaluates the lifted constants) before the type check passed
  override def dataType: DataType = kernel.ret
  override def nullable: Boolean = kernel.propagateNull
  // prints as name(args...), without the row
  override protected def flatArguments: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length != kernel.args.length)
      TypeCheckFailure(s"$prettyName takes ${kernel.args.length} " +
        s"arguments, got ${children.length}")
    else super.checkInputDataTypes() match {
      case TypeCheckSuccess =>
        kernel.consts.find(i => !children(i).foldable || children(i).eval() == null)
          .fold[TypeCheckResult](TypeCheckSuccess)(i => TypeCheckFailure(
            s"$prettyName needs a non-null constant as argument ${i + 1}"))
      case failure => failure
    }

  override lazy val replacement: Expression =
    StaticInvoke(kernel.obj.getClass, kernel.ret, kernel.method,
      children.zipWithIndex.map { case (c, i) =>
        kernel.lift.get(i).fold(c) { f =>
          val v = f(c.eval())
          Literal(v, ObjectType(v.getClass))
        }
      },
      propagateNull = kernel.propagateNull,
      returnNullable = kernel.propagateNull)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}

/** The registration table: every `graft.plans` kernel, registered in a
  * session at once by [[register]] (Column APIs) or
  * [[GraftExtensions]].
  */
object Kernels {
  private val Tokens = ArrayType(StringType)
  private val I = IntegerType

  val table: Seq[Kernel] = Seq(
    Kernel("canonicalize_url", CanonicalizeUrl, "invoke", Seq(StringType), StringType),
    Kernel("host_of", HostOf, "invoke", Seq(StringType), StringType),
    Kernel("graft_adjacent_pairs", AdjacentPairs, "invoke", Seq(Tokens),
      ArrayType(AdjacentPairs.Entry, containsNull = false)),
    Kernel("graft_chunk_hashes", ChunkHashes, "invoke", Seq(Tokens, I, I, I),
      ArrayType(ChunkHashes.Entry, containsNull = false), consts = Seq(1, 2, 3)),
    Kernel("graft_classifier_score", ClassifierScore, "invoke", Seq(Tokens, I),
      LongType, consts = Seq(1), propagateNull = false),
    Kernel("graft_feature_hashes", FeatureHashes, "invoke", Seq(Tokens, I),
      ArrayType(LongType, containsNull = false), consts = Seq(1)),
    Kernel("graft_gopher_signals", GopherSignals, "invoke", Seq(StringType),
      GopherSignals.Schema),
    Kernel("graft_gram_key_seq", GramKeySeq, "invoke", Seq(Tokens, I),
      ArrayType(StringType, containsNull = false), consts = Seq(1)),
    Kernel("graft_gram_keys", GramKeys, "invoke", Seq(Tokens, I, BooleanType),
      ArrayType(StringType, containsNull = false), consts = Seq(1, 2)),
    Kernel("graft_lang_pick", LangPick, "invoke", Seq(Tokens, ArrayType(Tokens)),
      StringType, consts = Seq(1), lift = Map(1 -> LangPick.memberSets _)),
    Kernel("graft_minhash_sig", MinhashSig, "invoke", Seq(Tokens, I, I),
      ArrayType(LongType, containsNull = false), consts = Seq(1, 2)),
    Kernel("graft_portable_simhash", PortableSimhash, "invoke", Seq(Tokens, I),
      LongType, consts = Seq(1), propagateNull = false),
    Kernel("graft_span_coverage", SpanCoverage, "invoke",
      Seq(Tokens, ArrayType(I), I), SpanCoverage.Schema, consts = Seq(2),
      propagateNull = false),
    Kernel("graft_token_stats", TokenStats, "invoke", Seq(Tokens, Tokens),
      TokenStats.Schema, consts = Seq(1), lift = Map(1 -> TokenStats.memberSet _)),
    Kernel("graft_winnow_stats", WinnowStats, "invoke", Seq(Tokens, I, I),
      WinnowStats.Schema, consts = Seq(1, 2)),
    Kernel("graft_float_dot", VectorExprs, "floatDot",
      Seq(ArrayType(FloatType), ArrayType(FloatType)), DoubleType),
    Kernel("graft_float_double_dot", VectorExprs, "floatDoubleDot",
      Seq(ArrayType(FloatType), ArrayType(DoubleType)), DoubleType),
    Kernel("graft_long_sqdist", VectorExprs, "longSqDist",
      Seq(ArrayType(LongType), ArrayType(LongType)), LongType))

  /** (identifier, info, builder) per table row. */
  private[plans] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    table.map { k =>
      (FunctionIdentifier(k.name),
        new ExpressionInfo(classOf[KernelCall].getName, k.name),
        (es: Seq[Expression]) => KernelCall(k, es))
    }

  /** Registers the whole table in `spark`'s session, once. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(functions.last._1))
      functions.foreach { case (id, info, builder) =>
        registry.registerFunction(id, info, builder)
      }
  }

  /** Column API: the kernel `name` over `args`, in the active session. */
  def call(name: String, args: Column*): Column = {
    register(SparkSession.active)
    org.apache.spark.sql.functions.call_function(name, args: _*)
  }
}

/** Session extensions registering the whole kernel table for SQL use.
  * Attach with `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Kernels.functions.foreach(ext.injectFunction)
}
