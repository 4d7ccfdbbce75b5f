package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for the dot product of two array<double>
  * columns, with whole-stage codegen (`doGenCode` emits a tight primitive
  * loop — no per-element lambda dispatch, no boxing). The higher-order
  * `aggregate(zip_with(...))` formulation allocates an intermediate array
  * and evaluates a lambda per element; in the kNN hot path (candidates ×
  * queries × dims multiply-adds) the fused loop is the difference between
  * a memory-bound and a compute-bound scan at cluster scale.
  *
  * Null handling: standard binary-expression null propagation for the
  * arrays themselves; elements are assumed non-null (embedding vectors).
  * Lengths may differ — the shorter length wins (zip semantics).
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration for the library's native expressions: per-session
  * (`GraftFunctions.register`) or via `SparkSessionExtensions`
  * (`--conf spark.sql.extensions=graft.functions.GraftExtensions`). */
object GraftFunctions {
  /** Builder for (array, literal-int) expressions with clear analysis-time
    * errors on the spark.sql surface: arity, then foldability, then a
    * whole-number check (a fractional literal would otherwise silently
    * truncate), instead of raw IndexOutOfBounds/ClassCast errors. */
  private def evalIntLiteral(fn: String, argName: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(s"$fn: $argName must be a literal integer")
    e.eval() match {
      case n: Number if n.doubleValue() == n.intValue().toDouble => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $argName must be a non-null whole-number literal, got " +
          (if (other == null) "NULL" else other.toString))
    }
  }

  private def literalIntBuilder(fn: String, argName: String)(
      ctor: (Expression, Int) => Expression): Seq[Expression] => Expression = { exprs =>
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"$fn expects 2 arguments (array<string>, $argName literal), got ${exprs.length}")
    ctor(exprs(0), evalIntLiteral(fn, argName, exprs(1)))
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "array_dot" -> (exprs => ArrayDotProduct(exprs(0), exprs(1))),
    "deflate_ratio" -> (exprs => DeflateRatio(exprs(0))),
    "interleave_bits" -> (exprs => InterleaveBits(exprs(0), exprs(1))),
    "minhash_sigs" -> literalIntBuilder("minhash_sigs", "k")(MinHashSignature.apply),
    "simhash_sig" -> (exprs => SimHashSignature(exprs(0))),
    "array_top_count" -> (exprs => ArrayTopCount(exprs(0))),
    "winnow_fps" -> literalIntBuilder("winnow_fps", "w")(WinnowFingerprints.apply),
    "ngram_hashes" -> literalIntBuilder("ngram_hashes", "n")(NgramHashes.apply),
    "token_entropy" -> (exprs => TokenEntropy(exprs(0))),
    // (array<double> col, rows literal, tables literal) — banded sign-LSH
    // bucket ids; band geometry is an index parameter fixed at analysis
    // time, never per-row data
    "lsh_buckets" -> { exprs =>
      if (exprs.length != 3)
        throw new IllegalArgumentException(
          s"lsh_buckets expects 3 arguments (array<double> col, rows literal, tables literal), got ${exprs.length}")
      LshBuckets(exprs(0),
        evalIntLiteral("lsh_buckets", "rows", exprs(1)),
        evalIntLiteral("lsh_buckets", "tables", exprs(2)))
    },
    "topk_freq" -> { exprs =>
      if (exprs.length != 3)
        throw new IllegalArgumentException(
          s"topk_freq expects 3 arguments (string col, capacity literal, k literal), got ${exprs.length}")
      FrequentItemsSketch(exprs(0),
        evalIntLiteral("topk_freq", "capacity", exprs(1)),
        evalIntLiteral("topk_freq", "k", exprs(2)))
    },
    // (id string col, seed string literal, b int literal) — the Poisson
    // bootstrap's per-row replicate weight vector; seed and b are draw
    // parameters fixed at analysis time, never per-row data
    "bootstrap_weights" -> { exprs =>
      if (exprs.length != 3)
        throw new IllegalArgumentException(
          s"bootstrap_weights expects 3 arguments (string col, seed literal, b literal), got ${exprs.length}")
      if (!exprs(1).foldable)
        throw new IllegalArgumentException(
          "bootstrap_weights: seed must be a foldable string literal")
      val seed = exprs(1).eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => throw new IllegalArgumentException(
          "bootstrap_weights: seed must be a non-null string literal, got " +
            (if (other == null) "NULL" else other.toString))
      }
      BootstrapWeights(exprs(0), seed,
        evalIntLiteral("bootstrap_weights", "b", exprs(2)))
    },
    // (array<double> emb, double norm, 2D centroid array literal) — the
    // trained quantizer is index data fixed at analysis time
    "ivf_assign" -> { exprs =>
      if (exprs.length != 3)
        throw new IllegalArgumentException(
          s"ivf_assign expects 3 arguments (emb, norm, centroid-matrix literal), got ${exprs.length}")
      if (!exprs(2).foldable)
        throw new IllegalArgumentException(
          "ivf_assign: centroids must be a foldable array<array<double>> literal")
      val cents = exprs(2).eval() match {
        case a: ArrayData =>
          (0 until a.numElements()).map(i => a.getArray(i).toDoubleArray().toSeq)
        case other => throw new IllegalArgumentException(
          s"ivf_assign: centroids must evaluate to array<array<double>>, got $other")
      }
      IvfAssign(exprs(0), exprs(1), cents)
    },
    // (array<double> emb, double norm, 3D codebook array literal)
    "pq_encode" -> { exprs =>
      if (exprs.length != 3)
        throw new IllegalArgumentException(
          s"pq_encode expects 3 arguments (emb, norm, codebook literal), got ${exprs.length}")
      if (!exprs(2).foldable)
        throw new IllegalArgumentException(
          "pq_encode: codebooks must be a foldable array<array<array<double>>> literal")
      val books = exprs(2).eval() match {
        case a: ArrayData =>
          (0 until a.numElements()).map { mm =>
            val sub = a.getArray(mm)
            (0 until sub.numElements()).map(i => sub.getArray(i).toDoubleArray().toSeq)
          }
        case other => throw new IllegalArgumentException(
          s"pq_encode: codebooks must evaluate to a 3-level double array, got $other")
      }
      PqEncode(exprs(0), exprs(1), books)
    },
    // Spark's own runtime-filter probe expression (codegen-resident,
    // deserializes the sketch once per codegen instance), surfaced as a
    // callable function: Spark 4.1 keeps BloomFilterMightContain internal
    // (only the aggregate side, bloom_filter_agg, is in the registry).
    // Value side must be xxhash64(col) — the sketch stores longs.
    "bloom_might_contain" -> (exprs =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))),
    // (text, array<string> literal of "left right" merge pairs in rank
    // order) — the merge table is model data evaluated at analysis time,
    // never a per-row argument
    "bpe_encode" -> { exprs =>
      if (exprs.length != 2)
        throw new IllegalArgumentException(
          s"bpe_encode expects 2 arguments (string col, merge-pair array literal), got ${exprs.length}")
      if (!exprs(1).foldable)
        throw new IllegalArgumentException(
          "bpe_encode: merges must be a foldable array<string> literal")
      val merges = exprs(1).eval() match {
        case a: ArrayData =>
          (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
        case other => throw new IllegalArgumentException(
          s"bpe_encode: merges must evaluate to array<string>, got $other")
      }
      BpeEncode(exprs(0), merges)
    })

  /** Register every function the session does not hold yet. Operators
    * call this on each construction; re-registering a held name would
    * only replace it with the same builder (and log a WARN each time). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private val classNames = Map(
    "array_dot" -> classOf[ArrayDotProduct].getName,
    "deflate_ratio" -> classOf[DeflateRatio].getName,
    "interleave_bits" -> classOf[InterleaveBits].getName,
    "minhash_sigs" -> classOf[MinHashSignature].getName,
    "simhash_sig" -> classOf[SimHashSignature].getName,
    "array_top_count" -> classOf[ArrayTopCount].getName,
    "winnow_fps" -> classOf[WinnowFingerprints].getName,
    "ngram_hashes" -> classOf[NgramHashes].getName,
    "token_entropy" -> classOf[TokenEntropy].getName,
    "lsh_buckets" -> classOf[LshBuckets].getName,
    "ivf_assign" -> classOf[IvfAssign].getName,
    "pq_encode" -> classOf[PqEncode].getName,
    "topk_freq" -> classOf[FrequentItemsSketch].getName,
    "bloom_might_contain" ->
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
    "bpe_encode" -> classOf[BpeEncode].getName,
    "bootstrap_weights" -> classOf[BootstrapWeights].getName)

  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classNames(name), name),
        builder))
    }
}
