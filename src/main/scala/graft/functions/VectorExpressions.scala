package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native vector expressions (SURVEY §4 "back pocket" extension point,
  * now warranted by measurement): the higher-order-function formulation
  * (`aggregate(zip_with(a,b,*),…)`) is CodegenFallback — every element
  * goes through an interpreted lambda call, and cosine needs three such
  * passes. These expressions generate a single fused Java loop inside
  * whole-stage codegen. Semantics match the HOF/DuckDB formulation
  * exactly: sequential left-to-right double accumulation.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs MUST be array<double> (AbstractDataType is private[sql], so
  // no ExpectsInputTypes; all call sites cast explicitly)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
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

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** cos(a,b) = dot/(||a||·||b||) in ONE loop: dot, |a|², |b|² accumulate
  * together — a third of the passes and no lambda dispatch. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs MUST be array<double> (AbstractDataType is private[sql], so
  // no ExpectsInputTypes; all call sites cast explicitly)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** ||a||₂ in one codegen'd loop. */
case class L2Norm(child: Expression)
    extends UnaryExpression {
  // input MUST be array<double> (see note on DotProduct)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) {
      val xi = x.getDouble(i); s += xi * xi; i += 1
    }
    math.sqrt(s)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val xi = ctx.freshName("xi")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $xi = $a.getDouble($i); $s += $xi * $xi;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** SimHash bit vector from token hashes in ONE native pass: vote on all
  * 64 bit positions per hash, then threshold. The HOF formulation is a
  * 64-way nested interpreted aggregate — O(64n) lambda dispatches; this
  * is the same O(64n) arithmetic in a fused codegen loop. */
case class SimhashBits(child: Expression) extends UnaryExpression {
  // input MUST be array<long> (token hashes); output: 64 0/1 longs
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_simhash_bits"

  override def nullSafeEval(a: Any): Any = {
    val hs = a.asInstanceOf[ArrayData]
    val votes = new Array[Long](64)
    var i = 0
    while (i < hs.numElements()) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 64) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L); b += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      votes.map(v => if (v > 0) 1L else 0L))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val votes = ctx.freshName("votes")
      val bits = ctx.freshName("bits")
      s"""
         |long[] $votes = new long[64];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    $votes[$b] += ((($h >>> $b) & 1L) == 1L) ? 1L : -1L;
         |  }
         |}
         |long[] $bits = new long[64];
         |for (int $b = 0; $b < 64; $b++) $bits[$b] = $votes[$b] > 0 ? 1L : 0L;
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($bits);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimhashBits =
    copy(child = newChild)
}

/** 8-permutation MinHash signature from a shingle-hash array in one
  * native pass — map-side, no shingle explode + shuffle (the explode
  * formulation ships |corpus|×|shingles| rows through a groupBy at
  * 100 TB). Each permutation is a splitmix64 finalizer over the shingle
  * hash xor a fixed odd seed; min per permutation. */
case class MinHashSignature(child: Expression) extends UnaryExpression {
  // input MUST be array<long> (shingle hashes); output: 8 longs
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_minhash8"

  override def nullSafeEval(a: Any): Any = {
    val hs = a.asInstanceOf[ArrayData]
    val sig = Array.fill(8)(Long.MaxValue)
    var i = 0
    while (i < hs.numElements()) {
      val h = hs.getLong(i)
      var k = 0
      while (k < 8) {
        var z = h ^ MinHashSignature.seeds(k)
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        if (z < sig(k)) sig(k) = z
        k += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val z = ctx.freshName("z")
      val sig = ctx.freshName("sig")
      val seeds = ctx.freshName("seeds")
      s"""
         |long[] $sig = new long[8];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |long[] $seeds = graft.functions.MinHashSignature.javaSeeds();
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $k = 0; $k < 8; $k++) {
         |    long $z = $h ^ $seeds[$k];
         |    $z = ($z ^ ($z >>> 30)) * 0xbf58476d1ce4e5b9L;
         |    $z = ($z ^ ($z >>> 27)) * 0x94d049bb133111ebL;
         |    $z = $z ^ ($z >>> 31);
         |    if ($z < $sig[$k]) $sig[$k] = $z;
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSignature = copy(child = newChild)
}

object MinHashSignature {
  val seeds: Array[Long] = Array(
    0x9e3779b97f4a7c15L, 0xc2b2ae3d27d4eb4fL, 0x165667b19e3779f9L,
    0xd6e8feb86659fd93L, 0xa5a5a5a5a5a5a5a5L, 0x27d4eb2f165667c5L,
    0x85ebca6b27d4eb4fL, 0x2545f4914f6cdd1dL)
  // codegen helper (generated Java can't read the Scala val directly)
  def javaSeeds(): Array[Long] = seeds
}

/** |A ∩ B| for two SORTED ascending array<long> (e.g. hashed shingle
  * sets) via a merge scan: O(n+m) primitive comparisons, no per-pair
  * hash-set allocation like array_intersect. The workhorse of blocked
  * pairwise Jaccard. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs MUST be sorted array<long>
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0
    var j = 0
    var c = 0
    while (i < x.numElements() && j < y.numElements()) {
      val xi = x.getLong(i)
      val yj = y.getLong(j)
      if (xi == yj) { c += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xi = $a.getLong($i);
         |  long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $c++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Registration: production path is
  * `spark.sql.extensions=graft.functions.GraftExtensions`; sessions the
  * driver builds without that config call `VectorFunctions.register`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    VectorFunctions.inject(e)
}

object VectorFunctions {
  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => DotProduct(es.head, es(1))),
    "graft_cosine" -> (es => CosineSimilarity(es.head, es(1))),
    "graft_l2norm" -> (es => L2Norm(es.head)),
    "graft_simhash_bits" -> (es => SimhashBits(es.head)),
    "graft_sorted_intersect_count" ->
      (es => SortedIntersectCount(es.head, es(1))),
    "graft_minhash8" -> (es => MinHashSignature(es.head)),
    "graft_shingle_hashes3" -> (es => ShingleHashes3(es.head)),
    "graft_token_hashes" -> (es => TokenHashes(es.head)),
    "graft_rolling_fp8" -> (es => RollingFp8(es.head)),
    "graft_bpe_tokens" -> (es => BpeTokens(es.head)))

  def inject(e: SparkSessionExtensions): Unit = fns.foreach { case (n, b) =>
    e.injectFunction((FunctionIdentifier(n),
      new ExpressionInfo(classOf[DotProduct].getName, n), b))
  }

  /** Idempotent per-session registration for driver-built sessions:
    * adds only the functions the session's registry lacks, so a session
    * built with [[GraftExtensions]] (or registered before) is left as
    * it is — replacing logs one WARN per function on every call. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    fns.foreach { case (n, b) =>
      if (!reg.functionExists(FunctionIdentifier(n)))
        reg.createOrReplaceTempFunction(n, b, "built-in")
    }
  }

  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark); call_function("graft_dot", a, b)
  }
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark); call_function("graft_cosine", a, b)
  }
  def l2norm(spark: SparkSession, a: Column): Column = {
    register(spark); call_function("graft_l2norm", a)
  }
  def simhashBits(spark: SparkSession, hashes: Column): Column = {
    register(spark); call_function("graft_simhash_bits", hashes)
  }
  def sortedIntersectCount(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark); call_function("graft_sorted_intersect_count", a, b)
  }
  def minhash8(spark: SparkSession, hashes: Column): Column = {
    register(spark); call_function("graft_minhash8", hashes)
  }
  def shingleHashes3(spark: SparkSession, text: Column): Column = {
    register(spark); call_function("graft_shingle_hashes3", text)
  }
  def tokenHashes(spark: SparkSession, text: Column): Column = {
    register(spark); call_function("graft_token_hashes", text)
  }
  def rollingFp8(spark: SparkSession, text: Column): Column = {
    register(spark); call_function("graft_rolling_fp8", text)
  }
  def bpeTokens(spark: SparkSession, text: Column): Column = {
    register(spark); call_function("graft_bpe_tokens", text)
  }
}
