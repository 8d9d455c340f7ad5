package graft.functions.expressions

import org.apache.spark.sql.{Column, GraftExprBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector kernels (SURVEY.md §4:
  * "promote cosine to codegen Expression") — the hot path of the kNN /
  * near-dup operators (reference semantics: cosine metric,
  * /root/reference/AI.py:52). Unlike the higher-order-function
  * formulation, these run a primitive float loop per row with no
  * per-element boxing, and `DotF`/`CosineF` generate Java directly into
  * whole-stage codegen.
  *
  * All math is double-precision with strict left-to-right accumulation —
  * bit-identical to the DuckDB oracle formulation.
  */
object VectorExpressions {

  private def col(e: Expression): Column = GraftExprBridge.column(e)
  private def ex(c: Column): Expression = GraftExprBridge.expression(c)

  /** dot(a, b) over array<float> (double accumulate). */
  def dot_f(a: Column, b: Column): Column = col(DotF(ex(a), ex(b)))

  /** cosine(a, b) with 0.0 for zero-norm inputs. */
  def cosine_f(a: Column, b: Column): Column = col(CosineF(ex(a), ex(b)))

  /** l2 norm of array<float>. */
  def norm_f(a: Column): Column = col(NormF(ex(a)))

  /** Random-hyperplane LSH: sign-bit bucket per hash table, all tables in
    * one pass. Returns array<long> of length `tables`.
    */
  def lsh_buckets(vec: Column, tables: Int, bits: Int): Column =
    col(LshBucketsF(ex(vec), tables, bits))

  /** Multi-probe variant: per table, the main bucket followed by the
    * `probes - 1` buckets reached by flipping the lowest-|margin| bits.
    * Returns array<long> of length `tables * probes`; element `p` of
    * table `t` is at index `t * probes + p` (so `table = pos / probes`
    * after posexplode). probes=1 is bit-identical to `lsh_buckets`.
    */
  def lsh_buckets_probe(vec: Column, tables: Int, bits: Int, probes: Int): Column =
    col(LshBucketsProbeF(ex(vec), tables, bits, probes))

  /** max |x_i| of a float/double array (0.0 for an empty array). */
  def max_abs(vec: Column): Column = col(MaxAbsF(ex(vec)))

  /** σ(w·x + b) against a driver-held model array — the logistic
    * scoring kernel of the trained-quality-classifier GD loop. The
    * model rides as codegen REFERENCE OBJECTS, not literals: a literal
    * weight array changes the generated code every iteration (dim
    * inlined floats), forcing a Janino recompile per GD step — measured
    * as the dominant cost of q127's 20-iteration loop.
    */
  def logistic_prob(vec: Column, weights: Array[Float], bias: Double): Column =
    col(LogisticProbF(ex(vec), weights, bias))

  /** A double model constant as a codegen REFERENCE OBJECT, not a
    * literal: a literal is inlined into the generated Java, so every new
    * value (a corpus statistic after each upsert, a bias after each GD
    * step) re-keys the codegen cache and recompiles the stage. Never
    * constant-folded (it would turn back into a literal); evaluates to
    * exactly `value`.
    */
  def double_ref(value: Double): Column = col(DoubleRefF(value))

  /** Id of the max-cosine centroid for `vec`: row j of `centroids` (a
    * k×dim flat array, k = ids.length) is centroid `ids(j)`. Ties keep
    * the LOWEST row, so with rows sorted by id this is exactly the
    * `max_by(centroid_id, struct(csim, -centroid_id))` assignment rule,
    * with the cosine accumulated in the same order as [[CosineF]] — the
    * scores (and therefore the argmax) are bit-identical to a crossJoin
    * of [[cosine_f]] against the centroid relation. `idType` is the
    * centroid id column's type (int or bigint).
    */
  def nearest_centroid_cos(vec: Column, centroids: Array[Double],
      ids: Array[Long], idType: DataType): Column =
    col(NearestCentroidCosF(ex(vec), centroids, ids, idType))

  /** Symmetric per-vector int8 quantization codes: round(x_i · 127 /
    * max|x|) packed as BINARY (one byte per component; all-zero input →
    * all-zero codes). Dequantize with scale = max|x| / 127.
    */
  def quantize_i8(vec: Column): Column = col(QuantizeI8F(ex(vec)))

  /** Integer dot product of two int8 code arrays (binary), exact long
    * accumulate — the SQ8 scan kernel (4 B → 1 B per component vs
    * float32, and the inner loop is byte loads + int multiplies).
    */
  def dot_i8(a: Column, b: Column): Column = col(DotI8F(ex(a), ex(b)))

  /** Binary (1-bit) quantization codes: sign bit per component
    * (bit = 1 iff x_i > 0), packed LSB-first into ⌈n/8⌉ bytes of
    * BINARY — 32× smaller than float32 at rest and in shuffle.
    */
  def sign_pack(vec: Column): Column = col(SignPackF(ex(vec)))

  /** Hamming distance between two sign-packed code blobs (popcount of
    * the XOR) — the binary-quantization scan kernel.
    */
  def hamming(a: Column, b: Column): Column = col(HammingF(ex(a), ex(b)))

  /** y = M·x for a fixed row-major matrix literal (rotation kernel). */
  def mat_vec(vec: Column, mat: Array[Double], cols: Int): Column =
    col(MatVecF(ex(vec), mat, cols))

  /** Tile a base vector reps× with md5-uniform jitter (the q162
    * high-dim fixture builder — see [[TileJitterF]]). */
  def tile_jitter(id: Column, vec: Column, reps: Int, sigma: Double): Column =
    col(TileJitterF(ex(id), ex(vec), reps, sigma))
}

private object VecKernels {
  /** element accessor that tolerates float or double arrays */
  def getter(e: Expression): (ArrayData, Int) => Double = e.dataType match {
    case ArrayType(DoubleType, _) => (a, i) => a.getDouble(i)
    case _ => (a, i) => a.getFloat(i).toDouble
  }
  /** java accessor expression for codegen */
  def jGet(e: Expression, arr: String, i: String): String = e.dataType match {
    case ArrayType(DoubleType, _) => s"$arr.getDouble($i)"
    case _ => s"(double) $arr.getFloat($i)"
  }
}

case class DotF(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val gx = VecKernels.getter(left); val gy = VecKernels.getter(right)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += gx(x, i) * gy(y, i); i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc += ${VecKernels.jGet(left, a, i)} * ${VecKernels.jGet(right, b, i)};
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class NormF(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val g = VecKernels.getter(child)
    var s = 0.0; var i = 0
    val n = x.numElements()
    while (i < n) { val v = g(x, i); s += v * v; i += 1 }
    math.sqrt(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double ${ev.value}_acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = ${VecKernels.jGet(child, a, i)};
         |  ${ev.value}_acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt(${ev.value}_acc);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All-tables random-hyperplane LSH buckets in one pass. Hyperplane
  * component for (table, bit, dim) is a deterministic hash mapped into
  * [-1, 1) — reproducible across runs/partitions with no stored model
  * (hash chain identical to built-in xxhash64(table, bit, dim)).
  */
case class LshBucketsF(child: Expression, tables: Int, bits: Int)
    extends UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(in: Any): Any = {
    val v = in.asInstanceOf[ArrayData]
    val g = VecKernels.getter(child)
    val n = v.numElements()
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      val ht = XXH64.hashInt(t, 42L)
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val hb = XXH64.hashInt(b, ht)
        var proj = 0.0
        var i = 0
        while (i < n) {
          val h = XXH64.hashInt(i, hb)
          proj += g(v, i) * (h.toDouble / Long.MaxValue.toDouble)
          i += 1
        }
        if (proj >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Multi-probe LSH buckets: same hyperplane hash chain as `LshBucketsF`
  * (buckets align across the two expressions), but each table emits the
  * main bucket plus `probes - 1` perturbed buckets — bit-flip sets in
  * increasing sum-of-squared-margin order (Qin et al., "Multi-Probe LSH",
  * VLDB'07: the buckets a near neighbor most likely fell into are the
  * ones across this vector's narrowest hyperplane margins). Applied to
  * the query side only, this multiplies bucket coverage without growing
  * the index. The perturbation-set sequence is generated with the
  * standard shift/expand heap, so probes may exceed bits (multi-bit
  * flips follow single-bit ones as their total margin cost dictates).
  */
case class LshBucketsProbeF(child: Expression, tables: Int, bits: Int, probes: Int)
    extends UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  require(probes >= 1, s"probes must be >= 1, got $probes")
  require(probes <= (1 << math.min(bits, 20)),
    s"probes must be <= 2^bits, got $probes for $bits bits")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(in: Any): Any = {
    val v = in.asInstanceOf[ArrayData]
    val g = VecKernels.getter(child)
    val n = v.numElements()
    val out = new Array[Long](tables * probes)
    var t = 0
    while (t < tables) {
      val ht = XXH64.hashInt(t, 42L)
      val projs = new Array[Double](bits)
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val hb = XXH64.hashInt(b, ht)
        var proj = 0.0
        var i = 0
        while (i < n) {
          val h = XXH64.hashInt(i, hb)
          proj += g(v, i) * (h.toDouble / Long.MaxValue.toDouble)
          i += 1
        }
        projs(b) = proj
        if (proj >= 0) bucket |= (1L << b)
        b += 1
      }
      // bits ranked by |margin| asc; mask(set of ranks) → real bit-flip mask
      val order = Array.tabulate(bits)(identity)
        .sortBy(i => (math.abs(projs(i)), i))
      val cost = order.map(i => projs(i) * projs(i))
      out(t * probes) = bucket
      if (probes > 1) {
        // heap of perturbation sets over rank indices, ordered by total
        // squared margin; shift = bump the max rank, expand = append next
        val pq = collection.mutable.PriorityQueue.empty[(Double, List[Int])](
          Ordering.by[(Double, List[Int]), Double](_._1).reverse)
        pq.enqueue((cost(0), List(0)))
        var p = 1
        while (p < probes && pq.nonEmpty) {
          val (c, set) = pq.dequeue()
          var mask = 0L
          set.foreach(r => mask |= (1L << order(r)))
          out(t * probes + p) = bucket ^ mask
          p += 1
          val maxRank = set.head // sets kept max-first
          if (maxRank + 1 < bits) {
            pq.enqueue((c - cost(maxRank) + cost(maxRank + 1),
              (maxRank + 1) :: set.tail)) // shift
            pq.enqueue((c + cost(maxRank + 1),
              (maxRank + 1) :: set)) // expand
          }
        }
        // fewer reachable sets than probes (tiny bits): pad with the main
        // bucket so the output length stays tables * probes (dedup later)
        while (p < probes) { out(t * probes + p) = bucket; p += 1 }
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass cosine: dot and both norms in one loop. */
case class CosineF(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val gx = VecKernels.getter(left); val gy = VecKernels.getter(right)
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = gx(x, i)
      val yv = gy(y, i)
      d += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else d / denom
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val den = ctx.freshName("den")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = ${VecKernels.jGet(left, a, i)};
         |  double $yv = ${VecKernels.jGet(right, b, i)};
         |  $d += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($den == 0.0) ? 0.0 : $d / $den;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Logistic probability against reference-object model parameters —
  * bit-identical to `1/(1+exp(-(dot_f(x, array(w:_*)) + b)))` with the
  * weights cast to float first (the training loop's convention), but
  * with generated code that is BYTE-IDENTICAL across iterations so the
  * codegen cache hits after the first GD step.
  */
case class LogisticProbF(child: Expression, weights: Array[Float],
    bias: Double)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val g = VecKernels.getter(child)
    val n = math.min(x.numElements(), weights.length)
    var d = 0.0
    var i = 0
    while (i < n) { d += g(x, i) * weights(i).toDouble; i += 1 }
    1.0 / (1.0 + math.exp(-(d + bias)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val w = ctx.addReferenceObj("weights", weights, "float[]")
      // bias via a one-element reference array: a double literal in the
      // source would re-key the codegen cache every iteration
      val bArr = ctx.addReferenceObj("bias", Array(bias), "double[]")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $w.length);
         |double $d = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $d += ${VecKernels.jGet(child, a, i)} * (double) $w[$i];
         |}
         |${ev.value} = 1.0 / (1.0 + java.lang.Math.exp(-($d + $bArr[0])));
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** A double constant held as a reference object (see
  * [[VectorExpressions.double_ref]]) — the one-element-array idiom of
  * [[LogisticProbF]]'s bias.
  */
case class DoubleRefF(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("value", Array(value), "double[]")
    ev.copy(code = code"final double ${ev.value} = $ref[0];",
      isNull = FalseLiteral)
  }
}

/** argmax-cosine centroid assignment against a k-bounded model — the
  * Lloyd-training and inverted-list placement kernel. The centroid
  * array and the row → id map ride as reference objects (the
  * [[graft.functions.expressions.PqExpressions]] codebook discipline),
  * and k and dim are read off them, so the generated source does not
  * depend on the model: the codegen cache hits across Lloyd rounds,
  * builds and upserts.
  */
case class NearestCentroidCosF(child: Expression, centroids: Array[Double],
    ids: Array[Long], dataType: DataType)
    extends UnaryExpression {
  private val k = ids.length
  require(k >= 1 && centroids.length % k == 0 && centroids.nonEmpty,
    s"centroids length ${centroids.length} is not a positive multiple of k=$k")
  require(dataType == IntegerType || dataType == LongType,
    s"centroid ids must be int or bigint, got $dataType")
  private val dim = centroids.length / k

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val g = VecKernels.getter(child)
    val n = math.min(x.numElements(), dim)
    var bestJ = 0
    var bestS = Double.NegativeInfinity
    var j = 0
    while (j < k) {
      val base = j * dim
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = g(x, i)
        val yv = centroids(base + i)
        d += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      val s = if (denom == 0.0) 0.0 else d / denom
      if (s > bestS) { bestS = s; bestJ = j } // strict > keeps lowest row on ties
      j += 1
    }
    if (dataType == IntegerType) ids(bestJ).toInt else ids(bestJ)
  }

  // codegen'd k·dim loop: the assignment scans the WHOLE index (every
  // Lloyd round, every list build), so an interpreted kernel would put
  // a 10×+ constant on the hottest pass
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cents = ctx.addReferenceObj("centroids", centroids, "double[]")
      val idArr = ctx.addReferenceObj("ids", ids, "long[]")
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val base = ctx.freshName("base")
      val d = ctx.freshName("d")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val den = ctx.freshName("den")
      val s = ctx.freshName("s")
      val bestJ = ctx.freshName("bestJ")
      val bestS = ctx.freshName("bestS")
      val dm = ctx.freshName("dim")
      val jt = CodeGenerator.javaType(dataType)
      s"""
         |int $dm = $cents.length / $idArr.length;
         |int $n = java.lang.Math.min($a.numElements(), $dm);
         |int $bestJ = 0;
         |double $bestS = java.lang.Double.NEGATIVE_INFINITY;
         |for (int $j = 0; $j < $idArr.length; $j++) {
         |  int $base = $j * $dm;
         |  double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = ${VecKernels.jGet(child, a, i)};
         |    double $yv = $cents[$base + $i];
         |    $d += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  double $den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  double $s = ($den == 0.0) ? 0.0 : $d / $den;
         |  if ($s > $bestS) { $bestS = $s; $bestJ = $j; }
         |}
         |${ev.value} = ($jt) $idArr[$bestJ];
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class MaxAbsF(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val g = VecKernels.getter(child)
    var m = 0.0; var i = 0
    val n = x.numElements()
    while (i < n) { val v = math.abs(g(x, i)); if (v > m) m = v; i += 1 }
    m
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      val m = ctx.freshName("m")
      s"""
         |int $n = $a.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = java.lang.Math.abs(${VecKernels.jGet(child, a, i)});
         |  if ($v > $m) $m = $v;
         |}
         |${ev.value} = $m;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Symmetric int8 quantization: codes[i] = round(x_i · 127 / max|x|),
  * one byte per component, BINARY output (Tungsten-flat, 4× smaller at
  * rest and in shuffle than the float32 array). An all-zero (or empty)
  * vector quantizes to all-zero codes.
  */
case class QuantizeI8F(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val g = VecKernels.getter(child)
    val n = x.numElements()
    var m = 0.0; var i = 0
    while (i < n) { val v = math.abs(g(x, i)); if (v > m) m = v; i += 1 }
    val out = new Array[Byte](n)
    if (m > 0.0) {
      val s = m / 127.0
      i = 0
      while (i < n) { out(i) = math.round(g(x, i) / s).toByte; i += 1 }
    }
    out
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = java.lang.Math.abs(${VecKernels.jGet(child, a, i)});
         |  if ($v > $m) $m = $v;
         |}
         |byte[] $out = new byte[$n];
         |if ($m > 0.0) {
         |  double $s = $m / 127.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = (byte) java.lang.Math.round(${VecKernels.jGet(child, a, i)} / $s);
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact integer dot product of two int8 code blobs (long accumulate).
  * The 64-dim worst case is 64 · 127² ≈ 2²⁰ — int accumulate would
  * already hold, long removes the question at any dimension up to 2⁴⁹.
  *
  * Lengths must MATCH: a query/index dimension mismatch would otherwise
  * produce silently wrong approximate scores that the exact re-rank then
  * masks with a plausible-looking (but wrong-candidate-set) output, so
  * it throws instead of truncating.
  */
case class DotI8F(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) throw new IllegalArgumentException(
      s"dot_i8: code length mismatch (${x.length} vs ${y.length}) — " +
        "query and index must be quantized at the same dimension")
    val n = x.length
    var s = 0L; var i = 0
    while (i < n) { s += x(i).toLong * y(i).toLong; i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |if ($a.length != $b.length) {
         |  throw new IllegalArgumentException(
         |    "dot_i8: code length mismatch (" + $a.length + " vs " +
         |    $b.length + ") — query and index must be quantized at the " +
         |    "same dimension");
         |}
         |int $n = $a.length;
         |long ${ev.value}_acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc += (long) $a[$i] * (long) $b[$i];
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Binary (1-bit) quantization: one sign bit per component (set iff
  * x_i > 0 — zeros and negatives clear), packed LSB-first into
  * ⌈n/8⌉ bytes. The classic embedding-compression extreme (32× less
  * than float32): Hamming distance over these codes approximates
  * angular distance (Charikar's SimHash bound, public), so a Hamming
  * shortlist + exact re-rank serves cosine top-k reading 1/32 of the
  * scan bytes. An empty array packs to an empty blob.
  */
case class SignPackF(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val g = VecKernels.getter(child)
    val n = x.numElements()
    val out = new Array[Byte]((n + 7) / 8)
    var i = 0
    while (i < n) {
      if (g(x, i) > 0.0) out(i / 8) = (out(i / 8) | (1 << (i % 8))).toByte
      i += 1
    }
    out
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[($n + 7) / 8];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (${VecKernels.jGet(child, a, i)} > 0.0) {
         |    $out[$i / 8] = (byte) ($out[$i / 8] | (1 << ($i % 8)));
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming distance of two sign-packed blobs: popcount of the
  * byte-wise XOR (int — a 2³¹-bit vector is not a thing). Lengths must
  * MATCH, for the same reason [[DotI8F]] throws: a dimension mismatch
  * would silently rank on a prefix and the exact re-rank would mask
  * the wrong candidate set with plausible output.
  */
case class HammingF(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) throw new IllegalArgumentException(
      s"hamming: code length mismatch (${x.length} vs ${y.length}) — " +
        "query and index must be sign-packed at the same dimension")
    var s = 0; var i = 0
    while (i < x.length) {
      s += java.lang.Integer.bitCount((x(i) ^ y(i)) & 0xff); i += 1
    }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      s"""
         |if ($a.length != $b.length) {
         |  throw new IllegalArgumentException(
         |    "hamming: code length mismatch (" + $a.length + " vs " +
         |    $b.length + ") — query and index must be sign-packed at " +
         |    "the same dimension");
         |}
         |int ${ev.value}_acc = 0;
         |for (int $i = 0; $i < $a.length; $i++) {
         |  ${ev.value}_acc +=
         |    java.lang.Integer.bitCount(($a[$i] ^ $b[$i]) & 0xff);
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dense mat-vec y = M·x for a FIXED row-major matrix (the rotation /
  * projection kernel: M rides in the expression as a model literal —
  * the stored-codebook discipline — never as a per-row column). Input
  * float or double array of length `cols`; output array<double> of
  * length rows = mat.length / cols. Double accumulation, strict
  * left-to-right per output row. Throws on a dimension mismatch
  * (the [[DotI8F]] rationale: a silent prefix mat-vec would produce
  * plausible wrong geometry downstream).
  */
case class MatVecF(child: Expression, mat: Array[Double], cols: Int)
    extends UnaryExpression with CodegenFallback {
  require(cols >= 1 && mat.length % cols == 0,
    s"mat_vec: matrix length ${mat.length} is not a multiple of cols $cols")
  private val rows = mat.length / cols
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(in: Any): Any = {
    val x = in.asInstanceOf[ArrayData]
    val g = VecKernels.getter(child)
    if (x.numElements() != cols) throw new IllegalArgumentException(
      s"mat_vec: vector length ${x.numElements()} != cols $cols")
    val out = new Array[Double](rows)
    var r = 0
    while (r < rows) {
      var s = 0.0
      var c = 0
      val base = r * cols
      while (c < cols) { s += mat(base + c) * g(x, c); c += 1 }
      out(r) = s
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The q162 1536-dim fixture builder as ONE per-row kernel: tile the
  * base vector `reps`×, add `sigma`·rms·u(i) jitter where u(i) is the
  * engine-portable md5-52bit uniform of "id:i" (1-based component i),
  * emit float32 — value-identical to the composed
  * `transform`/`md5`/`conv` column formulation (the DuckDB oracle
  * replays THAT formula digit for digit; this kernel exists because
  * 1536 interpreted HOF hash-chain evaluations per row made the
  * construction cost ~6× the search it feeds — the winnowing lesson).
  */
case class TileJitterF(id: Expression, vec: Expression, reps: Int,
    sigma: Double) extends BinaryExpression with CodegenFallback {
  override def left: Expression = id
  override def right: Expression = vec
  require(reps >= 1, s"reps must be >= 1: $reps")
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullSafeEval(idv: Any, vecv: Any): Any = {
    val vid = idv.asInstanceOf[Long]
    val x = vecv.asInstanceOf[ArrayData]
    val g = VecKernels.getter(vec)
    val d = x.numElements()
    var ss = 0.0
    var i = 0
    while (i < d) { val v = g(x, i); ss += v * v; i += 1 }
    val s = sigma * math.sqrt(ss / d)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Float](reps * d)
    i = 0
    while (i < reps * d) {
      val i1 = i + 1
      md.reset()
      val dig = md.digest(s"$vid:$i1".getBytes(
        java.nio.charset.StandardCharsets.US_ASCII))
      var hv = 0L
      var b = 0
      while (b < 7) { hv = (hv << 8) | (dig(b) & 0xffL); b += 1 }
      hv >>>= 4
      val u = hv.toDouble / 4503599627370496.0 - 0.5
      out(i) = (g(x, i % d) + s * u).toFloat
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(id = newLeft, vec = newRight)
}
