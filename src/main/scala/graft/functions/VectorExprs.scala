package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the embedding kernels.
 *
 * The composable `zip_with`/`aggregate` higher-order functions are
 * interpreted per element and allocate an intermediate array per row —
 * at 4M candidate pairs × 64 dims (sf0.1 `sim_topk`) that cost
 * dominated the whole benchmark (36 s). These expressions evaluate the
 * same arithmetic — double accumulation, left-to-right, identical to
 * the DuckDB oracle's `list_dot_product` — as one fused loop with zero
 * allocation, with `doGenCode` so the loop inlines into whole-stage
 * codegen. Measured ~10× on the ANN queries.
 *
 * Both float and double element types are supported; elements are
 * widened to double before any arithmetic (exact), so results are
 * bit-identical to the HOF versions they replace.
 */
object VectorExprs {

  private[functions] def elemType(dt: DataType): DataType = dt match {
    case ArrayType(et @ (FloatType | DoubleType), _) => et
    case other => throw new IllegalArgumentException(
      s"expected array<float|double>, got $other")
  }

  /** Read element i as double (caller has checked element nullability). */
  @inline private[functions] def getD(a: ArrayData, et: DataType, i: Int): Double =
    et match {
      case FloatType => a.getFloat(i).toDouble
      case _         => a.getDouble(i)
    }

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Deterministic near-Gaussian LSH hyperplane component for
    * (seed, table, bit, dim index): 4 splitmix64-derived uniforms in
    * [-0.5, 0.5), summed. The SINGLE source of truth for hyperplane
    * weights — [[LshSignatures]] materializes planes from it per
    * executor, and the DuckDB oracle generator embeds the same values
    * as SQL literals, so the LSH bucketing is cross-engine-exact.
    * (t, b, d, j) pack into DISJOINT bit fields of the splitmix64
    * input — j: bits 0-1, d: 2-25 (≤16M dims), b: 26-31, t: 32-43,
    * seed: 44-63 — so no two (bit, dim) indices ever share a key. */
  def lshPlaneComponent(seed: Int, t: Int, b: Int, d: Int): Double = {
    var acc = 0.0
    var j = 0
    while (j < 4) {
      val key = (seed.toLong << 44) | (t.toLong << 32) | (b.toLong << 26) |
        (d.toLong << 2) | j
      acc += splitmix64(key).toDouble / 1.8446744073709552e19 // / 2^64 → [-0.5, 0.5)
      j += 1
    }
    acc
  }

  /** Σ aᵢ·bᵢ, double, left-to-right; null if any touched element is null. */
  case class VecDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    private lazy val etL = elemType(left.dataType)
    private lazy val etR = elemType(right.dataType)

    override def nullSafeEval(l: Any, r: Any): Any = {
      val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        acc += getD(a, etL, i) * getD(b, etR, i)
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      def get(arr: String, et: DataType, i: String) = et match {
        case FloatType => s"(double) $arr.getFloat($i)"
        case _         => s"$arr.getDouble($i)"
      }
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  $acc += ${get(a, etL, i)} * ${get(b, etR, i)};
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** ‖a‖₂: sqrt of left-to-right Σ aᵢ², double. */
  case class VecNorm(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    private lazy val et = elemType(child.dataType)

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      var acc = 0.0
      var i = 0
      val n = a.numElements()
      while (i < n) {
        if (a.isNullAt(i)) return null
        val x = getD(a, et, i)
        acc += x * x
        i += 1
      }
      math.sqrt(acc)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val get = et match {
        case FloatType => (arr: String, i: String) => s"(double) $arr.getFloat($i)"
        case _         => (arr: String, i: String) => s"$arr.getDouble($i)"
      }
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val x = ctx.freshName("x")
        s"""
           |int $n = $a.numElements();
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  double $x = ${get(a, i)};
           |  $acc += $x * $x;
           |}
           |${ev.value} = java.lang.Math.sqrt($acc);
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /**
   * All `tables` b-bit random-hyperplane signatures of a vector in ONE
   * pass: array<long> of length `tables`. Hyperplane components are
   * near-Gaussian (sum of 4 splitmix64-derived uniforms), derived
   * deterministically from (seed, table, bit, dim) — identical planes
   * on every executor, no broadcast state. Planes are materialized
   * once per executor/dim (transient cache), so per-row cost is a pure
   * fused multiply-add loop: tables × bits × dim flops.
   *
   * Replaces a Column tree of tables×bits `aggregate(zip_with(...))`
   * HOF folds (each hashing per element per row) — measured >5× on
   * `sim_lsh`. CodegenFallback: the loop already runs on primitive
   * arrays; per-row interpretation overhead is one virtual call.
   */
  case class LshSignatures(child: Expression, tables: Int, bits: Int, seed: Int)
      extends UnaryExpression with CodegenFallback {
    require(bits <= 63, "bits must fit a long")
    require(tables <= 4096, "tables must fit the 12-bit field of the plane key")
    require(seed >= 0 && seed < (1 << 20),
      "seed must fit the 20-bit field of the plane key (0 <= seed < 2^20); " +
        "seeds differing only above bit 19 would silently generate identical hyperplanes")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    private lazy val et = elemType(child.dataType)

    @transient private var planeCache: Array[Double] = _ // [(t*bits+b)*dim + d]
    @transient private var planeDim: Int = -1

    private def planes(dim: Int): Array[Double] = {
      require(dim <= (1 << 24), "dim must fit the 24-bit field of the plane key")
      if (planeDim != dim) {
        val p = new Array[Double](tables * bits * dim)
        var t = 0
        while (t < tables) {
          var b = 0
          while (b < bits) {
            var d = 0
            while (d < dim) {
              p((t * bits + b) * dim + d) = lshPlaneComponent(seed, t, b, d)
              d += 1
            }
            b += 1
          }
          t += 1
        }
        planeCache = p
        planeDim = dim
      }
      planeCache
    }

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val dim = a.numElements()
      val vec = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        if (a.isNullAt(i)) return null
        vec(i) = getD(a, et, i)
        i += 1
      }
      val p = planes(dim)
      val out = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var sig = 0L
        var b = 0
        while (b < bits) {
          val off = (t * bits + b) * dim
          var proj = 0.0
          var d = 0
          while (d < dim) {
            proj += vec(d) * p(off + d)
            d += 1
          }
          if (proj >= 0) sig |= (1L << b)
          b += 1
        }
        out(t) = sig
        t += 1
      }
      ArrayData.toArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /**
   * IDs of the `nprobe` nearest centroids (squared-L2) to the
   * L2-NORMALIZED vector, nearest first — the IVF assignment/probe
   * kernel. The input vector is unit-normalized before distance (and
   * the codebook is trained on unit vectors — spherical k-means), so
   * cell geometry agrees with the cosine ranking IVF serves:
   * ‖u−c‖² = 2 − 2·cos(u, c) on unit vectors. Centroids ride along
   * as expression state (serialized once per task, not per row; an
   * IVF list count is small — hundreds to low thousands — so this
   * beats a broadcast-join formulation that would shuffle the data
   * side). Ties break toward the lower centroid id.
   */
  case class NearestCentroids(child: Expression, centroids: Array[Array[Double]],
                              nprobe: Int)
      extends UnaryExpression with CodegenFallback {
    require(centroids.nonEmpty && nprobe >= 1)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    private lazy val et = elemType(child.dataType)

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val dim = math.min(a.numElements(), centroids(0).length)
      val vec = new Array[Double](dim)
      var i = 0
      var sq = 0.0
      while (i < dim) {
        if (a.isNullAt(i)) return null
        vec(i) = getD(a, et, i)
        sq += vec(i) * vec(i)
        i += 1
      }
      if (sq > 0) {
        val inv = 1.0 / math.sqrt(sq)
        var j = 0
        while (j < dim) { vec(j) *= inv; j += 1 }
      }
      val p = math.min(nprobe, centroids.length)
      val bestIds = new Array[Int](p)
      val bestD = new Array[Double](p)
      java.util.Arrays.fill(bestD, Double.MaxValue)
      var c = 0
      while (c < centroids.length) {
        val cen = centroids(c)
        var d2 = 0.0
        var j = 0
        while (j < dim) {
          val diff = vec(j) - cen(j)
          d2 += diff * diff
          j += 1
        }
        // insertion into the small top-p list (p is tiny)
        if (d2 < bestD(p - 1)) {
          var pos = p - 1
          while (pos > 0 && bestD(pos - 1) > d2) {
            bestD(pos) = bestD(pos - 1); bestIds(pos) = bestIds(pos - 1); pos -= 1
          }
          bestD(pos) = d2; bestIds(pos) = c
        }
        c += 1
      }
      ArrayData.toArrayData(bestIds)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Static merge-walk kernels for the intersect/eq-count expressions
    * below — `doGenCode` emits a CALL to these (the [[TextFeatures
    * .evalQuality]] pattern), NOT the loop inline: a CodegenFallback
    * in a join condition pushes the whole join operator out of
    * whole-stage codegen (CollapseCodegenStages rejects the node), so
    * every other predicate on a 10⁸-pair candidate stream pays the
    * interpreted path — but inlining the loop bodies into the fused
    * stage method was measured WORSE (pipeline_docs_v2 3.2→6.7 s:
    * the generated method outgrows the JIT, the whole stage runs
    * interpreted bytecode). A one-line static call keeps the stage
    * codegen-eligible and the kernel a small hot JIT-compiled method. */
  def intersectSortedLongs(a: ArrayData, b: ArrayData): Int = {
    val (n, m) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  def intersectSortedShorts(a: ArrayData, b: ArrayData): Int = {
    val (n, m) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val x = a.getShort(i); val y = b.getShort(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** |A ∩ B| for two ASCENDING-sorted long arrays — O(n+m) merge
    * walk, the rescoring kernel of the prefix-filtered set-similarity
    * join. Codegen: one static call into [[intersectSortedLongs]]
    * (see that doc for why not CodegenFallback and not an inline
    * loop). */
  case class SortedLongIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any =
      intersectSortedLongs(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorExprs.intersectSortedLongs($a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Multiset |A ∩ B| for two ASCENDING-sorted short arrays — the
    * merge walk of [[SortedLongIntersectCount]] over 16-bit
    * fingerprints (duplicates possible after projection; the walk
    * counts Σ_v min(mult_A(v), mult_B(v)), which upper-bounds the
    * distinct-element intersection of the pre-projection sets). The
    * pre-verification kernel of [[graft.operators.Dedup.rescore]]. */
  case class SortedShortIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any =
      intersectSortedShorts(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    // static-call doGenCode for the same stage-level reason as
    // [[SortedLongIntersectCount]]: this is the in-join fpBlockCond
    // walk on the simhash/banded blocking joins — the single
    // hottest expression in the dedup family (10⁸ pair evaluations
    // at sf1) — and as CodegenFallback it pushed those joins out of
    // whole-stage codegen entirely.
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorExprs.intersectSortedShorts($a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /**
   * Product-quantization ENCODE: the input UNIT vector is cut into
   * `m` equal subspaces; in each, the nearest (Σdiff², ascending-j
   * fold, ties → lowest index) of the codebook's `anchors` — full-dim
   * vectors sliced per subspace — becomes that subspace's code.
   * Output: array<int> of length m (8 codes ≈ the classic 8-byte PQ
   * word; stored instead of the 256-byte float vector — the 100 TB
   * memory story of PQ). The codebook is an expression constant:
   * broadcast once inside the plan, never a join.
   */
  case class PqEncode(child: Expression, cb: Array[Array[Array[Double]]])
      extends UnaryExpression with CodegenFallback {
    require(cb.nonEmpty && cb.forall(s => s.nonEmpty && s.forall(_.length == s(0).length)),
      "codebook must be m × ksub × dsub")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    private lazy val et = elemType(child.dataType)
    private val m = cb.length
    private val dsub = cb(0)(0).length
    private val dim = m * dsub

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements() < dim) return null
      val codes = new Array[Int](m)
      var s = 0
      while (s < m) {
        val sub = cb(s)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < sub.length) {
          val cen = sub(c)
          var d2 = 0.0
          var j = 0
          while (j < dsub) {
            val g = s * dsub + j
            if (a.isNullAt(g)) return null
            val diff = getD(a, et, g) - cen(j)
            d2 += diff * diff
            j += 1
          }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        codes(s) = best
        s += 1
      }
      ArrayData.toArrayData(codes)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /**
   * Product-quantization DECODE: codes (array<int>, length m) → the
   * reconstructed quantized vector rv, rv[i] = anchors[code[i/dsub]][i].
   * Pure indexing, no arithmetic — ADC distance against rv is then an
   * ordinary Σdiff² ([[VecSqDist]]), whose flat fold the DuckDB
   * oracle replicates exactly.
   */
  case class PqDecode(child: Expression, cb: Array[Array[Array[Double]]])
      extends UnaryExpression with CodegenFallback {
    require(cb.nonEmpty && cb.forall(s => s.nonEmpty && s.forall(_.length == s(0).length)))
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    private val m = cb.length
    private val dsub = cb(0)(0).length
    private val dim = m * dsub

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements() < m) return null
      val rv = new Array[Double](dim)
      var s = 0
      while (s < m) {
        val c = a.getInt(s)
        if (c < 0 || c >= cb(s).length) return null
        val cen = cb(s)(c)
        var j = 0
        while (j < dsub) { rv(s * dsub + j) = cen(j); j += 1 }
        s += 1
      }
      ArrayData.toArrayData(rv)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Σ (aᵢ−bᵢ)² — squared L2 distance, one flat left-to-right fold
    * (bit-identical to `list_sum(list_transform(...))` in DuckDB).
    * The ADC scoring kernel of the PQ path; codegen'd like VecDot. */
  case class VecSqDist(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    private lazy val etL = elemType(left.dataType)
    private lazy val etR = elemType(right.dataType)

    override def nullSafeEval(l: Any, r: Any): Any = {
      val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val d = getD(a, etL, i) - getD(b, etR, i)
        acc += d * d
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      def get(arr: String, et: DataType, i: String) = et match {
        case FloatType => s"(double) $arr.getFloat($i)"
        case _         => s"$arr.getDouble($i)"
      }
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  double $d = ${get(a, etL, i)} - ${get(b, etR, i)};
           |  $acc += $d * $d;
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  // -- Column API ------------------------------------------------------

  private def e(c: Column) = GraftBridge.expression(c)

  def vecDot(a: Column, b: Column): Column = GraftBridge.column(VecDot(e(a), e(b)))
  def vecNorm(a: Column): Column = GraftBridge.column(VecNorm(e(a)))
  def lshSignatures(vec: Column, tables: Int, bits: Int, seed: Int = 42): Column =
    GraftBridge.column(LshSignatures(e(vec), tables, bits, seed))
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftBridge.column(SortedLongIntersectCount(e(a), e(b)))
  def sortedShortIntersectCount(a: Column, b: Column): Column =
    GraftBridge.column(SortedShortIntersectCount(e(a), e(b)))
  def nearestCentroids(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    GraftBridge.column(NearestCentroids(e(vec), centroids, nprobe))
  def pqEncode(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(PqEncode(e(vec), cb))
  def pqDecode(codes: Column, cb: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(PqDecode(e(codes), cb))
  def vecSqDist(a: Column, b: Column): Column =
    GraftBridge.column(VecSqDist(e(a), e(b)))
}
