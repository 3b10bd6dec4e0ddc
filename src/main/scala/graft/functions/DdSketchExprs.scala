package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/**
 * Mergeable QUANTILE sketches — DDSketch (Masson, Lee & Rim,
 * VLDB'19): values land in log-scale buckets at γᵏ boundaries with
 * γ = (1+α)/(1−α), so any quantile estimate is within RELATIVE
 * error α, and a sketch is just a bucket→count map. Unlike t-digest
 * or KLL, merging is COUNT ADDITION — associative, commutative,
 * insertion-order-free — so sketches are partitioning-invariant
 * bit-for-bit and persistable per day/source/split, then unioned
 * over any window without rescanning (the same incremental shape as
 * [[HllExprs]]). Covers strictly-positive values plus an explicit
 * zero count (lengths, latencies, token counts — the quantities a
 * pipeline actually tracks); negatives fail loudly.
 *
 * Serialized form: [alphaBits: 8B][zeroCount: 8B][n: 4B] then n ×
 * [bucketIndex: 4B][count: 8B], buckets ascending.
 */
object DdSketchExprs {

  /**
   * `alpha > 0`: standard DDSketch log-γ buckets. `alpha < 0`:
   * PORTABLE mode sentinel — `alpha = -j` selects power-of-two
   * buckets with `2^j` mantissa sub-buckets per octave, indexed by
   * PURE BIT MANIPULATION (no libm): for v ∈ [2^e, 2^(e+1)),
   * k = (e+1022)·2^j + (top j mantissa bits). Bucket width ratio is
   * 1+2^-j → relative error ≤ 2^-(j+1) (j=6 ≈ 0.78%, the default
   * alpha ballpark). The estimate for bucket k is the arithmetic
   * midpoint 2^e·(1+(2·sb+1)/2^(j+1)) — every op exact in IEEE, so
   * any engine reproduces estimates BIT-FOR-BIT from (value, j)
   * alone: the dd_quantile_portable oracle rebuilds buckets, ranks,
   * and estimates in DuckDB with a recursive-doubling power-of-two
   * table and must match exactly. Same serialized form (the sentinel
   * travels in the alpha field), same mergeability. Values below
   * 2^-1022 (subnormals) collapse into bucket 0 with the first
   * normal sub-bucket — documented clamp, irrelevant for pipeline
   * metrics; infinities are rejected.
   */
  final class Sketch(val alpha: Double) {
    val portableJ: Int = if (alpha < 0) (-alpha).toInt else 0
    def portable: Boolean = portableJ > 0
    lazy val gamma: Double = (1.0 + alpha) / (1.0 - alpha)
    private lazy val logGamma = math.log(gamma)
    var zeroCount: Long = 0L
    val counts = new java.util.TreeMap[Int, java.lang.Long]()

    def add(v: Double): Unit = {
      require(v >= 0.0 && !v.isNaN && (!portable || !v.isInfinite),
        s"dd_sketch covers finite values >= 0, got $v (mirror negatives upstream)")
      if (v == 0.0) zeroCount += 1
      else {
        val k =
          if (portable) {
            val bits = java.lang.Double.doubleToRawLongBits(v)
            val be = ((bits >>> 52) & 0x7FFL).toInt
            if (be == 0) 0 // subnormal clamp (see class docs)
            else ((be - 1) << portableJ) |
              ((bits & 0xFFFFFFFFFFFFFL) >>> (52 - portableJ)).toInt
          } else math.ceil(math.log(v) / logGamma).toInt
        val cur = counts.get(k)
        counts.put(k, if (cur == null) 1L else cur + 1L)
      }
    }

    def mergeIn(o: Sketch): Sketch = {
      require(o.alpha == alpha,
        s"cannot union sketches of different accuracies ($alpha vs ${o.alpha})")
      zeroCount += o.zeroCount
      o.counts.forEach { (k, c) =>
        val cur = counts.get(k)
        counts.put(k, if (cur == null) c else cur + c)
      }
      this
    }

    def total: Long =
      zeroCount + counts.values().stream().mapToLong(_.longValue()).sum()

    /** Bucket estimate: standard mode = geometric midpoint
      * 2γᵏ/(γ+1); portable mode = exact arithmetic midpoint
      * 2^e·(1+(2·sb+1)/2^(j+1)) via scalb (every op IEEE-exact,
      * engine-reproducible). */
    private def estimate(k: Int): Double =
      if (portable) {
        val e = (k >> portableJ) - 1022
        val sb = k & ((1 << portableJ) - 1)
        Math.scalb(1.0 + (2.0 * sb + 1.0) / (1L << (portableJ + 1)), e)
      } else 2.0 * math.pow(gamma, k) / (gamma + 1.0)

    /** Quantile estimate: the bucket holding rank ⌈q·n⌉ — within
      * relative error α (standard) / 2^-(j+1) (portable). */
    def quantile(q: Double): Option[Double] = {
      require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0,1]")
      val n = total
      if (n == 0) return None
      val rank = math.max(1L, math.ceil(q * n).toLong)
      if (rank <= zeroCount) return Some(0.0)
      var seen = zeroCount
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        seen += e.getValue
        if (seen >= rank) return Some(estimate(e.getKey))
      }
      Some(estimate(counts.lastKey()))
    }

    def serialize(): Array[Byte] = {
      val n = counts.size()
      val buf = java.nio.ByteBuffer.allocate(8 + 8 + 4 + n * 12)
      buf.putDouble(alpha).putLong(zeroCount).putInt(n)
      counts.forEach { (k, c) => buf.putInt(k); buf.putLong(c) }
      buf.array()
    }
  }

  object Sketch {
    def deserialize(b: Array[Byte]): Sketch = {
      val buf = java.nio.ByteBuffer.wrap(b)
      val s = new Sketch(buf.getDouble)
      s.zeroCount = buf.getLong
      val n = buf.getInt
      var i = 0
      while (i < n) { s.counts.put(buf.getInt, buf.getLong); i += 1 }
      s
    }
  }

  private def numAsDouble(v: Any, dt: DataType): Double = dt match {
    case DoubleType => v.asInstanceOf[Double]
    case FloatType => v.asInstanceOf[Float].toDouble
    case LongType => v.asInstanceOf[Long].toDouble
    case IntegerType => v.asInstanceOf[Int].toDouble
    case d: DecimalType => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
    case other => throw new IllegalArgumentException(
      s"dd_sketch: unsupported input type $other")
  }

  /** Build a sketch from a numeric column. */
  case class DdSketchAgg(child: Expression, alpha: Double,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Sketch] with UnaryLike[Expression] {
    require((alpha > 0 && alpha < 0.5) ||
      (alpha < 0 && alpha == math.floor(alpha) && -alpha >= 1 && -alpha <= 16),
      "alpha must be in (0, 0.5), or a negative integer -j (j in 1..16) " +
        "selecting the portable power-of-two bucket mode")
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def createAggregationBuffer(): Sketch = new Sketch(alpha)
    override def update(s: Sketch, row: InternalRow): Sketch = {
      val v = child.eval(row)
      if (v != null) s.add(numAsDouble(v, child.dataType))
      s
    }
    override def merge(a: Sketch, b: Sketch): Sketch = a.mergeIn(b)
    override def eval(s: Sketch): Any = s.serialize()
    override def serialize(s: Sketch): Array[Byte] = s.serialize()
    override def deserialize(b: Array[Byte]): Sketch = Sketch.deserialize(b)
    override def withNewMutableAggBufferOffset(o: Int): DdSketchAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): DdSketchAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): DdSketchAgg =
      copy(child = newChild)
  }

  /** Union previously-built sketches (binary column). */
  case class DdUnionAgg(child: Expression,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Option[Sketch]] with UnaryLike[Expression] {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def createAggregationBuffer(): Option[Sketch] = None
    override def update(s: Option[Sketch], row: InternalRow): Option[Sketch] =
      child.eval(row) match {
        case null => s
        case b: Array[Byte] =>
          val in = Sketch.deserialize(b)
          s match { case None => Some(in); case Some(acc) => Some(acc.mergeIn(in)) }
      }
    override def merge(a: Option[Sketch], b: Option[Sketch]): Option[Sketch] =
      (a, b) match {
        case (None, x) => x
        case (x, None) => x
        case (Some(x), Some(y)) => Some(x.mergeIn(y))
      }
    override def eval(s: Option[Sketch]): Any = s.map(_.serialize()).orNull
    override def serialize(s: Option[Sketch]): Array[Byte] =
      s.map(_.serialize()).getOrElse(Array.emptyByteArray)
    override def deserialize(b: Array[Byte]): Option[Sketch] =
      if (b.isEmpty) None else Some(Sketch.deserialize(b))
    override def withNewMutableAggBufferOffset(o: Int): DdUnionAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): DdUnionAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): DdUnionAgg =
      copy(child = newChild)
  }

  /** Quantile of a serialized sketch (scalar). The quantile argument
    * accepts any SQL numeric (a bare `0.5` literal parses as DECIMAL;
    * the Column API passes DOUBLE) — coerced at eval. */
  case class DdQuantile(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(sk: Any, q: Any): Any = {
      val qd = q match {
        case d: Decimal => d.toDouble
        case n: Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"dd_quantile: non-numeric quantile $other")
      }
      Sketch.deserialize(sk.asInstanceOf[Array[Byte]]).quantile(qd).orNull
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  // -- Column API ------------------------------------------------------

  private def e(c: Column) = GraftBridge.expression(c)

  /** Portable power-of-two bucket mode (see [[Sketch]] docs):
    * relative error ≤ 2^-(j+1), estimates bit-for-bit reproducible
    * by any IEEE engine — and the bucket index is integer bit math,
    * cheaper than the standard mode's per-value log. */
  def ddSketchPortable(c: Column, j: Int = 6): Column =
    GraftBridge.column(DdSketchAgg(e(c), -j.toDouble).toAggregateExpression())
  def ddQuantile(c: Column, q: Column): Column =
    GraftBridge.column(DdQuantile(e(c), e(q)))
}
