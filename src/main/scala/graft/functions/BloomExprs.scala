package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, GraftInputTypes}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * MERGEABLE Bloom filters as first-class values (Bloom '70) — the
 * set-membership member of graft's sketch family (HLL = distinct,
 * CMS = frequency, DDSketch = quantiles, Bloom = "might contain").
 * The 100 TB question it answers without IO: "could this FILE (or
 * shard, or day) contain key k" — the per-file existence index behind
 * [[graft.operators.Snapshot]]'s point-lookup skipping, where min/max
 * ranges are wide (a key column uncorrelated with the file layout has
 * near-full-range stats in every file, so range pruning keeps
 * everything and a point read still scans the table).
 *
 *   bloom_build(col, bits, k) → binary (bit array) per group
 *
 * Membership test is one-sided: `mightContain` = false is CERTAIN
 * absence (safe to skip the file); true is "present or a false
 * positive" (read the file, the query filter keeps semantics exact —
 * same contract as stats pruning, an IO optimization only). FP rate
 * ≈ (1 − e^(−k·n/m))^k; at m/n = 10 bits/key and k = 6, ~0.8%.
 *
 * Filters OR together bit-wise, so the aggregate is associative,
 * commutative and partitioning-invariant bit-for-bit (no float
 * drift). Hashing is Spark's own XXH64 over the value's STRING
 * rendering (callers cast first — one canonical byte sequence per
 * value, the same trade the manifest's min/max stats strings make),
 * with Kirsch-Mitzenmacher double hashing: bit_i = (h1 + i·h2) mod m
 * from two seeded base hashes — k independent-enough probes for two
 * hash evaluations.
 *
 * Reference anchor: generalizes the reference's validation-oriented
 * reads (it has no file-skipping notion; `main.py` reads sources
 * whole) the same way Snapshot stats pruning does.
 */
object BloomExprs {

  private val SeedA = 0x9747b28cL
  private val SeedB = 0x3c6ef372L

  /** Base hash pair of a string value — UTF-8 bytes under two XXH64
    * seeds. Public so driver-side pruning ([[graft.operators.Snapshot]]
    * prune paths) tests membership with ZERO Spark jobs. */
  def hashPair(s: String): (Long, Long) = {
    val u = UTF8String.fromString(s)
    (XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, SeedA),
     XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, SeedB))
  }

  private def hashPairU(u: UTF8String): (Long, Long) =
    (XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, SeedA),
     XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, SeedB))

  /** Filter = header (numBits, k as ints) + ceil(numBits/8) bytes. */
  final class Bloom(val numBits: Int, val k: Int, val bits: Array[Byte]) {
    @inline private def set(bit: Long): Unit = {
      val b = bit.toInt
      bits(b >>> 3) = (bits(b >>> 3) | (1 << (b & 7))).toByte
    }
    @inline private def get(bit: Long): Boolean = {
      val b = bit.toInt
      (bits(b >>> 3) & (1 << (b & 7))) != 0
    }
    @inline private def bitOf(h1: Long, h2: Long, i: Int): Long =
      ((h1 + i.toLong * h2) & Long.MaxValue) % numBits
    def add(h1: Long, h2: Long): Unit = {
      var i = 0
      while (i < k) { set(bitOf(h1, h2, i)); i += 1 }
    }
    def mightContain(h1: Long, h2: Long): Boolean = {
      var i = 0
      while (i < k) { if (!get(bitOf(h1, h2, i))) return false; i += 1 }
      true
    }
    def or(o: Bloom): Bloom = {
      require(o.numBits == numBits && o.k == k,
        s"cannot union blooms of different shapes ($numBits/$k vs ${o.numBits}/${o.k})")
      var i = 0
      while (i < bits.length) { bits(i) = (bits(i) | o.bits(i)).toByte; i += 1 }
      this
    }
    def toBytes: Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + bits.length)
      bb.putInt(numBits).putInt(k).put(bits)
      bb.array()
    }
  }

  def empty(numBits: Int, k: Int): Bloom = {
    require(numBits >= 64 && numBits <= (1 << 28),
      s"bloom: numBits $numBits outside [64, 2^28]")
    require(k >= 1 && k <= 16, s"bloom: k $k outside [1, 16]")
    new Bloom(numBits, k, new Array[Byte]((numBits + 7) / 8))
  }

  def fromBytes(b: Array[Byte]): Bloom = {
    require(b.length >= 8, s"not a bloom filter: ${b.length} bytes, need >= 8")
    val bb = java.nio.ByteBuffer.wrap(b)
    val m = bb.getInt
    val k = bb.getInt
    require(m >= 64 && m <= (1 << 28) && k >= 1 && k <= 16,
      s"not a bloom filter: header says bits=$m k=$k")
    require(b.length == 8 + (m + 7) / 8,
      s"not a bloom filter: ${b.length} bytes for claimed $m bits (need ${8 + (m + 7) / 8})")
    val bits = new Array[Byte]((m + 7) / 8)
    bb.get(bits)
    new Bloom(m, k, bits)
  }

  /** Driver-side membership test on serialized bytes: false = the
    * sketched set certainly lacks `value` (skip the file). */
  def mightContain(bytes: Array[Byte], value: String): Boolean = {
    val (h1, h2) = hashPair(value)
    fromBytes(bytes).mightContain(h1, h2)
  }

  /** Code-point 3-gram windows of `s` (empty when shorter than 3
    * code points) — the ONE trigram definition: the write-side
    * aggregate and the driver-side prune must hash byte-identical
    * grams, so both call this (UTF-16 `substring` would split
    * surrogate pairs and disagree with itself across the two sides
    * on non-BMP text). */
  def trigramsOf(s: String): Iterator[String] = {
    val cps = s.codePoints().toArray
    if (cps.length < 3) Iterator.empty
    else (0 to cps.length - 3).iterator.map(i => new String(cps, i, 3))
  }

  /** The DISTINCT base-hash pairs of a needle's 3-grams — compute
    * ONCE per query, then test per file with [[mightContainHashes]]
    * (a manifest-wide prune over 100k files must not re-derive and
    * re-hash the grams 100k times). Empty for sub-3-code-point
    * needles: no grams, nothing provable. */
  def substringHashes(needle: String): Array[(Long, Long)] =
    trigramsOf(needle).toSeq.distinct.map(hashPair).toArray

  /** Per-file half of the substring test: false = the sketched text
    * certainly contains no occurrence of the hashed needle (skip the
    * file) — a file holding the substring holds every one of its
    * 3-grams, so any missing gram is a proof of absence. An empty
    * hash set proves nothing (keep). Deserializes ONCE. */
  def mightContainHashes(bytes: Array[Byte],
                         hashes: Array[(Long, Long)]): Boolean = {
    if (hashes.isEmpty) return true
    val b = fromBytes(bytes)
    hashes.forall { case (h1, h2) => b.mightContain(h1, h2) }
  }

  /** The shared buffer machinery of the bloom-building aggregates —
    * ONE copy of the sizing gates and the serialization contract; the
    * concrete aggregates differ only in what they ADD per value. */
  abstract class BloomAggBase extends TypedImperativeAggregate[Bloom]
      with GraftInputTypes with UnaryLike[Expression] {
    def numBits: Int
    def k: Int
    // sizing bounds are enforced by [[empty]] at buffer creation —
    // a require here would read the abstract accessors DURING the
    // super constructor, before the subclass fields initialize
    override def graftInputTypes: Seq[Seq[DataType]] = Seq(Seq(StringType))
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def createAggregationBuffer(): Bloom = empty(numBits, k)
    override def merge(a: Bloom, b: Bloom): Bloom = a.or(b)
    override def eval(buf: Bloom): Any = buf.toBytes
    override def serialize(buf: Bloom): Array[Byte] = buf.toBytes
    override def deserialize(storage: Array[Byte]): Bloom = fromBytes(storage)
  }

  /** Build a filter from string values (nulls skipped — a point
    * lookup is never `= NULL`). */
  case class BloomBuildAgg(child: Expression, numBits: Int, k: Int,
                           mutableAggBufferOffset: Int = 0,
                           inputAggBufferOffset: Int = 0)
      extends BloomAggBase {
    override def update(buf: Bloom, row: InternalRow): Bloom = {
      val v = child.eval(row)
      if (v != null) {
        val (h1, h2) = hashPairU(v.asInstanceOf[UTF8String])
        buf.add(h1, h2)
      }
      buf
    }
    override def withNewMutableAggBufferOffset(o: Int): BloomBuildAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BloomBuildAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): BloomBuildAgg =
      copy(child = newChild)
  }

  /** Build a filter over the CODE-POINT 3-GRAMS of string values —
    * the substring-search index: `text LIKE '%needle%'` can only
    * match inside a file whose gram filter admits EVERY 3-gram of the
    * needle ([[substringHashes]], then [[mightContainHashes]]). Same
    * serialized shape as the value filter, so it rides every manifest
    * path (carry-forward, compaction backfill, fsck size accounting)
    * unchanged. Duplicate grams within a row are naturally idempotent;
    * nulls skipped. */
  case class TrigramBloomAgg(child: Expression, numBits: Int, k: Int,
                             mutableAggBufferOffset: Int = 0,
                             inputAggBufferOffset: Int = 0)
      extends BloomAggBase {
    override def update(buf: Bloom, row: InternalRow): Bloom = {
      val v = child.eval(row)
      if (v != null) {
        val it = trigramsOf(v.asInstanceOf[UTF8String].toString)
        while (it.hasNext) {
          val (h1, h2) = hashPair(it.next())
          buf.add(h1, h2)
        }
      }
      buf
    }
    override def withNewMutableAggBufferOffset(o: Int): TrigramBloomAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TrigramBloomAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): TrigramBloomAgg =
      copy(child = newChild)
  }

  /** Aggregate a string column into a serialized bloom filter. */
  def bloomBuild(c: Column, numBits: Int, k: Int = 6): Column =
    GraftBridge.column(
      BloomBuildAgg(GraftBridge.expression(c), numBits, k).toAggregateExpression())

  /** Aggregate a string column's 3-grams into a serialized bloom
    * filter (the substring index of [[TrigramBloomAgg]]). */
  def triBloomBuild(c: Column, numBits: Int, k: Int = 6): Column =
    GraftBridge.column(
      TrigramBloomAgg(GraftBridge.expression(c), numBits, k).toAggregateExpression())
}
