package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * BPE ENCODING as a native expression: apply a trained merge table
 * ([[graft.operators.Bpe.trainMerges]]) to a text column, producing
 * the subword token array. The merge table travels as a plan literal
 * (same pattern as the quality classifier's quantized weights), so
 * encoding is a scan-side projection — zero shuffle at any corpus
 * size, and the whole tokenize step rides inside the scan stage.
 *
 * Application is rank-priority (the GPT-2 convention): per word,
 * repeatedly merge ALL occurrences of the present pair with the
 * lowest rank until no mergeable pair remains. Words are memoized
 * per task (Zipf: the same few thousand words dominate every batch).
 */
object BpeExprs {

  case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true

    // value type MUST be boxed Integer: with a primitive Int value
    // type Scala unboxes a missing key's null to 0, which would give
    // every pair "rank 0" and spin the merge loop forever
    @transient private lazy val rank: java.util.HashMap[(String, String), Integer] = {
      val m = new java.util.HashMap[(String, String), Integer]()
      merges.zipWithIndex.foreach { case (p, i) => m.put(p, Integer.valueOf(i)) }
      m
    }
    // per-task word memo (bounded: cleared per partition via lazy init)
    @transient private lazy val memo =
      new java.util.LinkedHashMap[String, Array[String]](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[String]]): Boolean = size() > 65536
      }

    private def encodeWord(w: String): Array[String] = {
      val cached = memo.get(w)
      if (cached != null) return cached
      // code-point split, matching the trainer's initial alphabet — a
      // surrogate pair is ONE symbol, not two half-surrogates
      var syms = graft.operators.Bpe.codePointSymbols(w)
      var continue = syms.length > 1
      while (continue) {
        var bestRank = Int.MaxValue
        var bi = -1
        var i = 0
        while (i < syms.length - 1) {
          val r = rank.get((syms(i), syms(i + 1)))
          if (r != null && r.intValue() < bestRank) { bestRank = r.intValue(); bi = i }
          i += 1
        }
        if (bi < 0) continue = false
        else syms = graft.operators.Bpe.mergePair(
          syms, merges(bestRank)._1, merges(bestRank)._2)
        if (syms.length < 2) continue = false
      }
      memo.put(w, syms)
      syms
    }

    override def nullSafeEval(v: Any): Any = {
      val t = v.asInstanceOf[UTF8String].toLowerCase.toString.trim
      if (t.isEmpty) return new GenericArrayData(Array.empty[Any])
      val words = t.split("\\s+")
      val out = Array.newBuilder[Any]
      words.foreach(w => encodeWord(w).foreach(s => out += UTF8String.fromString(s)))
      new GenericArrayData(out.result())
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeEncodeExpr(GraftBridge.expression(text), merges))
}
