package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused word-shingle MinHash signature: tokenizes the (already
  * lower-cased, trimmed) text on single spaces, hashes each run of
  * `shingleWords` consecutive words in place (FNV-1a over the chars of
  * the word span, folded into [0, p)), and keeps the k affine-permutation
  * minima — [[CharGramMinHash]]'s word-level sibling, one O(len + words·k)
  * register loop per document.
  *
  * Replaces the d2 signature path's interpreted chain (shingle-array
  * transform + per-shingle xxhash lambda + minima), which materialized
  * every 3-word shingle string per document. As everywhere in this LSH
  * family, the base hash only drives candidate RECALL: emitted pairs are
  * verified with exact shingle-set Jaccard, so swapping the hash cannot
  * change the oracle result, only which non-pairs are examined (recall
  * re-audited via `Test/runMain graft.RecallCheck`: 256/256 at sf0.1).
  *
  * Fewer than `shingleWords` words yields the empty-set signature (all
  * Long.MaxValue); callers filter those rows like d2 always has.
  */
case class WordShingleMinHash(child: Expression, shingleWords: Int,
    seedsA: Seq[Long], seedsB: Seq[Long], p: Long)
    extends UnaryExpression {

  require(shingleWords >= 1 && seedsA.length == seedsB.length && seedsA.nonEmpty)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"word_shingle_minhash requires string, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def k = seedsA.length
  private val aArr = seedsA.toArray
  private val bArr = seedsB.toArray

  /** Shared by eval and codegen: the whole per-row loop. */
  def compute(input: UTF8String): ArrayData = {
    val s = input.toString
    // word start offsets under split-on-single-space semantics (empty
    // words between consecutive spaces count, exactly like split(t, ' '))
    var nWords = if (s.isEmpty) 0 else 1
    var i = 0
    while (i < s.length) { if (s.charAt(i) == ' ') nWords += 1; i += 1 }
    val starts = new Array[Int](nWords + 1)
    var w = 1
    starts(0) = 0
    i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(nWords) = s.length + 1 // sentinel: end of word j is starts(j+1)-2... see below
    val mins = Array.fill(k)(Long.MaxValue)
    var first = 0
    while (first + shingleWords <= nWords) {
      // hash the char span from the first word's start to the last
      // word's end (exclusive of the trailing separator)
      val from = starts(first)
      val until = starts(first + shingleWords) - 1 // char before next word's separator
      var h = 0xcbf29ce484222325L
      var j = from
      while (j < until) {
        h = (h ^ s.charAt(j)) * 0x100000001b3L
        j += 1
      }
      val base = java.lang.Long.remainderUnsigned(h, p)
      var m = 0
      while (m < k) {
        val v = (base * aArr(m) + bArr(m)) % p
        if (v < mins(m)) mins(m) = v
        m += 1
      }
      first += 1
    }
    new GenericArrayData(mins)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wordshingle", this, classOf[WordShingleMinHash].getName)
    nullSafeCodeGen(ctx, ev, str => s"${ev.value} = $self.compute($str);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingleMinHash =
    copy(child = newChild)
}

object WordShingleMinHash {
  def wordShingleMinhash(text: Column, shingleWords: Int,
      seedsA: Seq[Long], seedsB: Seq[Long], p: Long): Column =
    ColumnBridge.column(WordShingleMinHash(ColumnBridge.expression(text), shingleWords, seedsA, seedsB, p))
}
