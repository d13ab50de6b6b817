package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature of a string set (Broder 1997 resemblance sketch):
  * `numPerms` permutations, permutation k realized as xxHash64 with seed k;
  * output[k] = min over elements of hash_k(element). Empty input yields
  * Long.MaxValue per slot (never collides with a real signature).
  *
  * Codegen'd Catalyst expression instead of
  * `transform(sequence(0, P-1), k -> array_min(transform(set, e -> hash(k, e))))`
  * — the declarative form is an interpreted CodegenFallback stack that
  * allocates P intermediate arrays per row and re-reads each element P
  * times; this is one pass over the elements with the P mins updated in a
  * local array (element bytes fetched once, P seeded xxHash64 finishes).
  */
case class MinHashSig(child: Expression, numPerms: Int)
    extends UnaryExpression {
  require(numPerms >= 1, "numPerms must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    MinHashSig.sig(input.asInstanceOf[ArrayData], numPerms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      arr => s"${ev.value} = graft.functions.MinHashSig.sig($arr, $numPerms);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  /** Shared by interpreted eval and generated code. */
  def sig(elems: ArrayData, numPerms: Int): ArrayData = {
    val mins = Array.fill(numPerms)(Long.MaxValue)
    val n = elems.numElements()
    var i = 0
    while (i < n) {
      if (!elems.isNullAt(i)) {
        val s: UTF8String = elems.getUTF8String(i)
        var k = 0
        while (k < numPerms) {
          val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, k.toLong)
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** The near-dup geometry of the batch (`DedupOps`) and streaming
    * (`Streams.minhashDedupBatch`) paths: [[Perms]] permutations in
    * [[Bands]] LSH bands of `Perms / Bands` = 4 rows. */
  val Perms = 32
  val Bands = 8

  /** The [[Bands]] LSH band hashes of a [[Perms]]-slot signature, as one
    * array: band b is the xxHash64 of its `Perms / Bands` slots. */
  def bandHashes(sig: Column): Column = {
    import org.apache.spark.sql.functions.{array, slice, xxhash64}
    val rows = Perms / Bands
    array((0 until Bands).map(b => xxhash64(slice(sig, b * rows + 1, rows))): _*)
  }

  /** Column-level entry point: `minhashSig(setCol, 32)`. */
  def minhashSig(c: Column, numPerms: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(MinHashSig(GraftShims.expression(c), numPerms))
  }
}
