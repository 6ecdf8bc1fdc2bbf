package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression,
  UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** A token-array expression whose value is a [[MinHashExpression]]
  * kernel's `long[]`: NULL when the kernel returns null (fewer tokens
  * than the n-gram), else the array as unsafe array data. The
  * generated code calls the same kernel the interpreted path runs.
  */
abstract class MinHashKernel extends UnaryExpression {
  protected def kernel(tokens: ArrayData): Array[Long]
  /** The Java call of [[kernel]] on the `MinHashExpression` module. */
  protected def kernelCall(tokens: String): String

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // short docs yield NULL

  override def nullSafeEval(input: Any): Any = {
    val out = kernel(input.asInstanceOf[ArrayData])
    if (out == null) null else UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val module = MinHashExpression.getClass.getName
    val unsafe = classOf[UnsafeArrayData].getName
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      s"""
         |long[] $out = $module.MODULE$$.${kernelCall(a)};
         |if ($out == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $unsafe.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })
  }
}

/** k-lane MinHash signature over the n-gram windows of a token array,
  * as ONE native Catalyst expression over the
  * [[MinHashExpression.lanes]] kernel.
  *
  * Algorithm: each token string is xxh64-hashed exactly once; each
  * n-gram window combines its n token hashes by chained hashLong; each
  * window hash is mixed into k lanes (hashLong with the lane index as
  * seed) and the per-lane minimum is the signature. Duplicated windows
  * cannot change a minimum, so no distinct step is needed — MinHash is
  * set-semantics by construction.
  *
  * This replaces a builtin formulation (transform + aggregate +
  * zip_with over concat_ws shingle strings) that allocated a k-element
  * array per shingle and re-hashed strings per lane — measured 20x
  * slower at sf0.1. Returns NULL when the document has fewer than n
  * tokens (callers filter those out, matching the empty-shingle-set
  * rule).
  */
case class MinHashSignature(child: Expression, numHashes: Int, ngram: Int)
    extends MinHashKernel {
  require(numHashes > 0 && ngram > 0)

  override def prettyName: String = "minhash_signature"

  protected def kernel(tokens: ArrayData): Array[Long] =
    MinHashExpression.lanes(tokens, numHashes, ngram)
  protected def kernelCall(tokens: String): String =
    s"lanes($tokens, $numHashes, $ngram)"

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** The LSH band keys of a token array's k-lane MinHash signature: band
  * j of `bands` hashes its r = k/bands lanes j*r until (j+1)*r, chained
  * through XXH64.hashLong seeded with j ([[MinHashExpression.bandKeys]]),
  * returned as `array<long>` of length `bands`. One native expression
  * replaces the per-band higher-order lambdas (transform over a
  * sequence of band indices, xxhash64 over a slice of the signature),
  * and the signature itself never leaves the kernel. NULL when the
  * document has fewer than n tokens, so a `posexplode` over it yields
  * no rows for such documents.
  *
  * Two documents share band j's key when their r lanes are equal, and
  * otherwise only on a 64-bit hash collision (p ≈ 2⁻⁶⁴ per pair and
  * band); candidates are verified by exact Jaccard, which drops such
  * a collision.
  */
case class MinHashBandKeys(child: Expression, numHashes: Int, ngram: Int,
    bands: Int) extends MinHashKernel {
  require(numHashes > 0 && ngram > 0 && bands > 0 && numHashes % bands == 0,
    "bands must divide numHashes")

  override def prettyName: String = "minhash_band_keys"

  protected def kernel(tokens: ArrayData): Array[Long] =
    MinHashExpression.bandKeys(tokens, numHashes, ngram, bands)
  protected def kernelCall(tokens: String): String =
    s"bandKeys($tokens, $numHashes, $ngram, $bands)"

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object MinHashExpression {
  /** Column entry point: k-lane n-gram MinHash signature of a token
    * array (NULL for docs shorter than n tokens).
    */
  def minhashSignature(tokens: Column, numHashes: Int,
      ngram: Int): Column =
    ColumnBridge.column(MinHashSignature(
      ColumnBridge.expression(tokens), numHashes, ngram))

  /** Column entry point: the `bands` LSH band keys of a token array's
    * k-lane n-gram MinHash signature (NULL for docs shorter than n
    * tokens); see [[MinHashBandKeys]].
    */
  def minhashBandKeys(tokens: Column, numHashes: Int, ngram: Int,
      bands: Int): Column =
    ColumnBridge.column(MinHashBandKeys(
      ColumnBridge.expression(tokens), numHashes, ngram, bands))

  /** The k MinHash lanes of a token array's n-gram windows, or null
    * when it has fewer than n tokens (see [[MinHashSignature]]).
    */
  def lanes(arr: ArrayData, numHashes: Int, ngram: Int): Array[Long] = {
    val n = arr.numElements()
    val windows = n - ngram + 1
    if (windows <= 0) return null
    val toks = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      toks(i) = XXH64.hashUnsafeBytes(
        s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var w = 0
    while (w < windows) {
      var h = toks(w)
      var g = 1
      while (g < ngram) { h = XXH64.hashLong(toks(w + g), h); g += 1 }
      var j = 0
      while (j < numHashes) {
        val m = XXH64.hashLong(h, j)
        if (m < sig(j)) sig(j) = m
        j += 1
      }
      w += 1
    }
    sig
  }

  /** The band keys of a token array, or null when it has fewer than n
    * tokens: band j's key chains its r = numHashes/bands lanes j*r
    * until (j+1)*r through XXH64.hashLong, seeded with j.
    */
  def bandKeys(arr: ArrayData, numHashes: Int, ngram: Int,
      bands: Int): Array[Long] = {
    val sig = lanes(arr, numHashes, ngram)
    if (sig == null) return null
    val r = numHashes / bands
    val keys = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var h = j.toLong
      var i = j * r
      while (i < (j + 1) * r) { h = XXH64.hashLong(sig(i), h); i += 1 }
      keys(j) = h
      j += 1
    }
    keys
  }
}
