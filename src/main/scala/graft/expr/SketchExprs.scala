package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Native sketch primitives for the dedup family. Each replaces a
  * higher-order-function chain (transform/aggregate lambdas) that Spark
  * evaluates interpreted — the k×|tokens| inner loops of MinHash, the
  * 64×|tokens| SimHash fold and the nBits×dim SRP sign dots were the
  * dominant per-row cost of g46/g47/g48. Every expression reproduces
  * its Column-form predecessor bit-for-bit (same xxhash64 folds, same
  * accumulation order, same null conventions), so swapping lowerings
  * never changes which pairs are found.
  */

/** `hash64_array(array<string>) -> array<long>`: per-element
  * xxhash64(token) — the pre-hash pass shingle/token pipelines share.
  * Null elements hash to the seed (42), matching xxhash64(null).
  */
case class Hash64Array(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"hash64_array needs array<string>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hash64_array"

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = if (a.isNullAt(i)) 42L
        else XXH64.hashUTF8String(a.getUTF8String(i), 42L)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hash64Array", this, classOf[Hash64Array].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(newChild: Expression): Hash64Array =
    copy(child = newChild)
}

/** `minhash_sigs(array<long>, k) -> array<long>`: out(j) =
  * min over elements h of xxhash64(h, j) — the k-permutation MinHash
  * signature over pre-hashed shingles. Returns NULL for an empty array
  * (array_min of an empty transform is NULL; callers filter those rows
  * out before signing).
  */
case class MinHashSigs(child: Expression, k: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckFailure(s"minhash_sigs k < 1: $k")
    case other => TypeCheckResult.TypeCheckFailure(s"minhash_sigs needs array<long>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sigs"

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n == 0) return null
    // hoist the inner xxhash64 fold's first step: xxhash64(h, j) =
    // hashInt(j, hashLong(h, 42)) — hashLong(h, 42) is j-independent
    val pre = new Array[Long](n)
    var m = 0
    while (m < n) {
      // null skips the fold step: xxhash64(null, j) = hashInt(j, 42)
      pre(m) = if (a.isNullAt(m)) 42L else XXH64.hashLong(a.getLong(m), 42L)
      m += 1
    }
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      var mn = Long.MaxValue
      m = 0
      while (m < n) {
        val h = XXH64.hashInt(j, pre(m))
        if (h < mn) mn = h
        m += 1
      }
      out(j) = mn
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashSigs", this, classOf[MinHashSigs].getName)
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = $ref.compute($a);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

/** `simhash64(array<long>) -> long`: bit i of the signature is set iff
  * the sum over token hashes h of ±1 (sign of bit i of h) is strictly
  * positive — the 64-bit SimHash of a pre-hashed token stream.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"simhash64 needs array<long>, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  def compute(a: ArrayData): Long = {
    val counters = new Array[Int](64)
    val n = a.numElements()
    var m = 0
    while (m < n) {
      // null token hash: the CASE's null condition is falsy → -1 per bit
      val h = if (a.isNullAt(m)) 0L else a.getLong(m)
      val neg = a.isNullAt(m)
      var i = 0
      while (i < 64) {
        counters(i) += (if (!neg && ((h >> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      m += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (counters(i) > 0) sig |= 1L << i
      i += 1
    }
    sig
  }
  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash64", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `srp_sig(array<double>, seed, t, nBits) -> long`: bit j is the sign
  * of dot(v, h_tj) for the deterministic ±1 hyperplane h_tj with
  * h_tj(i) = sign of xxhash64(seed, t, j, i) & 1 — the signed-random-
  * projection bucket signature of table t. A null element nulls every
  * dot, which the Column form's `when(dot >= 0, ...)` maps to an
  * all-zero signature.
  */
case class SrpSig(child: Expression, seed: Long, t: Int, nBits: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if nBits >= 1 && nBits <= 63 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckFailure(s"srp_sig nBits $nBits not in [1, 63]")
    case other => TypeCheckResult.TypeCheckFailure(s"srp_sig needs array<double>, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_sig"

  def compute(a: ArrayData): Long = {
    val n = a.numElements()
    var m = 0
    while (m < n) { if (a.isNullAt(m)) return 0L; m += 1 }
    // xxhash64(seed, t, j, i) folds as
    //   hashInt(i, hashInt(j, hashInt(t, hashLong(seed, 42))))
    // — hoist the (seed, t) prefix, and the (j) step per bit
    val hSeedT = XXH64.hashInt(t, XXH64.hashLong(seed, 42L))
    var sig = 0L
    var j = 0
    while (j < nBits) {
      val hj = XXH64.hashInt(j, hSeedT)
      var dot = 0.0
      var i = 0
      while (i < n) {
        val x = a.getDouble(i)
        dot += (if ((XXH64.hashInt(i, hj) & 1L) == 1L) x else -x)
        i += 1
      }
      if (dot >= 0) sig |= 1L << j
      j += 1
    }
    sig
  }
  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srpSig", this, classOf[SrpSig].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(newChild: Expression): SrpSig =
    copy(child = newChild)
}
