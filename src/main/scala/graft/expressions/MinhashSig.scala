package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature over an array of (raw xxhash64) shingle hashes as
  * ONE native expression — the same escalation path as [[Simhash]]: the
  * declarative form ([[graft.dedup.Dedup.minhashSignature]], kept as the
  * cross-checked spec) generates `numHashes` separate `array_min ∘
  * transform` passes, whose whole-stage codegen alone took ~14 s of
  * Janino/JIT on the first t03 run of a session (driver-visible in the
  * round-3 battery); this is a single static call with one fused loop.
  *
  * Semantics are IDENTICAL to
  * `minhashSignature(transform(hs, h => pmod(h, P31)), numHashes)`:
  * base = h mod P31 (nonneg), family member i takes
  * min over shingles of (a_i·base + b_i) mod P31 with the same
  * golden-ratio-derived (a_i, b_i); an empty input yields all-null
  * elements exactly like `array_min(empty)`.
  *
  * CONTRACT for callers: an all-null signature must not reach LSH
  * banding — Spark's `xxhash64` SKIPS null elements, so every
  * empty-input doc would get identical band hashes and all such docs
  * become mutual candidates (a quadratic trap healed only after the pair
  * explosion). [[graft.dedup.Dedup.minhashDedup]] filters empty shingle
  * arrays before signing; direct callers must do the same (unreachable
  * via `shingleHashes`, which never returns an empty array).
  */
case class MinhashSig(child: Expression, numHashes: Int) extends UnaryExpression
    with RuntimeReplaceable with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def prettyName: String = "minhash_sig"
  override lazy val replacement: Expression =
    NativeCall.static(MinhashSig.getClass, "evalArray",
      ArrayType(LongType, containsNull = true), Seq(child, Literal(numHashes)))

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {

  private val P31 = 2147483647L // 2^31 - 1, matches Dedup.P31

  /** (a_i, b_i) tables per family size, cached (tiny) — same derivation
    * as Dedup.hashParams.
    */
  private val paramCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def params(n: Int): (Array[Long], Array[Long]) =
    paramCache.computeIfAbsent(n, _ => {
      val as = new Array[Long](n)
      val bs = new Array[Long](n)
      var i = 0
      while (i < n) {
        as(i) = 1L + java.lang.Long.remainderUnsigned(
          0x9E3779B97F4A7C15L * (i + 1), P31 - 1)
        bs(i) = java.lang.Long.remainderUnsigned(
          0xC2B2AE3D27D4EB4FL * (i + 1), P31)
        i += 1
      }
      (as, bs)
    })

  /** static eval shared by interpreted and generated code paths */
  def evalArray(hs: ArrayData, numHashes: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) {
      return new GenericArrayData(new Array[Any](numHashes)) // all nulls
    }
    val (as, bs) = params(numHashes)
    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    var j = 0
    while (j < n) {
      val base = {
        val m = hs.getLong(j) % P31
        if (m < 0) m + P31 else m
      }
      var i = 0
      while (i < numHashes) {
        val v = (base * as(i) + bs(i)) % P31
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }
}
