package graft.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** MinHash signature over an array of (raw xxhash64) shingle hashes as
  * ONE native call, `minhash_sig(hs)` — a [[NativeFunction]] built only
  * by [[graft.dedup.Dedup.minhashSig]], with the family size as its
  * constant — the same escalation path as [[Simhash]]: the declarative
  * form (`DeclarativeTwins.minhashSignature` in `src/test`, the
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
object MinhashSig {

  /** 31-bit Mersenne prime modulus for the universal hash family: keeps
    * every intermediate product < 2^62, so the arithmetic is exact under
    * ANSI mode (no long overflow) in the declarative twin too.
    */
  val P31 = 2147483647L // 2^31 - 1

  /** deterministic universal-hash parameters (a_i, b_i) of family member
    * i: a_i in [1, P31), b_i in [0, P31)
    */
  def hashParams(i: Int): (Long, Long) = (
    1L + java.lang.Long.remainderUnsigned(0x9E3779B97F4A7C15L * (i + 1), P31 - 1),
    java.lang.Long.remainderUnsigned(0xC2B2AE3D27D4EB4FL * (i + 1), P31))

  /** the [[hashParams]] of members 0 until n as (a, b) arrays, cached
    * per family size (tiny)
    */
  private val paramCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def params(n: Int): (Array[Long], Array[Long]) =
    paramCache.computeIfAbsent(n, _ => (0 until n).map(hashParams).toArray.unzip)

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
