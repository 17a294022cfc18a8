package graft.expressions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Hashed w-token shingles of whitespace-tokenized text as ONE native
  * expression — the [[Simhash]]/[[MinhashSig]] escalation path: the
  * declarative form ([[graft.dedup.Dedup.shingleHashes]], kept as the
  * cross-checked spec) allocates a w-element array per window for
  * `xxhash64(slice(hs, i, w))` — ~10 M allocations on the sf0.1 corpus,
  * and the dominant remaining cost of the minhash pipeline (5.1 s of
  * t03's 9 s warm).
  *
  * Semantics are IDENTICAL to the declarative pipeline:
  * tokens = `split(trim(text), "\s+")` (trim strips ' ' only; Spark
  * split keeps trailing empties — Java split with limit -1), token hash
  * = Spark `xxhash64` (XXH64 over UTF-8 bytes, seed 42), window hash =
  * Spark's `xxhash64(array<long>)` (an XXH64.hashLong fold over the
  * elements, seeded 42); fewer than w tokens → one hash of the
  * space-joined text.
  */
object ShingleHashes {

  /** [[evalUtf8]]'s type: one hash per window, never empty */
  val outType: ArrayType = ArrayType(LongType, containsNull = false)

  private val Seed = 42L // Spark's xxhash64 default seed

  /** hoisted: String.split("\\s+") recompiles the pattern per call */
  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** Spark's `split(trim(s), "\\s+")`, shared with [[Simhash]]: `trim`
    * strips ' ' only, and split's default limit -1 keeps trailing empty
    * tokens
    */
  private[expressions] def tokens(s: String): Array[String] = {
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    WS.split(s.substring(lo, hi), -1)
  }

  /** Spark's `xxhash64(s)`, shared with [[Simhash]] */
  private[expressions] def tokenHash(s: String): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, Seed)
  }

  /** static eval shared by interpreted and generated code paths */
  def evalUtf8(input: UTF8String, w: Int): ArrayData = {
    val toks = tokens(input.toString)
    if (toks.length < w) {
      return new GenericArrayData(Array(tokenHash(toks.mkString(" "))))
    }
    val th = new Array[Long](toks.length)
    var j = 0
    while (j < toks.length) {
      th(j) = tokenHash(toks(j))
      j += 1
    }
    val out = new Array[Long](toks.length - (w - 1))
    var i = 0
    while (i < out.length) {
      // Spark's xxhash64 over array<long>: fold hashLong over elements
      var h = Seed
      var k = 0
      while (k < w) {
        h = XXH64.hashLong(th(i + k), h)
        k += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
}
