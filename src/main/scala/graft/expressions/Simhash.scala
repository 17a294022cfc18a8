package graft.expressions

import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of whitespace-tokenized text as ONE native call,
  * `simhash64(text)` ([[NativeFunction]]) — the escalation path VecDot
  * already took: the declarative form (`DeclarativeTwins.simhashFromHashes`
  * in `src/test`) runs 64 separate `aggregate`
  * passes over the token-hash array per row (measured 8 s at sf0.1);
  * this evaluates tokenize → xxhash64 → 64 bit votes in a single pass
  * with a stack vote array and no allocations beyond the token walk.
  *
  * Semantics are IDENTICAL to the declarative pipeline
  * `simhashFromHashes(tokenHashes(text))` (asserted by DedupSpec):
  * tokens and token hashes as [[ShingleHashes]] takes them (Spark's
  * `split(trim(text), "\s+")` and `xxhash64`), bit b set iff the
  * +1/−1 vote over token bits is strictly positive.
  *
  * Reference analog: document fingerprinting for near-dup detection —
  * the graft-side LLM-data-pipeline operator family (builder prompt);
  * hashing role as in `pipeline.py:2580-2585` (sha256 lineage hashes).
  */
object Simhash {

  /** static eval shared by interpreted and generated code paths */
  def evalUtf8(input: UTF8String): Long = {
    val votes = new Array[Int](64)
    val toks = ShingleHashes.tokens(input.toString)
    var t = 0
    while (t < toks.length) {
      val h = ShingleHashes.tokenHash(toks(t))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
