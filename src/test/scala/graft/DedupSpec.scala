package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.GraftFunctions.simhash64

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"

  test("exact dedup groups identical texts under one keeper") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other text"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(docs).collect()
    assert(out.length === 2)
    val dupGroup = out.find(_.getAs[Long]("dup_count") == 2L).get
    assert(dupGroup.getAs[Long]("keeper_id") === 1L)
  }

  test("shingles: w-gram set, degenerate short text") {
    val df = Seq((0L, "a b c d")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
    assert(df.head().getSeq[String](0) === Seq("a b c", "b c d"))
    val short = Seq((0L, "a b")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
    assert(short.head().getSeq[String](0) === Seq("a b"))
  }

  test("minhash+LSH finds near-dups, skips dissimilar docs") {
    val docs = Seq(
      1L -> base,
      2L -> (base + " phi chi"), // near-dup of 1
      3L -> "totally different words nothing shared here at all friend",
      4L -> "another unrelated document about spark and catalyst plans")
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashDedup(docs, numHashes = 32, bands = 8,
      shingleWidth = 3, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    val j = pairs.head.getAs[Double]("jaccard")
    // shingle sets: 18 shared, |a|=18, |b|=20 → 18/20
    assert(math.abs(j - 0.9) < 1e-6)
  }

  test("minhash broadcast and shuffle-join candidate paths return equal rows") {
    val docs = Seq(
      1L -> base,
      2L -> (base + " phi chi"),
      3L -> (base + " psi"),
      4L -> "totally different words nothing shared here at all friend")
      .toDF("doc_id", "text")
    def run(bc: Boolean) =
      Dedup.minhashDedup(docs, numHashes = 32, bands = 8, shingleWidth = 3,
          threshold = 0.3, broadcastCandidates = bc)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Double]("jaccard"))).toSet
    val bcSet = run(bc = true)
    assert(bcSet === run(bc = false))
    assert(bcSet.nonEmpty)
  }

  test("minhash signature approximates jaccard") {
    val df = Seq(1L -> base, 2L -> (base + " phi chi")).toDF("doc_id", "text")
    val sigs = DeclarativeTwins.minhashed(df, numHashes = 128).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    val est = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b } / 128.0
    assert(math.abs(est - 0.9) < 0.15) // 128 hashes → se ≈ 0.027
  }

  test("simhash: near-dup pairs have small hamming, unrelated large") {
    val df = Seq(
      1L -> base, 2L -> (base + " phi"),
      3L -> "completely disjoint vocabulary paragraph regarding databases")
      .toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) <= 6)
    assert(ham(sh(1L), sh(3L)) > 10)
  }

  test("native Simhash expression equals the declarative 64-vote pipeline") {
    val df = Seq("a b c", "  alpha\tbeta  gamma ", "", "single",
      "x y z w 123 l23", base).toDF("text")
    val a = df.select(simhash64(col("text")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    val b = df.select(
        DeclarativeTwins.simhashFromHashes(DeclarativeTwins.tokenHashes(col("text"))).as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(a === b)
  }

  test("simhashDedup recall contract: exactly the brute-force hamming<=3 pairs") {
    val docs = (0L until 60L).map { i =>
      val extra =
        if (i % 3 == 0) " phi" else if (i % 3 == 1) " chi psi" else ""
      i -> (base + s" tok${i / 6}" + extra)
    }.toDF("doc_id", "text")
    val hs = docs.select(col("doc_id"), simhash64(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- hs.keys; b <- hs.keys
      if a < b && java.lang.Long.bitCount(hs(a) ^ hs(b)) <= 3
    } yield (a, b)).toSet
    assert(expected.nonEmpty) // fixture sanity: identical-text pairs exist
    val got = Dedup.simhashDedup(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    // the 4-chunk banding contract rejects a wider bound outright
    intercept[IllegalArgumentException] {
      Dedup.simhashDedup(docs, maxHamming = 6)
    }
  }

  test("embeddingNearDup plans a block equi-join, never a nested loop") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = Dedup.embeddingNearDup(embs, threshold = 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("embedding cosine near-dup on constructed vectors") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)), // cos ≈ 0.995 with 1
      (3L, Array(0.0f, 1.0f, 0.0f))) // orthogonal to 1
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(e, threshold = 0.95).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(out.head.getAs[Double]("cos") > 0.99)
  }

  test("zero-norm embeddings score 0, never throw, never pair (ANSI)") {
    // one corrupt all-zero vector at 10^12 rows must not raise
    // DIVIDE_BY_ZERO under ANSI mode; it is "similar to nothing"
    val e = Seq(
      (1L, Array(0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f)),
      (4L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(e, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((3L, 4L)))
    val cos = e.select(Dedup.cosine(
      col("embedding").cast("array<double>"),
      col("embedding").cast("array<double>")).as("c"))
      .collect().map(_.getDouble(0))
    assert(cos.toSeq === Seq(0.0, 0.0, 1.0, 1.0)) // self-cos of zero vec = 0
  }

  test("native ShingleHashes equals the declarative slice-hash pipeline") {
    val df = Seq(base, base + " phi chi", "a b", "", "single",
      "  spaced   out\ttokens ", "\ttab lead", "trail ws \n")
      .toDF("text")
    val native = df.select(Dedup.shingleHashes(col("text"), 3).as("hs"))
      .collect().map(_.getSeq[Long](0)).toSeq
    val decl = df.select(DeclarativeTwins.shingleHashesDeclarative(col("text"), 3).as("hs"))
      .collect().map(_.getSeq[Long](0)).toSeq
    assert(native === decl)
  }

  test("native MinhashSig equals the declarative signature pipeline") {
    val df = Seq(base, base + " phi chi", "a b", "", "single",
      "  spaced   out\ttokens ").toDF("text")
      .select(Dedup.shingleHashes(col("text"), 3).as("hs"))
    val native = df.select(
        Dedup.minhashSig(col("hs"), 32).as("sig"))
      .collect().map(_.getSeq[Long](0)).toSeq
    val decl = df.select(
        DeclarativeTwins.minhashSignature(
          transform(col("hs"), h => pmod(h, lit(2147483647L))), 32).as("sig"))
      .collect().map(_.getSeq[Long](0)).toSeq
    assert(native === decl)
  }

  test("lshOverHashedShingles: the t11 cluster fixture yields exactly the " +
      "banded subset of the >=0.6-Jaccard pairs") {
    // 4-member clusters over a 40-element base hash set; member k
    // replaces its last 5k elements → J(·,k) = (40−5k)/(40+5k)
    val n = 80 // 20 clusters
    val hsh = (0L until n).map { d =>
      val (c, k) = (d / 4, (d % 4).toInt)
      d -> (0 until 40).map(j =>
        if (j < 40 - k * 5) c * 100000L + j
        else c * 100000L + 1000 + k * 100 + j).toArray
    }.toDF("doc_id", "sh")
    val got = Dedup.lshOverHashedShingles(hsh, numHashes = 32, bands = 8,
        threshold = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    // every returned pair is within-cluster with the closed-form jaccard
    got.foreach { case (a, b, j) =>
      assert(a / 4 === b / 4)
      val k = math.max(a % 4, b % 4).toInt
      assert(k <= 2) // J(·,3) = 0.455 < 0.6 never passes verify
      assert(math.abs(j - (40.0 - 5 * k) / (40 + 5 * k)) < 1e-6)
    }
    // high-J (0,1) pairs band with P ≈ 0.97 — expect most of 20 clusters
    assert(got.count { case (a, b, _) => a % 4 == 0 && b % 4 == 1 } >= 15)
    // verify-side filter is live: some banded candidate had J < 0.6
    // (member-3 pairs collide on bands occasionally yet never appear)
    assert(got.forall { case (_, b, _) => b % 4 <= 2 })
  }

  test("simhashPairs: nested bit-flip fixture yields the 5 hamming<=3 " +
      "pairs per cluster and drops the 4-flip pair") {
    val flips = Seq(7, 23, 41, 55).map(1L << _)
    val sigs = (0L until 80L).map { d =>
      val (c, k) = (d / 4, (d % 4).toInt)
      val v0 = ((c * 6789) % 32768 << 48) | ((c * 28561) % 65536 << 32) |
        ((c * 12345) % 65536 << 16) | ((c * 40503) % 65536)
      val nf = if (k == 3) 4 else k // member 3 flips all four bits
      d -> (v0 ^ flips.take(nf).foldLeft(0L)(_ | _))
    }.toDF("doc_id", "sh")
    val got = Dedup.simhashPairs(sigs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = (0L until 80L by 4).flatMap { d0 =>
      Seq((d0, d0 + 1, 1), (d0, d0 + 2, 2), (d0 + 1, d0 + 2, 1),
        (d0 + 1, d0 + 3, 3), (d0 + 2, d0 + 3, 2))
    }.toSet // (0,3) hamming 4: differs in ALL four chunks — not banded
    assert(got === expected)
  }

  test("simhashPairs drops null signatures before banding " +
      "(no null-bucket quadratic pairing)") {
    val sigs = Seq(1L -> Option(42L), 2L -> Option(42L),
      3L -> (None: Option[Long]), 4L -> (None: Option[Long]))
      .toDF("doc_id", "sh")
    val got = Dedup.simhashPairs(sigs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical non-null sigs pair; the two null-sig docs never do
    assert(got === Set((1L, 2L)))
    // and the guard sits PRE-banding (analyzed plan — the optimizer
    // folds it into this local-relation fixture's scan, r1 gotcha)
    val plan = Dedup.simhashPairs(sigs).queryExecution.analyzed.toString
    assert(plan.toLowerCase.contains("isnotnull(sh"))
  }

  test("minhash signature values are stable across partitioning") {
    val docs = (0L until 50L).map(i => i -> s"$base token$i extra words here")
    val a = DeclarativeTwins.minhashed(docs.toDF("doc_id", "text").repartition(1))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = DeclarativeTwins.minhashed(docs.toDF("doc_id", "text").repartition(7))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a === b)
  }
}
