package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.gen.TranscriptGen
import graft.plans.ExtractionJob
import graft.plans.ExtractionJob.Config

/** Checkpoint/resume + lineage manifest (north_rule): a killed run's
  * completed buckets are skipped on resume and the final table is identical
  * to a single-shot run.
  */
class ResumeSpec extends SparkSpecBase {

  private val N = 4000L

  private def tmp(): String =
    Files.createTempDirectory("graft-job").toString

  test("single-shot run writes all buckets + consistent manifest") {
    val cfg = Config(tmp(), numBuckets = 8, saltChunk = 64)
    val in = TranscriptGen.inputDf(spark, N)
    ExtractionJob.run(spark, in, cfg)

    val out = ExtractionJob.output(spark, cfg)
    assert(out.count() === N)

    val manifest = spark.read.parquet(ExtractionJob.manifestDir(cfg))
    assert(manifest.agg(sum("turns_processed")).head.getLong(0) === N)

    // manifest metrics must equal a recomputation from the output table
    val recomputed = out.groupBy("bucket").agg(
      count(lit(1)).as("t"),
      sum(col("blocks_total") - col("blocks_kept")).as("d"),
      sum(when(col("status") === "fallback", 1).otherwise(0)).as("f"))
    val joined = manifest.join(recomputed, "bucket")
    assert(joined.filter(
      col("turns_processed") =!= col("t") ||
        col("blocks_dropped") =!= col("d") ||
        col("parser_fallbacks") =!= col("f")).count() === 0)
  }

  test("kill/resume: completed buckets skipped, final table identical") {
    val cfgA = Config(tmp(), numBuckets = 8, saltChunk = 64)
    val cfgB = Config(tmp(), numBuckets = 8, saltChunk = 64)
    val in = TranscriptGen.inputDf(spark, N)

    // reference: single-shot run
    ExtractionJob.run(spark, in, cfgA)

    // "killed" run: only half the buckets complete, then resume
    ExtractionJob.run(spark, in, cfgB, onlyBuckets = Some(Seq(0, 1, 2, 3)))
    val afterKill = spark.read.parquet(ExtractionJob.manifestDir(cfgB))
    assert(afterKill.select("bucket").distinct().count() === 4)

    val resumed = ExtractionJob.run(spark, in, cfgB)
    // resume processed exactly the remaining buckets
    assert(resumed.select("bucket").distinct().count() === 4)
    val manifest = spark.read.parquet(ExtractionJob.manifestDir(cfgB))
    assert(manifest.select("bucket").distinct().count() === 8)
    assert(manifest.count() === 8) // no bucket processed twice

    // byte-identical final content vs the single-shot run
    val a = ExtractionJob.output(spark, cfgA)
    val b = ExtractionJob.output(spark, cfgB)
    assert(a.count() === N && b.count() === N)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("tokenizer caps set the truncated flag; manifest counts the turns") {
    import spark.implicits._
    val maxR = graft.expressions.PdfGlyphRuns.MaxRuns
    val maxC = graft.expressions.PdfGlyphRuns.MaxChunks
    val maxB = graft.expressions.HtmlBlocks.MaxBlocks
    // past the CHUNK bound (an over-window payload inside the bound is
    // chunk-processed and must NOT flag — TruncationSpec)
    val bigPdf = "%PDF-SIM\n" +
      (0 until maxC * maxR + 50).map(i => s"G 40 ${20 * i} 12 tok$i")
        .mkString("\n")
    val okPdf = "%PDF-SIM\nG 40 20 12 alpha\nG 40 40 12 beta"
    val bigHtml =
      (0 until maxB + 10).map(i => s"<p>block $i has enough words to keep " +
        "one two three four five six</p>").mkString("<html>", "", "</html>")
    val okHtml = "<html><p>one small content block with enough words here" +
      "</p></html>"
    val in = Seq(
      ("c0", 0, "user", bigPdf, null: String),
      ("c0", 1, "user", okPdf, null: String),
      ("c0", 2, "user", bigHtml, null: String),
      ("c0", 3, "user", okHtml, null: String),
      ("c0", 4, "user", "plain words only", null: String))
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
    val flags = graft.operators.Extract(in)
      .select("turn_idx", "truncated").collect()
      .map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    assert(flags === Map(0 -> true, 1 -> false, 2 -> true, 3 -> false,
      4 -> false))
    // lineage: the manifest records the dropped-content turns per bucket
    val cfg = Config(tmp(), numBuckets = 2, saltChunk = 64)
    val manifest = ExtractionJob.run(spark, in, cfg)
    assert(manifest.agg(sum("turns_truncated")).head.getLong(0) === 2L)
  }

  test("wave-commit: staged manifests, kill mid-run loses one wave at most") {
    val cfgA = Config(tmp(), numBuckets = 8, saltChunk = 64)
    val cfgW = Config(tmp(), numBuckets = 8, saltChunk = 64,
      waveBuckets = Some(3)) // 8 buckets → waves {0,1,2},{3,4,5},{6,7}
    val in = TranscriptGen.inputDf(spark, N)

    // reference: single-commit run
    ExtractionJob.run(spark, in, cfgA)

    // "killed after two waves": only the first six bucket ids ran
    val partial = ExtractionJob.run(spark, in, cfgW,
      onlyBuckets = Some(Seq(0, 1, 2, 3, 4, 5)))
    assert(partial.select("bucket").distinct().count() === 6)

    // resume (full wave run): only the last wave's buckets process
    val resumed = ExtractionJob.run(spark, in, cfgW)
    assert(resumed.select("bucket").distinct().count() === 2)

    val manifest = spark.read.option("mergeSchema", "true")
      .parquet(ExtractionJob.manifestDir(cfgW))
    assert(manifest.select("bucket").distinct().count() === 8)
    assert(manifest.count() === 8) // no bucket committed twice

    // wave-committed table is identical to the single-commit one
    val a = ExtractionJob.output(spark, cfgA)
    val b = ExtractionJob.output(spark, cfgW)
    assert(a.count() === N && b.count() === N)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("third run over a complete table is a no-op") {
    val cfg = Config(tmp(), numBuckets = 4, saltChunk = 64)
    val in = TranscriptGen.inputDf(spark, 500L)
    ExtractionJob.run(spark, in, cfg)
    val again = ExtractionJob.run(spark, in, cfg)
    assert(again.count() === 0)
    assert(ExtractionJob.output(spark, cfg).count() === 500L)
  }

  test("resume tolerates manifests written before a metrics-column addition") {
    val cfg = Config(tmp(), numBuckets = 4, saltChunk = 64)
    val in = TranscriptGen.inputDf(spark, 500L)
    ExtractionJob.run(spark, in, cfg, onlyBuckets = Some(Seq(0, 1)))
    // simulate a pre-upgrade table: strip the newest metrics column from
    // the existing manifest files, then resume with the current writer —
    // the manifest dir now mixes schemas and must read with mergeSchema
    val mdir = ExtractionJob.manifestDir(cfg)
    val oldSchema = spark.read.parquet(mdir).drop("turns_truncated")
    val staging = tmp()
    oldSchema.write.mode("overwrite").parquet(staging)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(mdir))
    java.nio.file.Files.move(java.nio.file.Paths.get(staging),
      java.nio.file.Paths.get(mdir))

    val resumed = ExtractionJob.run(spark, in, cfg)
    // only the two missing buckets processed; their rows carry the column
    assert(resumed.select("bucket").distinct().count() === 2)
    assert(resumed.agg(sum("turns_truncated")).head.getLong(0) >= 0L)
    val all = spark.read.option("mergeSchema", "true")
      .parquet(mdir)
    assert(all.select("bucket").distinct().count() === 4)
    // pre-upgrade rows surface null for the new column, new rows a value
    assert(all.filter(col("turns_truncated").isNull).count() === 2)
    assert(all.filter(col("turns_truncated").isNotNull).count() === 2)
  }

  test("salting splits a mega-conversation across buckets; order survives") {
    import spark.implicits._
    // north_rule skew clause: one conversation with 16 salt-chunks of
    // turns must NOT serialize into a single bucket/task — the salted
    // key hash(conv_id, turn_idx/saltChunk) spreads the chunks, while
    // each chunk stays whole (per-turn work never splits mid-chunk) and
    // the conversation reassembles exactly by (conv_id, turn_idx).
    val cfg = Config(tmp(), numBuckets = 8, saltChunk = 64)
    val mega = (0 until 16 * 64).map(i =>
      ("mega", i, "user", s"turn $i with some plain words", null: String))
    val small = (0 until 10).map(i =>
      (s"c$i", 0, "user", "tiny turn", null: String))
    val in = spark.createDataFrame(mega ++ small)
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
    ExtractionJob.run(spark, in, cfg)
    val out = ExtractionJob.output(spark, cfg).filter($"conv_id" === "mega")

    val buckets = out.select("bucket").distinct().count()
    assert(buckets >= 2, s"mega-conversation serialized into $buckets bucket")
    // no bucket hoards the conversation: the largest share is bounded by
    // its chunk assignment, strictly below the whole conversation
    val maxShare = out.groupBy("bucket").count()
      .agg(max("count")).head.getLong(0)
    assert(maxShare < 16L * 64, s"one bucket holds all $maxShare turns")
    // chunks stay whole: every saltChunk-run of turns maps to ONE bucket
    val splitChunks = out
      .groupBy(floor($"turn_idx" / 64).as("chunk"))
      .agg(countDistinct("bucket").as("nb")).filter($"nb" > 1).count()
    assert(splitChunks === 0, "a salt chunk split across buckets")
    // lossless reassembly in stable turn order
    val turns = out.orderBy("turn_idx").select("turn_idx")
      .as[Int].collect().toSeq
    assert(turns === (0 until 16 * 64))
  }

  test("custom bucketExpr with ids outside 0..numBuckets-1 resumes exactly") {
    // the resume prune and the manifest's this-run filter both work by
    // COMPLEMENT (everything except prior-complete ids), never by
    // enumerating 0 until numBuckets — a date-derived or offset bucket
    // key must round-trip kill/resume exactly like the default hash key
    val cfgA = Config(tmp(), numBuckets = 3, saltChunk = 64,
      bucketExpr = Some(pmod(col("turn_idx"), lit(3)) + lit(100)))
    val cfgB = Config(tmp(), numBuckets = 3, saltChunk = 64,
      bucketExpr = Some(pmod(col("turn_idx"), lit(3)) + lit(100)))
    val in = TranscriptGen.inputDf(spark, 900L)

    ExtractionJob.run(spark, in, cfgA) // reference single-shot
    // killed run: one out-of-range bucket id completes, then resume
    ExtractionJob.run(spark, in, cfgB, onlyBuckets = Some(Seq(100)))
    val resumed = ExtractionJob.run(spark, in, cfgB)
    assert(resumed.select("bucket").distinct().count() === 2)
    val manifest = spark.read.parquet(ExtractionJob.manifestDir(cfgB))
    assert(manifest.select("bucket").collect().map(_.getInt(0)).sorted
      === Array(100, 101, 102))
    assert(manifest.count() === 3) // no bucket committed twice
    assert(manifest.agg(sum("turns_processed")).head.getLong(0) === 900L)

    val a = ExtractionJob.output(spark, cfgA)
    val b = ExtractionJob.output(spark, cfgB)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    // a third run is a no-op even though no id is below numBuckets
    assert(ExtractionJob.run(spark, in, cfgB).count() === 0)
  }

  test("custom bucketExpr ids are discovered under wave commits") {
    // the wave loop's candidate space is 0 until numBuckets ONLY for the
    // default hash key; a custom expr's ids are discovered by a pruned
    // distinct scan — without it, out-of-range ids match no wave and the
    // job silently writes nothing
    val cfg = Config(tmp(), numBuckets = 3, saltChunk = 64,
      bucketExpr = Some(pmod(col("turn_idx"), lit(3)) + lit(100)),
      waveBuckets = Some(2)) // 2 waves: [100,101], [102]
    val in = TranscriptGen.inputDf(spark, 300L)
    val m = ExtractionJob.run(spark, in, cfg)
    assert(m.select("bucket").collect().map(_.getInt(0)).sorted
      === Array(100, 101, 102))
    assert(m.agg(sum("turns_processed")).head.getLong(0) === 300L)
    assert(ExtractionJob.output(spark, cfg).count() === 300L)
    // resume across the wave path is still a no-op
    assert(ExtractionJob.run(spark, in, cfg).count() === 0)
  }

  test("wave mode with zero candidate buckets returns an empty manifest") {
    // empty input under a custom key discovers no ids; the run must be a
    // no-op returning an empty manifest frame (one empty wave creates the
    // dirs), not a PATH_NOT_FOUND on the manifest read
    val cfg = Config(tmp(), numBuckets = 3, saltChunk = 64,
      bucketExpr = Some(pmod(col("turn_idx"), lit(3)) + lit(100)),
      waveBuckets = Some(2))
    val empty = TranscriptGen.inputDf(spark, 100L).filter(lit(false))
    assert(ExtractionJob.run(spark, empty, cfg).count() === 0)
    // the dirs it created are a valid resume base for a real input
    val m = ExtractionJob.run(spark, TranscriptGen.inputDf(spark, 100L), cfg)
    assert(m.agg(sum("turns_processed")).head.getLong(0) === 100L)
  }

  test("a NULL custom bucket key fails the job fast with a clear message") {
    // a null key would write under __HIVE_DEFAULT_PARTITION__, NPE the
    // driver-side id collects, and silently drop the rows from the next
    // resume's complement filter — the per-row raise_error guard turns
    // all of that into an immediate, named failure
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    val in = TranscriptGen.inputDf(spark, 50L)
    for (waves <- Seq(None, Some(2))) {
      val cfg = Config(tmp(), numBuckets = 3, saltChunk = 64,
        bucketExpr = Some(when(col("turn_idx") === 7, lit(null))
          .otherwise(pmod(col("turn_idx"), lit(3)))),
        waveBuckets = waves)
      val ex = intercept[Exception] { ExtractionJob.run(spark, in, cfg) }
      assert(messages(ex).contains("NULL bucket id"), s"waves=$waves")
    }
  }

  test("output ordering is stable within (bucket) partitions") {
    val cfg = Config(tmp(), numBuckets = 4, saltChunk = 64)
    ExtractionJob.run(spark, TranscriptGen.inputDf(spark, 1000L), cfg)
    // within every written file, rows must be sorted by (conv_id, turn_idx)
    val out = ExtractionJob.output(spark, cfg)
      .withColumn("file", input_file_name())
      .withColumn("rn", monotonically_increasing_id())
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("file").orderBy("rn")
    val bad = out
      .withColumn("prev_conv", lag("conv_id", 1).over(w))
      .withColumn("prev_turn", lag("turn_idx", 1).over(w))
      .filter(col("prev_conv").isNotNull &&
        (col("prev_conv") > col("conv_id") ||
          (col("prev_conv") === col("conv_id") &&
            col("prev_turn") >= col("turn_idx"))))
    assert(bad.count() === 0)
  }

  /** parquet files in the manifest dir (one per commit) */
  private def manifestFiles(cfg: Config): Int =
    Option(new java.io.File(ExtractionJob.manifestDir(cfg)).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** Spark jobs started by `body` */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.graftbridge.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.graftbridge.ListenerBusDrain(sc) }
    finally sc.removeSparkListener(l)
    jobs.get
  }

  test("run returns exactly the rows it appended, one manifest file per commit") {
    val in = TranscriptGen.inputDf(spark, 1000L)
    def readManifest(cfg: Config) =
      spark.read.option("mergeSchema", "true").parquet(ExtractionJob.manifestDir(cfg))
    def sameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

    // single commit: the returned frame IS the manifest, wall_ms included
    val cfg = Config(tmp(), numBuckets = 4, saltChunk = 64)
    val single = ExtractionJob.run(spark, in, cfg)
    assert(single.count() === 4)
    assert(single.schema === readManifest(cfg).schema)
    assert(sameRows(single, readManifest(cfg)))
    assert(manifestFiles(cfg) === 1)

    // wave resume: 2 + 3 commits, each one file; the resume returns the
    // manifest's rows minus the partial run's
    val cfgW = Config(tmp(), numBuckets = 8, saltChunk = 64, waveBuckets = Some(3))
    val partial = ExtractionJob.run(spark, in, cfgW, onlyBuckets = Some(0 until 6))
    assert(manifestFiles(cfgW) === 2)
    val resumed = ExtractionJob.run(spark, in, cfgW)
    assert(manifestFiles(cfgW) === 5)
    assert(resumed.select("bucket").collect().map(_.getInt(0)).sorted === Array(6, 7))
    assert(sameRows(resumed, readManifest(cfgW).exceptAll(partial)))
    assert(sameRows(partial.union(resumed), readManifest(cfgW)))
  }

  test("Spark jobs per commit stay capped") {
    // one commit = data write (2 jobs) + manifest aggregate collect (2) +
    // one-file manifest append (1); a resume adds one manifest snapshot
    // (3) and its all-done first wave. A second manifest aggregate or a
    // read of `_manifest` after a write breaks the caps.
    val in = TranscriptGen.inputDf(spark, 1000L)
    val cfg = Config(tmp(), numBuckets = 4, saltChunk = 64)
    val single = jobsOf { ExtractionJob.run(spark, in, cfg).collect(); () }
    assert(single <= 5, s"single commit ran $single Spark jobs")
    val cfgW = Config(tmp(), numBuckets = 8, saltChunk = 64, waveBuckets = Some(3))
    ExtractionJob.run(spark, in, cfgW, onlyBuckets = Some(0 until 6))
    val resume = jobsOf { ExtractionJob.run(spark, in, cfgW).collect(); () }
    assert(resume <= 14, s"3-wave resume ran $resume Spark jobs")
  }

  for ((field, cfg) <- Seq(
      "numBuckets" -> ((dir: String) => Config(dir, numBuckets = 0)),
      "saltChunk" -> ((dir: String) => Config(dir, saltChunk = 0))))
    test(s"a non-positive $field is rejected before anything is written") {
      // a zero saltChunk would make every salted key NULL (salting off
      // with ANSI off, DIVIDE_BY_ZERO in the first write task with it on)
      val dir = tmp()
      val ex = intercept[IllegalArgumentException] {
        ExtractionJob.run(spark, TranscriptGen.inputDf(spark, 50L), cfg(dir))
      }
      assert(ex.getMessage.contains(s"$field must be positive, got 0"))
      assert(new java.io.File(dir).list().isEmpty)
    }

  test("SubmitMain fails on a numeric argument that does not parse, with the usage") {
    // parsed before the session starts: a bad argument never reaches a job
    val dir = tmp()
    for (args <- Seq(Seq("gen:ten", dir), Seq("gen:10", dir, "x"),
        Seq("gen:10", dir, "8", "2.5"))) {
      val ex = intercept[IllegalArgumentException] { SubmitMain.main(args.toArray) }
      assert(ex.getMessage.contains("usage: spark-submit"), args)
    }
    assert(new java.io.File(dir).list().isEmpty)
  }

  test("custom-key discovery is capped at MaxBucketIds and fails fast") {
    // more distinct ids than the cap: the bounded probe rejects the key
    // before anything is written
    val n = ExtractionJob.MaxBucketIds + 1
    val in = spark.range(n).select(col("id").cast("string").as("conv_id"),
      lit(0).as("turn_idx"), lit("user").as("role"), lit("x").as("text"),
      lit(null).cast("string").as("tool"))
    val cfg = Config(tmp(), numBuckets = 4, saltChunk = 64,
      bucketExpr = Some(col("conv_id").cast("int")), waveBuckets = Some(2))
    val ex = intercept[IllegalArgumentException] { ExtractionJob.run(spark, in, cfg) }
    assert(ex.getMessage.contains("bucketExpr"))
    assert(ex.getMessage.contains(ExtractionJob.MaxBucketIds.toString))
    assert(!new java.io.File(ExtractionJob.dataDir(cfg)).exists())
  }
}
