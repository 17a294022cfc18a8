package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
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

  private def tmp(): String = tempDir("graft-job")

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
    // an empty todo list: the manifest snapshot, read on the driver, is
    // the run's only work
    val snapshot = jobsOf { ExtractionJob.completedBuckets(spark, cfg).collect(); () }
    var again: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf { again = ExtractionJob.run(spark, in, cfg); () }
    assert(snapshot === 0 && jobs === 0,
      s"third run ran $jobs Spark jobs, its snapshot $snapshot")
    assert(again.count() === 0)
    assert(ExtractionJob.output(spark, cfg).count() === 500L)
  }

  test("resume tolerates manifests written before a metrics-column addition") {
    val cfg = Config(tmp(), numBuckets = 4, saltChunk = 64)
    val in = TranscriptGen.inputDf(spark, 500L)
    ExtractionJob.run(spark, in, cfg, onlyBuckets = Some(Seq(0, 1)))
    // simulate a pre-upgrade table: strip the newest metrics column and
    // the bucket key from the existing manifest files, then resume with
    // the current writer — the manifest dir now mixes schemas, and the
    // legacy rows' NULL key resumes as if it matched
    val mdir = ExtractionJob.manifestDir(cfg)
    val oldSchema = spark.read.parquet(mdir).drop("turns_truncated", "bucket_key")
    val staging = tmp()
    oldSchema.write.mode("overwrite").parquet(staging)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(mdir))
    java.nio.file.Files.move(java.nio.file.Paths.get(staging),
      java.nio.file.Paths.get(mdir))

    val resumed = ExtractionJob.run(spark, in, cfg)
    // only the two missing buckets processed; their rows carry the columns
    assert(resumed.select("bucket").distinct().count() === 2)
    assert(resumed.agg(sum("turns_truncated")).head.getLong(0) >= 0L)
    val all = spark.read.option("mergeSchema", "true")
      .parquet(mdir)
    assert(all.select("bucket").distinct().count() === 4)
    // pre-upgrade rows surface null for the new columns, new rows a value
    for (c <- Seq("turns_truncated", "bucket_key")) {
      assert(all.filter(col(c).isNull).count() === 2, c)
      assert(all.filter(col(c).isNotNull).count() === 2, c)
    }
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

  test("custom bucketExpr ids in 0..numBuckets-1 kill/resume exactly " +
    "under single and wave commits") {
    // a custom key in range plans like the default key: the killed run's
    // ids are skipped and the table equals an uninterrupted run
    val in = TranscriptGen.inputDf(spark, 900L)
    val cfgA = Config(tmp(), numBuckets = 3, saltChunk = 64,
      bucketExpr = Some(pmod(col("turn_idx"), lit(3))))
    ExtractionJob.run(spark, in, cfgA) // reference single-shot
    val a = ExtractionJob.output(spark, cfgA)
    for (waves <- Seq(None, Some(1))) {
      val cfgB = cfgA.copy(outDir = tmp(), waveBuckets = waves)
      ExtractionJob.run(spark, in, cfgB, onlyBuckets = Some(Seq(1)))
      val resumed = ExtractionJob.run(spark, in, cfgB)
      assert(resumed.select("bucket").collect().map(_.getInt(0)).sorted === Array(0, 2),
        s"waves=$waves")
      val manifest = spark.read.parquet(ExtractionJob.manifestDir(cfgB))
      assert(manifest.count() === 3, s"waves=$waves") // no bucket committed twice
      assert(manifest.agg(sum("turns_processed")).head.getLong(0) === 900L)
      val b = ExtractionJob.output(spark, cfgB)
      assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
        s"waves=$waves")
      assert(ExtractionJob.run(spark, in, cfgB).count() === 0)
    }
  }

  test("a custom bucketExpr id outside 0..numBuckets-1 fails fast, committing no bucket") {
    // an out-of-range id is in no wave: unguarded, its rows would be
    // silently left out. The guard fails the first wave instead, even
    // when the bad id is on one row among in-range ones
    val in = TranscriptGen.inputDf(spark, 300L)
    for ((waves, bad) <- Seq(None -> 3, Some(2) -> -1)) {
      val cfg = Config(tmp(), numBuckets = 3, saltChunk = 64,
        bucketExpr = Some(when(col("turn_idx") === 7, lit(bad))
          .otherwise(pmod(col("turn_idx"), lit(3)))),
        waveBuckets = waves)
      val ex = intercept[Exception] { ExtractionJob.run(spark, in, cfg) }
      assert(messages(ex).contains("bucketExpr"), s"waves=$waves")
      assert(messages(ex).contains("[0, 3)"), s"waves=$waves")
      assert(!new java.io.File(ExtractionJob.manifestDir(cfg)).exists(), s"waves=$waves")
      assert(Option(new java.io.File(ExtractionJob.dataDir(cfg)).list()).toSeq.flatten
        .forall(!_.startsWith("bucket=")), s"waves=$waves")
    }
  }

  test("a scattered-done resume commits waves over the remaining ids only") {
    // {0,3} of 8 done, waves of 3: the todo list 1,2,4,5,6,7 commits as
    // two full waves, and no wave holds a done id
    val in = TranscriptGen.inputDf(spark, N)
    val cfgA = Config(tmp(), numBuckets = 8, saltChunk = 64)
    val cfgW = cfgA.copy(outDir = tmp(), waveBuckets = Some(3))
    ExtractionJob.run(spark, in, cfgA) // reference: uninterrupted run
    ExtractionJob.run(spark, in, cfgW, onlyBuckets = Some(Seq(0, 3)))
    val resumed = ExtractionJob.run(spark, in, cfgW)
    assert(resumed.select("bucket").collect().map(_.getInt(0)).sorted
      === Array(1, 2, 4, 5, 6, 7))
    assert(manifestFiles(cfgW) === 3) // the partial run's wave + two
    val manifest = spark.read.parquet(ExtractionJob.manifestDir(cfgW))
    assert(manifest.count() === 8)
    assert(manifest.select("bucket").distinct().count() === 8)
    val a = ExtractionJob.output(spark, cfgA)
    val b = ExtractionJob.output(spark, cfgW)
    assert(a.count() === N && b.count() === N)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("a resume under another bucket key fails fast and leaves data/ unchanged") {
    // buckets {0,1} complete at numBuckets=4, then a resume at 8 into the
    // same outDir: unchecked, it re-bucketed every row and wrote most of
    // them a second time (25,622 rows for 20,000 keys at 20 k turns)
    val in = TranscriptGen.inputDf(spark, 1000L)
    val cfg4 = Config(tmp(), numBuckets = 4, saltChunk = 64)
    ExtractionJob.run(spark, in, cfg4, onlyBuckets = Some(Seq(0, 1)))
    def listing: Seq[(String, Long, Long)] = {
      val root = java.nio.file.Paths.get(ExtractionJob.dataDir(cfg4))
      val files = Files.walk(root)
      try files.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].toFile)
        .map(f => (root.relativize(f.toPath).toString, f.length, f.lastModified)).sorted
      finally files.close()
    }
    val before = listing
    val ex = intercept[IllegalArgumentException] {
      ExtractionJob.run(spark, in, cfg4.copy(numBuckets = 8))
    }
    for (n <- Seq(4, 8))
      assert(ex.getMessage.contains(ExtractionJob.bucketCol(n, 64).toString), ex.getMessage)
    assert(listing === before)
    // the same key still resumes
    ExtractionJob.run(spark, in, cfg4)
    assert(ExtractionJob.output(spark, cfg4).count() === 1000L)
  }

  test("wave mode with zero candidate buckets returns an empty manifest") {
    // an empty todo list plans no wave: the run starts no Spark job,
    // creates no dir and returns an empty frame with the manifest schema
    val in = TranscriptGen.inputDf(spark, 100L)
    val cfg = Config(tmp(), numBuckets = 3, saltChunk = 64, waveBuckets = Some(2))
    var none: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { none = ExtractionJob.run(spark, in, cfg, onlyBuckets = Some(Nil)); () }
      === 0)
    assert(none.count() === 0)
    assert(new java.io.File(cfg.outDir).list().isEmpty)
    // a zero-row input commits empty waves; the dirs they create are a
    // valid resume base for a real input. A wave that saw no row appends
    // no manifest file
    assert(ExtractionJob.run(spark, in.filter(lit(false)), cfg).count() === 0)
    assert(manifestFiles(cfg) === 0)
    val m = ExtractionJob.run(spark, in, cfg)
    assert(m.schema === none.schema)
    assert(m.agg(sum("turns_processed")).head.getLong(0) === 100L)
  }

  test("a NULL custom bucket key fails the job fast with a clear message") {
    // a null key would write under __HIVE_DEFAULT_PARTITION__ and match
    // no wave on the next run — the per-row raise_error guard turns that
    // into an immediate, named failure
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

  /** every message in a throwable's cause chain */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")

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

    // wave resume: 2 + 1 commits, each one file (the resume's one wave
    // is the two remaining ids); it returns the manifest's rows minus
    // the partial run's
    val cfgW = Config(tmp(), numBuckets = 8, saltChunk = 64, waveBuckets = Some(3))
    val partial = ExtractionJob.run(spark, in, cfgW, onlyBuckets = Some(0 until 6))
    assert(manifestFiles(cfgW) === 2)
    val resumed = ExtractionJob.run(spark, in, cfgW)
    assert(manifestFiles(cfgW) === 3)
    assert(resumed.select("bucket").collect().map(_.getInt(0)).sorted === Array(6, 7))
    assert(sameRows(resumed, readManifest(cfgW).exceptAll(partial)))
    assert(sameRows(partial.union(resumed), readManifest(cfgW)))
  }

  test("Spark jobs per commit stay capped") {
    // one commit = data write (2 jobs: its map stage, then sort plus
    // write); the manifest rows come from the write's own observation,
    // and the manifest append and the resume's snapshot run on the
    // driver and start no Spark job. A resume commits only the remaining
    // ids, here one wave. A manifest aggregate job, a Spark read or write
    // of `_manifest` or a wave of done ids breaks the caps.
    val in = TranscriptGen.inputDf(spark, 1000L)
    val cfg = Config(tmp(), numBuckets = 4, saltChunk = 64)
    val single = jobsOf { ExtractionJob.run(spark, in, cfg).collect(); () }
    assert(single <= 2, s"single commit ran $single Spark jobs")
    val cfgW = Config(tmp(), numBuckets = 8, saltChunk = 64, waveBuckets = Some(3))
    ExtractionJob.run(spark, in, cfgW, onlyBuckets = Some(0 until 6))
    val resume = jobsOf { ExtractionJob.run(spark, in, cfgW).collect(); () }
    assert(resume <= 2, s"one-wave resume ran $resume Spark jobs")
  }

  /** the five manifest sums per bucket of `rows`, by the aggregate the
    * manifest was once read back from `data/` with */
  private def readBack(rows: DataFrame): DataFrame =
    rows.groupBy("bucket").agg(
      count(lit(1)).as("turns_processed"),
      sum(col("blocks_total") - col("blocks_kept")).as("blocks_dropped"),
      sum(when(col("status") === "fallback", 1).otherwise(0)).as("parser_fallbacks"),
      sum(when(col("status") === "blank", 1).otherwise(0)).as("blank_turns"),
      sum(when(col("truncated"), 1).otherwise(0)).as("turns_truncated"))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("the manifest equals the five sums recomputed from the written table") {
    // the sums are observed in the write, never read back: they must
    // still describe the durable rows of every committed bucket
    val in = TranscriptGen.inputDf(spark, N)
    val sums = Seq("bucket", "turns_processed", "blocks_dropped", "parser_fallbacks",
      "blank_turns", "turns_truncated")
    def check(cfg: Config, what: String): Unit = {
      val manifest = spark.read.parquet(ExtractionJob.manifestDir(cfg)).select(sums.map(col): _*)
      assert(manifest.count() === cfg.numBuckets, what)
      assert(sameRows(manifest, readBack(ExtractionJob.output(spark, cfg))), what)
    }

    val single = Config(tmp(), numBuckets = 8, saltChunk = 64)
    ExtractionJob.run(spark, in, single)
    check(single, "single commit")

    val waves = single.copy(outDir = tmp(), waveBuckets = Some(3))
    ExtractionJob.run(spark, in, waves, onlyBuckets = Some(Seq(0, 3)))
    ExtractionJob.run(spark, in, waves)
    check(waves, "scattered-done resume in waves of 3")

    val custom = Config(tmp(), numBuckets = 3, saltChunk = 64,
      bucketExpr = Some(pmod(col("turn_idx"), lit(3))))
    ExtractionJob.run(spark, in, custom)
    check(custom, "custom bucketExpr")
  }

  test("the wave aggregate equals groupBy(bucket) on NULL operands and empty ids") {
    // Extract never emits a NULL block count or truncated flag, so the
    // job's own rows cannot show the NULL rule: sum(dropped) stays NULL
    // for a bucket with no non-NULL operand, and an id without rows has
    // no row at all. Each id's rows go through the write task's sums as
    // that id's task would get them
    import spark.implicits._
    val rows = Seq[(Int, Option[Int], Option[Int], String, Option[Boolean])](
      (0, Some(5), Some(2), "ok", Some(true)), (0, None, Some(1), "fallback", None),
      (1, None, None, "blank", Some(false)), (1, Some(3), None, "fallback", None),
      (4, Some(7), Some(7), "blank", Some(true)))
      .toDF("bucket", "blocks_total", "blocks_kept", "status", "truncated")
    val qe = rows.queryExecution
    val internal = qe.toRdd.map(_.copy()).collect()
    val writer = new graft.plans.BucketWriter(spark, tmp(), qe.executedPlan.output)
    val counted = Seq(0, 1, 2, 4).flatMap(id =>
      writer.write(id.toLong, internal.iterator.filter(_.getInt(0) == id)))
    val expected = readBack(rows).orderBy("bucket").collect().toSeq
    assert(counted.map(_.toSeq) === expected.map(_.toSeq))
    assert(counted.map(_.get(2)) === Seq(3L, null, 0L))
  }

  test("a wave plans one sort, one pass-through exchange of its ids and no insert command") {
    // each wave id is one partition of the exchange, its rows sorted once
    // in their task; the rows reach parquet through the wave's own write
    // tasks, never through an insert command and its committer
    import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    object Plans extends AdaptiveSparkPlanHelper
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = { plans.add(qe.executedPlan); () }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = { plans.add(qe.executedPlan); () }
    }
    // 5 ids in waves of 3: a wave of 3 ids and one of 2 (a 1-id wave
    // plans a single-partition exchange instead)
    val cfg = Config(tmp(), numBuckets = 5, saltChunk = 64, waveBuckets = Some(3))
    spark.listenerManager.register(listener)
    try {
      ExtractionJob.run(spark, TranscriptGen.inputDf(spark, 500L), cfg)
      org.apache.spark.graftbridge.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)

    val all = plans.toArray(Array.empty[SparkPlan]).toSeq
    def exchanges(p: SparkPlan) = Plans.collect(p) { case e: ShuffleExchangeLike => e }
    val waves = all.filter(p => exchanges(p).exists(
      _.outputPartitioning.isInstanceOf[ShufflePartitionIdPassThrough]))
    assert(waves.size === 2, all.map(_.treeString).mkString("\n"))
    val widths = waves.map { plan =>
      assert(Plans.collect(plan) { case s: SortExec => s }.size === 1, plan.treeString)
      val Seq(e) = exchanges(plan)
      e.outputPartitioning.numPartitions
    }
    assert(widths.sorted === Seq(2, 3))
    assert(all.forall(p => Plans.collect(p) {
      case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] => w
    }.isEmpty), all.map(_.treeString).mkString("\n"))
  }

  test("a manifest snapshot logs no hidden-path warning; a _temporary-only manifest is empty") {
    // `_manifest` starts with `_`, so Spark ignores it as a root path and
    // warns on every read; the snapshot reads its part files instead
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val cfg = Config(tmp(), numBuckets = 4, saltChunk = 64)
    ExtractionJob.run(spark, TranscriptGen.inputDf(spark, 200L), cfg,
      onlyBuckets = Some(Seq(0, 1)))
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        logged.add(e.getMessage.getFormattedMessage); ()
      }
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    val done = try ExtractionJob.completedBuckets(spark, cfg).collect()
      finally root.removeAppender(appender)
    assert(done.map(_.getInt(0)).sorted === Array(0, 1))
    assert(!logged.toArray.exists(_.toString.contains("All paths were ignored")),
      logged.toArray.mkString("\n"))

    val temporaryOnly = Config(tmp())
    assert(new java.io.File(ExtractionJob.manifestDir(temporaryOnly), "_temporary/0").mkdirs())
    assert(ExtractionJob.completedBuckets(spark, temporaryOnly).collect().isEmpty)
  }

  test("a kill mid-append leaves only hidden files; a resume redoes that wave") {
    // the last wave writes its data, then dies while appending its
    // manifest file: only a truncated hidden in-progress file remains,
    // next to a `_temporary/` dir and a `_SUCCESS` file. No read counts
    // them, and the resume redoes the wave over its written buckets
    val in = TranscriptGen.inputDf(spark, N)
    val cfgA = Config(tmp(), numBuckets = 8, saltChunk = 64)
    val cfgW = cfgA.copy(outDir = tmp(), waveBuckets = Some(3))
    ExtractionJob.run(spark, in, cfgA) // reference: uninterrupted run
    ExtractionJob.run(spark, in, cfgW, onlyBuckets = Some(0 until 6))
    val mdir = new java.io.File(ExtractionJob.manifestDir(cfgW))
    def parts = mdir.listFiles().filter(_.getName.startsWith("part-")).toSet
    val committed = parts
    ExtractionJob.run(spark, in, cfgW, onlyBuckets = Some(Seq(6, 7)))
    val Seq(last) = (parts -- committed).toSeq
    val bytes = Files.readAllBytes(last.toPath)
    Files.write(new java.io.File(mdir, s".${last.getName}.inprogress").toPath,
      bytes.take(bytes.length / 2))
    assert(last.delete() && new java.io.File(mdir, s".${last.getName}.crc").delete())
    assert(new java.io.File(mdir, "_temporary/0").mkdirs())
    Files.write(new java.io.File(mdir, "_temporary/0/part-00000.snappy.parquet").toPath,
      "PAR1 not a parquet file".getBytes("UTF-8"))
    assert(new java.io.File(mdir, "_SUCCESS").createNewFile())

    assert(ExtractionJob.completedBuckets(spark, cfgW).collect().map(_.getInt(0)).sorted
      === (0 until 6).toArray)
    val read = spark.read.parquet(mdir.toString)
    assert(read.count() === 6)
    assert(read.select("bucket").distinct().count() === 6)

    val resumed = ExtractionJob.run(spark, in, cfgW)
    assert(resumed.select("bucket").collect().map(_.getInt(0)).sorted === Array(6, 7))
    assert(spark.read.parquet(mdir.toString).count() === 8)
    val a = ExtractionJob.output(spark, cfgA)
    val b = ExtractionJob.output(spark, cfgW)
    assert(a.count() === N && b.count() === N)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  /** every file and dir under `dir`, relative to it */
  private def tree(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val files = Files.walk(root)
    try files.toArray.toSeq.map(p => root.relativize(p.asInstanceOf[java.nio.file.Path]).toString)
    finally files.close()
  }

  test("a resume replaces what a crash left in a todo bucket's dir") {
    // a todo bucket's dir holds only leftovers: a visible part file (here
    // a copy of another bucket's, so any survivor shows as extra rows), a
    // hidden in-progress file and a committer's `_temporary/` dir
    val in = TranscriptGen.inputDf(spark, N)
    val cfgA = Config(tmp(), numBuckets = 8, saltChunk = 64)
    val cfgB = cfgA.copy(outDir = tmp())
    ExtractionJob.run(spark, in, cfgA) // reference: uninterrupted run
    ExtractionJob.run(spark, in, cfgB, onlyBuckets = Some(0 until 4))
    val data = new java.io.File(ExtractionJob.dataDir(cfgB))
    val Seq(part) = new java.io.File(data, "bucket=0").listFiles().toSeq
      .filter(_.getName.startsWith("part-"))
    val todo = new java.io.File(data, "bucket=5")
    assert(new java.io.File(todo, "_temporary/0").mkdirs())
    Files.copy(part.toPath, new java.io.File(todo, part.getName).toPath)
    Files.copy(part.toPath, new java.io.File(todo, "_temporary/0/part-00000.snappy.parquet").toPath)
    Files.write(new java.io.File(todo, s".${part.getName}.inprogress-7").toPath,
      "PAR1 half a file".getBytes("UTF-8"))

    ExtractionJob.run(spark, in, cfgB)
    assert(todo.list().toSeq.count(_.startsWith("part-")) === 1)
    assert(!todo.list().exists(n => n.startsWith("_") || n.contains("inprogress")))
    val a = ExtractionJob.output(spark, cfgA)
    val b = ExtractionJob.output(spark, cfgB)
    assert(a.count() === N && b.count() === N)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("a filesystem set in the session conf only reaches the manifest too") {
    // `fs.<scheme>.impl` set with spark.conf.set is in the session's
    // Hadoop conf but not in the SparkContext's, so an out dir under that
    // scheme resolves only through the session's. Uncached instances, so
    // a lookup through the SparkContext's conf cannot borrow this one
    val scheme = SessionOnlyFs.Scheme
    val settings = Seq(s"fs.$scheme.impl" -> classOf[SessionOnlyFs].getName,
      s"fs.$scheme.impl.disable.cache" -> "true")
    assert(spark.sparkContext.hadoopConfiguration.get(s"fs.$scheme.impl") == null)
    val in = TranscriptGen.inputDf(spark, N)
    val cfgA = Config(tmp(), numBuckets = 8, saltChunk = 64)
    val cfgB = Config(s"$scheme://${tmp()}", numBuckets = 8, saltChunk = 64,
      waveBuckets = Some(3))
    ExtractionJob.run(spark, in, cfgA) // reference: uninterrupted, local
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      ExtractionJob.run(spark, in, cfgB, onlyBuckets = Some(0 until 4))
      val resumed = ExtractionJob.run(spark, in, cfgB)
      assert(resumed.collect().map(_.getInt(0)).toSeq === (4 until 8))
      val manifest = spark.read.parquet(ExtractionJob.manifestDir(cfgB))
      assert(manifest.count() === 8) // no bucket processed twice
      val a = ExtractionJob.output(spark, cfgA)
      val b = ExtractionJob.output(spark, cfgB)
      assert(a.count() === N && b.count() === N)
      assert(a.exceptAll(b).count() === 0)
      assert(b.exceptAll(a).count() === 0)
    } finally settings.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a retried bucket write leaves one file and the same sums; a failed one no file") {
    // two attempts of one bucket's task, as a retry or a speculative copy
    // runs them: the second replaces the first's file under the same name.
    // A third attempt meets a second bucket id: it fails and deletes its
    // hidden file, and the committed file stays
    val extracted = graft.operators.Extract(
      TranscriptGen.inputDf(spark, 500L).withColumn("bucket", lit(2)), Seq("bucket"))
    val qe = extracted.queryExecution
    val rows = qe.toRdd.map(_.copy()).collect()
    val dir = tmp()
    val writer = new graft.plans.BucketWriter(spark, dir, qe.executedPlan.output)
    val (first, second) = (writer.write(11L, rows.iterator), writer.write(12L, rows.iterator))
    assert(first.nonEmpty && first === second)
    assert(first.get.getLong(1) === 500L)
    val stray = rows.head.copy()
    stray.setInt(qe.executedPlan.output.indexWhere(_.name == "bucket"), 3)
    val ex = intercept[IllegalStateException] {
      writer.write(13L, rows.iterator ++ Iterator(stray))
    }
    assert(ex.getMessage.contains("bucket ids 2 and 3"), ex.getMessage)
    val files = tree(dir)
    assert(files.count(_.startsWith("bucket=2/part-")) === 1, files)
    assert(!files.exists(_.contains("inprogress")), files)
    assert(spark.read.parquet(dir).count() === 500L)
  }

  test("a wave of 3 ids runs a write stage of exactly 3 tasks") {
    val cfg = Config(tmp(), numBuckets = 8, saltChunk = 64, waveBuckets = Some(3))
    val writeTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask") { writeTasks.add(e.taskInfo.partitionId); () }
    }
    val sc = spark.sparkContext
    org.apache.spark.graftbridge.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      ExtractionJob.run(spark, TranscriptGen.inputDf(spark, 1000L), cfg,
        onlyBuckets = Some(Seq(1, 4, 6)))
      org.apache.spark.graftbridge.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(l)
    assert(writeTasks.toArray.toSeq.map(_.asInstanceOf[Int]).sorted === Seq(0, 1, 2))
  }

  test("a run leaves no committer files in data/") {
    val cfg = Config(tmp(), numBuckets = 4, saltChunk = 64, waveBuckets = Some(3))
    val in = TranscriptGen.inputDf(spark, 1000L)
    ExtractionJob.run(spark, in, cfg, onlyBuckets = Some(Seq(0, 1)))
    ExtractionJob.run(spark, in, cfg)
    val files = tree(ExtractionJob.dataDir(cfg))
    assert(!files.exists(f => f.contains("_temporary") || f.contains(".spark-staging") ||
      f.contains("_SUCCESS") || f.contains("inprogress")), files)
    assert(files.count(_.contains("/part-")) === 4, files)
  }

  test("an onlyBuckets id outside [0, numBuckets) is rejected before anything is written") {
    // unchecked, it is in no bucket's range: the run wrote nothing and
    // returned no row, on every run
    for (bad <- Seq(99, -1)) {
      val dir = tmp()
      val ex = intercept[IllegalArgumentException] {
        ExtractionJob.run(spark, TranscriptGen.inputDf(spark, 50L), Config(dir, numBuckets = 4),
          onlyBuckets = Some(Seq(0, bad)))
      }
      assert(ex.getMessage.contains(s"onlyBuckets id $bad is outside [0, 4)"), ex.getMessage)
      assert(new java.io.File(dir).list().isEmpty)
    }
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
}

/** The local filesystem under the scheme [[SessionOnlyFs.Scheme]], which
  * no Hadoop default names: a path of it resolves only through a conf
  * that sets `fs.<scheme>.impl` to this class.
  */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = SessionOnlyFs.Uri
  override def getScheme: String = SessionOnlyFs.Scheme
}

object SessionOnlyFs {
  val Scheme = "graftsession"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")
}
