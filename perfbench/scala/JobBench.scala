package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.perfbench.ListenerBusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.GraftFunctions.{html_blocks, pdf_glyph_runs}
import graft.functions.TextFunctions.{plainNormalize, sniff}
import graft.gen.TranscriptGen
import graft.operators.Extract
import graft.plans.ExtractionJob

/** Measurement half of the extraction-job benchmark (`perfbench/run.py`
  * builds this, runs it, and derives every reported metric from the raw
  * JSON it writes). It calls the engine only through public entry points
  * and records, per timed operation, the Spark task, stage, job and query
  * events of that operation.
  *
  * Usage: `JobBench <workload> <seed> <seconds> <trace 0|1> <cores>
  * <workDir> <rawJsonOut>`.
  */
object JobBench {

  /** One workload: `genTurns` generator rows, kept when their golden path
    * is in `paths` (empty = all), run as a single-commit job or, with
    * `waves`, as a partial run over the first half of the buckets plus a
    * resume, both committing `waves` buckets at a time. After the cold
    * first operation, `settleOps` untimed operations (fixed slice and full
    * input in turn) let the JIT compile the hot code before timing. A
    * resume cycle costs about as much as three single-commit jobs, so
    * chat_resume settles with one operation and a run stays within its
    * time budget.
    */
  final case class Workload(genTurns: Long, paths: Seq[String],
      numBuckets: Int, waves: Option[Int], settleOps: Int)

  val workloads: Map[String, Workload] = Map(
    "job_mix" -> Workload(40000L, Nil, 16, None, settleOps = 2),
    "markup_heavy" -> Workload(80000L, Seq("html", "pdf"), 16, None, settleOps = 2),
    "chat_resume" -> Workload(16000L, Seq("plain", "tooljson", "blank"), 4, Some(2),
      settleOps = 1))

  val FixedTurns = 1000
  /** fixed-slice operations in an untraced run; `fixed_s` is their least
    * time, so that one slow sample does not decide it
    */
  val FixedOps = 3
  val SetupReps = 3
  val MinOps = 3
  val LayerReps = 2
  val LayerCopies = 3
  val SaltChunk = 4096

  // ------------------------------------------------------------ recording

  /** Task, stage, job and query events since the last [[take]]. */
  final class Recorder(inputRoot: String) extends SparkListener
      with QueryExecutionListener with AdaptiveSparkPlanHelper {
    private var tasks = ArrayBuffer.empty[Map[String, Any]]
    private var stages = ArrayBuffer.empty[Map[String, Any]]
    private var queries = ArrayBuffer.empty[Map[String, Any]]
    private var jobs = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Map(
        "stage" -> e.stageId,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "peak_mem" -> m.peakExecutionMemory,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_records" -> m.shuffleReadMetrics.recordsRead,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages += Map("stage" -> i.stageId, "tasks" -> i.numTasks,
        "submit_ms" -> i.submissionTime.getOrElse(-1L),
        "done_ms" -> i.completionTime.getOrElse(-1L))
    }

    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)

    /** input scans = file scans rooted at the workload's input directory;
      * writes = parquet inserts with their output path and row count
      */
    private def record(qe: QueryExecution): Unit = {
      val plan = qe.executedPlan
      val scans = collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toUri.getPath)
      }.flatten.count(_.startsWith(inputRoot))
      val writes = collect(plan) {
        case w: DataWritingCommandExec => w.cmd match {
          case c: InsertIntoHadoopFsRelationCommand =>
            Map("path" -> c.outputPath.toString,
              "rows" -> c.metrics.get("numOutputRows").map(_.value).getOrElse(-1L))
          case _ => Map("path" -> "", "rows" -> -1L)
        }
      }
      synchronized { queries += Map("input_scans" -> scans, "writes" -> writes) }
    }

    def take(sc: org.apache.spark.SparkContext): Map[String, Any] = {
      ListenerBusBridge.drain(sc)
      synchronized {
        val r = Map("tasks" -> tasks.toSeq, "stages" -> stages.toSeq,
          "queries" -> queries.toSeq, "jobs" -> jobs)
        tasks = ArrayBuffer.empty; stages = ArrayBuffer.empty
        queries = ArrayBuffer.empty; jobs = 0
        r
      }
    }
  }

  /** In-memory spans (name, start, end, parent) around each public call;
    * a no-op unless tracing is on.
    */
  final class Tracer(var enabled: Boolean) {
    val spans = ArrayBuffer.empty[Map[String, Any]]
    private var stack = List.empty[Int]
    private var next = 0
    def apply[T](name: String)(body: => T): T =
      if (!enabled) body
      else {
        val id = next
        next += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val t0 = System.nanoTime()
        try body
        finally {
          stack = stack.tail
          spans += Map("id" -> id, "parent" -> parent, "name" -> name,
            "start_ns" -> t0, "end_ns" -> System.nanoTime())
        }
      }
  }

  // ------------------------------------------------------------ helpers

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    secondsSince(t0)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** data files (not `_SUCCESS`, not checksums) under `dir`: (count, bytes) */
  def dataFiles(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      val fs = s.filter(f => Files.isRegularFile(f)).toArray.map(_.asInstanceOf[Path])
        .filter { f => val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
      (fs.length.toLong, fs.map(f => Files.size(f)).sum)
    } finally s.close()
  }

  /** the fixed xxhash64 control of `graft.Bench`, at 1/16 of its size */
  def control(spark: SparkSession, rows: Long): Double = timed {
    spark.range(rows)
      .select(max(xxhash64(col("id"), col("id") + 1, col("id") + 2))).collect()
  }

  /** hypervisor steal share of all CPU time over `ms`, from /proc/stat */
  def stealFrac(ms: Long): Double = {
    def read(): (Long, Long) = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    }
    try {
      val (s0, t0) = read()
      Thread.sleep(ms)
      val (s1, t1) = read()
      if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0
    } catch { case _: java.io.IOException => -1.0 }
  }

  // ------------------------------------------------------------ main

  def main(argv: Array[String]): Unit = {
    require(argv.length == 7, "usage: JobBench <workload> <seed> <seconds> " +
      "<trace 0|1> <cores> <workDir> <rawJsonOut>")
    val name = argv(0)
    val w = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload '$name'; " +
        s"known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = argv(1).toLong
    val seconds = argv(2).toDouble
    val trace = argv(3) == "1"
    val cores = argv(4).toInt
    val work = Paths.get(argv(5)).toAbsolutePath
    val outFile = Paths.get(argv(6))

    val tStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secondsSince(tStart)
    try {
      val raw = run(spark, name, w, seed, seconds, trace, cores, work, tStart, sessionS)
      new ObjectMapper().registerModule(DefaultScalaModule).writeValue(outFile.toFile, raw)
    } finally spark.stop()
  }

  def run(spark: SparkSession, name: String, w: Workload, seed: Long,
      seconds: Double, trace: Boolean, cores: Int, work: Path,
      tStart: Long, sessionS: Double): Map[String, Any] = {
    val sc = spark.sparkContext
    // elapsed time at the end of each phase, for the run's time budget
    val phases = ArrayBuffer.empty[(String, Double)]
    def mark(phase: String): Unit = phases += phase -> secondsSince(tStart)
    val inputDir = work.resolve("input").toString
    val fixedDir = work.resolve("fixed").toString
    val rec = new Recorder(inputDir)
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val tr = new Tracer(trace)

    // ---- set-up: generate + write the input (repeated), then warm up
    // the generator's frame holds the input columns and the goldens
    val generated = {
      val g = TranscriptGen.genDs(spark, w.genTurns, seed).toDF()
      if (w.paths.isEmpty) g else g.filter(col("expected_path").isin(w.paths: _*))
    }
    val inputCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val genWriteS = (1 to SetupReps).map { _ =>
      timed(generated.select(inputCols.map(col): _*).write.mode("overwrite").parquet(inputDir))
    }
    mark("session+generate")
    generated.select(inputCols.map(col): _*).limit(FixedTurns)
      .write.mode("overwrite").parquet(fixedDir)
    val turns = spark.read.parquet(inputDir).count()
    mark("generate")

    val outRoot = work.resolve("out")
    def cfgFor(dir: Path) = ExtractionJob.Config(outDir = dir.toString,
      numBuckets = w.numBuckets, saltChunk = SaltChunk, waveBuckets = w.waves)
    def op(in: String, dir: Path): Unit = w.waves match {
      case None =>
        tr("ExtractionJob.run") {
          ExtractionJob.run(spark, spark.read.parquet(in), cfgFor(dir)).collect()
        }
      case Some(_) =>
        tr("ExtractionJob.run/partial") {
          ExtractionJob.run(spark, spark.read.parquet(in), cfgFor(dir),
            onlyBuckets = Some(0 until w.numBuckets / 2)).collect()
        }
        tr("ExtractionJob.run/resume") {
          ExtractionJob.run(spark, spark.read.parquet(in), cfgFor(dir)).collect()
        }
    }

    var opSeq = 0
    val failures = ArrayBuffer.empty[String]
    /** one timed operation into a fresh output dir; earlier dirs of the
      * same kind are deleted first, outside the timing
      */
    def timedOp(kind: String, in: String): Map[String, Any] = {
      opSeq += 1
      val dir = outRoot.resolve(s"$kind-$opSeq")
      if (Files.exists(outRoot)) {
        val s = Files.list(outRoot)
        try s.toArray.map(_.asInstanceOf[Path])
          .filter(_.getFileName.toString.startsWith(s"$kind-")).foreach(rmTree)
        finally s.close()
      }
      rec.take(sc)
      val t0 = System.nanoTime()
      val ok =
        try { tr(s"op/$kind")(op(in, dir)); true }
        catch { case e: Exception =>
          failures += s"$kind: ${e.getClass.getName}: ${e.getMessage}"; false }
      val wall = secondsSince(t0)
      Map("kind" -> kind, "dir" -> dir.toString, "ok" -> ok, "wall_s" -> wall) ++
        rec.take(sc)
    }

    // warm-up: the first (cold) operation is set-up; the settling
    // operations after it are the benchmark's own and are not reported
    val warmupS = timed(timedOp("warm", inputDir))
    mark("cold_op")
    (0 until w.settleOps).foreach(i => timedOp("warm", if (i % 2 == 0) fixedDir else inputDir))
    mark("warmup")

    val ctlRows = 300000000L * cores / 16
    control(spark, ctlRows / 4)
    val controlBefore = control(spark, ctlRows)
    val stealBefore = stealFrac(250)
    mark("window_before")

    // ---- timed phase. Untraced: main operations, the first FixedOps
    // of them each preceded by a fixed-slice operation (F M F M F M ...),
    // at least MinOps main operations and at least `seconds`. Traced:
    // untraced and traced main operations, for the tracing overhead.
    val (ops, fixedOps, tracedOps, lastOp) =
      if (!trace) {
        val t0 = System.nanoTime()
        val main = ArrayBuffer.empty[Map[String, Any]]
        val fixed = ArrayBuffer.empty[Map[String, Any]]
        while (main.length < MinOps || fixed.length < FixedOps ||
            secondsSince(t0) < seconds) {
          if (fixed.length < FixedOps) fixed += timedOp("fixed", fixedDir)
          main += timedOp("op", inputDir)
        }
        (main.toSeq, fixed.toSeq, Seq.empty, main.last)
      } else {
        // untraced, traced, traced, untraced: a linear JIT-warming trend
        // cancels out of the two medians
        val runs = Seq(false, true, true, false).map { on =>
          tr.enabled = on
          on -> timedOp("op", inputDir)
        }
        (runs.filter(!_._1).map(_._2), Seq.empty, runs.filter(_._1).map(_._2), runs.last._2)
      }
    mark("timed")

    // the table the last operation wrote: checked below, and the manifest
    // that the traced run's completedBuckets timing reads
    val lastDir = Paths.get(lastOp("dir").toString)
    val layers: Map[String, Any] =
      if (trace) measureLayers(spark, rec, tr, w, inputDir, fixedDir, work, cfgFor(lastDir))
      else Map.empty
    mark("layers")

    val controlAfter = control(spark, ctlRows)
    val stealAfter = stealFrac(250)
    mark("window_after")

    // ---- correctness: the last operation's table against the goldens
    val check = correctness(spark, ExtractionJob.dataDir(cfgFor(lastDir)), generated)
    val (outFiles, outBytes) = dataFiles(lastDir.resolve("data"))

    mark("check")

    Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "local_width" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> System.getProperty("java.version"),
        "control_rows" -> ctlRows,
        "control_s" -> Seq(controlBefore, controlAfter),
        "steal_frac" -> Seq(stealBefore, stealAfter)),
      "turns" -> turns, "fixed_turns" -> FixedTurns,
      "num_buckets" -> w.numBuckets, "wave_buckets" -> w.waves,
      "setup" -> Map("session_s" -> sessionS, "gen_write_s" -> genWriteS,
        "warmup_s" -> warmupS),
      "ops" -> ops, "fixed_ops" -> fixedOps, "traced_ops" -> tracedOps,
      "failures" -> failures.toSeq,
      "output" -> Map("files" -> outFiles, "bytes" -> outBytes),
      "check" -> check,
      "layers" -> layers,
      "phases" -> phases.toMap,
      "spans" -> tr.spans.toSeq)
  }

  /** Per-turn match of the written table against `TranscriptGen.goldenDf`
    * columns (text, path, status and spans) with exactly-once row counts,
    * in one action: rows are grouped by output (path, status) after a full
    * outer join of the goldens with the per-key output rows.
    */
  def correctness(spark: SparkSession, dataDir: String, generated: DataFrame): Map[String, Any] = {
    val out = spark.read.parquet(dataDir)
    val golden = generated.select(col("conv_id"), col("turn_idx"), col("expected_text"),
      col("expected_path"), col("expected_status"), col("expected_spans"), lit(1).as("g"))
    val perKey = out.groupBy("conv_id", "turn_idx").agg(
      count(lit(1)).as("n"),
      first(struct("text", "path", "status", "spans", "truncated")).as("r"))
    val ok = col("n") === 1 &&
      (col("r.text") <=> col("expected_text")) &&
      (col("r.path") <=> col("expected_path")) &&
      (col("r.status") <=> col("expected_status")) &&
      (col("r.spans") <=> col("expected_spans"))
    def total(c: org.apache.spark.sql.Column) = sum(coalesce(c.cast("long"), lit(0L)))
    val groups = golden.join(perKey, Seq("conv_id", "turn_idx"), "full_outer")
      .groupBy(col("r.path"), col("r.status"))
      .agg(total(col("g").isNotNull), total(col("n")), total(ok),
        total(col("g").isNull), total(col("r.truncated")))
      .collect()
    def sumOf(i: Int) = groups.map(_.getLong(i)).sum
    Map("golden_turns" -> sumOf(2), "output_rows" -> sumOf(3),
      "matched" -> sumOf(4), "extra_keys" -> sumOf(5), "truncated" -> sumOf(6),
      "path_status" -> groups.toSeq.filter(!_.isNullAt(0))
        .map(r => Seq(r.getString(0), r.getString(1), r.getLong(3))))
  }

  /** Layer timings from outside: each public entry point as a `noop`
    * action on the full input and on per-sniffed-path subsets, at one copy
    * and at LayerCopies copies (a union of the same files) of that input,
    * LayerReps times each, with the task records of every repetition. The
    * difference between the two sizes is the layer's marginal cost; the
    * per-action planning and launch cost cancels out of it.
    */
  def measureLayers(spark: SparkSession, rec: Recorder, tr: Tracer,
      w: Workload, inputDir: String, fixedDir: String, work: Path,
      lastCfg: ExtractionJob.Config): Map[String, Any] = {
    val sc = spark.sparkContext
    def once(label: String)(body: => Unit): Map[String, Any] = {
      rec.take(sc)
      val s = timed(tr(label)(body))
      Map("wall_s" -> s) ++ rec.take(sc)
    }
    def reps(label: String)(body: => Unit): Seq[Map[String, Any]] =
      (1 to LayerReps).map(_ => once(label)(body))
    def read(dir: String) = spark.read.parquet(dir)
    // the two sizes alternate, so that JIT warming during the
    // repetitions does not favour one of them
    def layer(label: String, dir: String)(action: DataFrame => Unit): Map[String, Any] = {
      val runs = (1 to LayerReps).map { _ =>
        (once(label)(action(read(dir))),
          once(s"$label/x$LayerCopies")(action(
            (1 until LayerCopies).foldLeft(read(dir))((df, _) => df.union(read(dir))))))
      }
      Map("x1" -> runs.map(_._1), "xk" -> runs.map(_._2))
    }

    val text = col("text")
    val tool = col("tool")
    def scan(df: DataFrame) = noop(df.select("conv_id", "turn_idx", "text", "tool"))
    def sniffed(df: DataFrame) = noop(df.select(col("conv_id"), col("turn_idx"), sniff(text, tool)))
    def bucketed(df: DataFrame) =
      Extract(df.withColumn("bucket", ExtractionJob.bucketCol(w.numBuckets, SaltChunk)),
        Seq("bucket"))

    val whole = Map(
      "scan" -> layer("scan", inputDir)(scan),
      "sniff" -> layer("TextFunctions.sniff", inputDir)(sniffed),
      "extract" -> layer("Extract.apply", inputDir)(df => noop(Extract(df))),
      "extract_bucket" -> layer("Extract.apply/bucket", inputDir)(df => noop(bucketed(df))),
      "shuffle_sort" -> layer("Extract.apply/repartition+sortWithinPartitions", inputDir)(df =>
        noop(bucketed(df).repartition(w.numBuckets, col("bucket"))
          .sortWithinPartitions("bucket", "conv_id", "turn_idx"))),
      "action" -> reps("Extract.apply/fixed") { noop(Extract(read(fixedDir))) },
      "completed_buckets" -> reps("ExtractionJob.completedBuckets") {
        ExtractionJob.completedBuckets(spark, lastCfg).collect() })

    val parsers: Seq[(String, String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] =
      Seq(("html", "GraftFunctions.html_blocks", html_blocks(_)),
        ("pdf", "GraftFunctions.pdf_glyph_runs", pdf_glyph_runs(_)),
        ("plain", "TextFunctions.plainNormalize", plainNormalize(_)))
    val perPath = parsers.flatMap { case (p, name, parser) =>
      val dir = work.resolve(s"path-$p").toString
      read(inputDir).filter(sniff(text, tool) === p).write.mode("overwrite").parquet(dir)
      val n = read(dir).count()
      if (n == 0) None
      else Some(p -> Map(
        "turns" -> n,
        "scan" -> layer(s"scan/$p", dir)(scan),
        "sniff" -> layer(s"TextFunctions.sniff/$p", dir)(sniffed),
        "parser" -> layer(s"$name/$p", dir)(df =>
          noop(df.select(col("conv_id"), col("turn_idx"), parser(text)))),
        "extract" -> layer(s"Extract.apply/$p", dir)(df => noop(Extract(df)))))
    }.toMap
    whole ++ Map("copies" -> LayerCopies, "paths" -> perPath)
  }
}
