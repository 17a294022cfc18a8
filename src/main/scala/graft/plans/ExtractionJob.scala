package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, SparkToParquetSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.operators.Extract

/** Batch extraction job with Iceberg-shaped layout on Parquet (the sandbox
  * ships no Iceberg runtime jar — SURVEY.md §7): hash-bucketed directory
  * partitioning + a snapshot-style manifest table carrying per-bucket
  * lineage/metrics and completion, giving checkpoint/resume semantics.
  *
  * Scale design (north_rule):
  *  - ONE Exchange: repartition by salted conv_id hash bucket; ordering is
  *    re-established with sortWithinPartitions(conv_id, turn_idx) — never a
  *    global orderBy (per-turn equality needs deterministic per-key order,
  *    not a total sort; SURVEY T6).
  *  - Skew/salting: the bucket key is hash(conv_id, turn_idx/saltChunk) so a
  *    mega-conversation (10^8 turns) spreads across buckets in
  *    saltChunk-sized runs instead of serializing into one task; per-turn
  *    outputs never need re-merging so ordering inside each chunk suffices.
  *  - Resume: every run plans one todo list — the bucket ids it is asked
  *    for minus the ids completed in one `_manifest` snapshot — and
  *    commits it in waves; the graft analog of the reference's cache reuse
  *    (`pipeline.py:100-191`) but with durable exactly-once-per-bucket
  *    semantics: the manifest is the commit log. A todo id has no
  *    `complete` row, so the driver deletes its `data/bucket=<b>` dir
  *    (a crash's leftovers) before the wave writes it again.
  *  - One task per wave bucket ([[BucketWriter]]): the task writes its
  *    bucket's one parquet file in place under a hidden name and renames
  *    it to a name fixed per wave and bucket, so a retried task replaces
  *    the file instead of adding a second one. No committer, staging dir
  *    or job-commit rename is involved.
  *  - Lineage/metrics (north_star triplet): turns processed, blocks
  *    dropped, parser fallbacks — counted by each write task in its write
  *    loop and appended to the manifest, with no read of the rows just
  *    written.
  *  - Manifest I/O on the driver, as an Iceberg commit writes its
  *    manifests: the resume snapshot streams the part files through a
  *    `ParquetReader`, and each wave's append is one parquet file written
  *    under a hidden name and renamed into place (a kill mid-append leaves
  *    a hidden file every read skips). Neither starts a Spark job.
  *  - Every path the job reads, writes or deletes resolves through the
  *    session's Hadoop conf (`sessionState.newHadoopConf()`), so a
  *    filesystem or credential set with `spark.conf.set` reaches the
  *    manifest as it reaches the data files.
  */
object ExtractionJob {

  /** @param bucketExpr overrides the salted-hash bucket key (e.g. a
    *   modulo key for an oracle-reproducible layout); must be
    *   deterministic in the input row and give ids in
    *   `[0, numBuckets)` — resume identity depends on the same row
    *   mapping to the same bucket across runs, and a run plans its waves
    *   over that range. A NULL or out-of-range id fails the job at the
    *   first such row. Default: [[bucketCol]].
    * @param waveBuckets commit granularity: process at most this many
    *   buckets per write+manifest commit (a "wave"), so a mid-run kill
    *   loses only the current wave instead of the whole run — the
    *   plain-parquet analog of Iceberg's per-snapshot commits. Tradeoff
    *   documented on [[run]]: each wave re-scans the input (the bucket
    *   key is computed, not a storage partition), so choose a size that
    *   yields a handful of waves, not hundreds. None (default) = one
    *   wave, the single-commit behavior.
    */
  case class Config(
      outDir: String,
      numBuckets: Int = 32,
      saltChunk: Int = 4096,
      bucketExpr: Option[Column] = None,
      waveBuckets: Option[Int] = None)

  /** salted bucket id: hash(conv_id, turn_idx / saltChunk) mod numBuckets */
  def bucketCol(numBuckets: Int, saltChunk: Int) =
    pmod(hash(col("conv_id"), floor(col("turn_idx") / saltChunk).cast("int")),
      lit(numBuckets))

  /** the SQL text of `cfg`'s row→bucket mapping, without the guard of
    * [[bucketKey]]: recorded as `bucket_key` on every manifest row, so a
    * resume under another mapping (numBuckets, saltChunk or bucketExpr
    * changed) is refused before it writes a row twice.
    */
  private def bucketKeySql(cfg: Config): String =
    cfg.bucketExpr.getOrElse(bucketCol(cfg.numBuckets, cfg.saltChunk)).toString

  /** the bucket-id column for `cfg`, pinned to int. A custom expr gets a
    * per-row guard (`coalesce` + `raise_error`, one range compare on the
    * good branch): a NULL id would write rows under
    * `__HIVE_DEFAULT_PARTITION__`, and an id outside `[0, numBuckets)` is
    * in no wave, so its rows would be silently dropped. Failing the job
    * at the first such row, before any of that, is the only resume-safe
    * semantics. The default hash key is in range by construction, so it
    * skips the guard.
    */
  private def bucketKey(cfg: Config): Column =
    cfg.bucketExpr match {
      case None => bucketCol(cfg.numBuckets, cfg.saltChunk)
      case Some(e) =>
        val id = e.cast("int")
        coalesce(when(id >= 0 && id < cfg.numBuckets, id),
          raise_error(lit("graft.ExtractionJob: custom bucketExpr produced" +
            s" a NULL bucket id or one outside [0, ${cfg.numBuckets}) — bucket" +
            " keys must be non-null, in range and deterministic per input row"))
            .cast("int"))
    }

  def dataDir(cfg: Config): String = s"${cfg.outDir}/data"
  def manifestDir(cfg: Config): String = s"${cfg.outDir}/_manifest"

  /** The `_manifest` table: one row per bucket a wave committed, with the
    * bucket key it was written under. Every field is nullable, as a read
    * of the table gives it.
    */
  private val ManifestSchema = StructType.fromDDL("bucket INT, turns_processed BIGINT," +
    " blocks_dropped BIGINT, parser_fallbacks BIGINT, blank_turns BIGINT," +
    " turns_truncated BIGINT, status STRING, wall_ms BIGINT, bucket_key STRING")

  /** distinct (bucket, bucket_key) of the buckets prior runs completed,
    * as a local frame; empty when there is no manifest. Read on the
    * driver ([[readCompleted]]), so it starts no Spark job.
    */
  def completedBuckets(spark: SparkSession, cfg: Config): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(readCompleted(spark, cfg).map { case (b, k) => Row(b, k) }: _*),
      ManifestSchema(Set("bucket", "bucket_key")))

  /** distinct (bucket, bucket_key) of the manifest's `complete` rows,
    * streamed row by row from each part file with a `ParquetReader` on
    * the driver: memory holds the distinct pairs, never a whole file.
    * Spark's hidden-file rule (a name starting with `_` or `.`) skips
    * `_SUCCESS`, `_temporary`, `.crc` files and an append still in
    * progress, as `spark.read.parquet` does. A column a file was written
    * without (before it was added) reads as NULL; a row without a bucket
    * completes none.
    */
  private def readCompleted(spark: SparkSession, cfg: Config): Seq[(Int, String)] = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(manifestDir(cfg))
    val fs = dir.getFileSystem(conf)
    val parts = if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
        .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    val done = scala.collection.mutable.LinkedHashSet.empty[(Int, String)]
    for (part <- parts) {
      val reader = ParquetReader.builder(new GroupReadSupport, part).withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).foreach { g =>
        def has(name: String) = g.getType.containsField(name) && g.getFieldRepetitionCount(name) > 0
        def string(name: String) = if (has(name)) g.getString(name, 0) else null
        if (has("bucket") && string("status") == "complete")
          done += g.getInteger("bucket", 0) -> string("bucket_key")
      } finally reader.close()
    }
    done.toSeq
  }

  /** Appends `rows` (with [[ManifestSchema]]) to the manifest as one
    * snappy parquet file written on the driver, the way an Iceberg
    * commit writes its manifests. The file is written under a hidden
    * name and renamed into place, so a kill mid-append leaves only a
    * hidden file, which every manifest read skips: that wave's buckets
    * are redone.
    */
  private def appendManifest(spark: SparkSession, cfg: Config, rows: Seq[Row]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(manifestDir(cfg))
    val id = java.util.UUID.randomUUID()
    val staged = new Path(dir, s".part-$id.parquet.inprogress")
    val schema = new SparkToParquetSchemaConverter(SQLConf.get).convert(ManifestSchema)
    val writer = ExampleParquetWriter.builder(staged).withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r =>
      val g = new SimpleGroup(schema)
      r.toSeq.zipWithIndex.foreach {
        case (null, _) => // a NULL is an absent optional value
        case (v: Int, i) => g.add(i, v)
        case (v: Long, i) => g.add(i, v)
        case (v: String, i) => g.add(i, v)
      }
      writer.write(g)
    } finally writer.close()
    val part = new Path(dir, s"part-$id-c000.snappy.parquet")
    if (!dir.getFileSystem(conf).rename(staged, part))
      throw new java.io.IOException(s"graft.ExtractionJob: could not commit $staged as $part")
  }

  /** Run (or resume) the extraction job over `input` (transcript schema).
    * Returns the manifest rows THIS run appended, as a local frame with
    * the manifest's schema (no re-read of `_manifest`).
    *
    * `onlyBuckets` processes a subset — used by tests to simulate a killed
    * run (the manifest then records only those buckets as complete).
    *
    * The run's todo list is `onlyBuckets` (default: every id in
    * `[0, numBuckets)`) minus the ids completed in one `_manifest`
    * snapshot, read before any write. It is cut into waves of
    * `cfg.waveBuckets` ids (None = one wave), each written and
    * manifest-committed on its own, so a SIGKILL mid-run loses at most
    * one wave's work and a re-submit resumes from the last committed
    * wave (demonstrated at stress scale in BASELINE.md). A manifest row
    * written under another bucket key fails the run before it writes;
    * rows from before the key was recorded (NULL) resume as before.
    * Cost model — waves over the remaining ids:
    *  - one `_manifest` snapshot per run, read on the driver (no Spark
    *    job); an empty todo list then starts no Spark job at all;
    *  - K waves = K input scans (the bucket key is computed, not a storage
    *    partition), each filtered to `bucket IN wave`. At 100 TB pick
    *    w ≈ numBuckets/4..8; a real Iceberg writer would get per-snapshot
    *    commits without the re-scan;
    *  - per wave, 2 Spark jobs: the map stage, then one write task per
    *    wave id ([[BucketWriter]]), which sorts its bucket's rows, writes
    *    them as one file and counts its manifest row. The driver deletes
    *    the wave ids' old dirs first and appends the counted rows as one
    *    manifest file after (hidden name, then rename); a wave that saw no
    *    row appends none. Each bucket is one file, so
    *    `spark.sql.files.maxRecordsPerFile` does not apply.
    */
  def run(spark: SparkSession, input: DataFrame, cfg: Config,
      onlyBuckets: Option[Seq[Int]] = None): DataFrame = {
    // a zero saltChunk makes every salted key NULL (ANSI off: salting
    // silently stops) or fails the first write task (ANSI on)
    require(cfg.numBuckets > 0, s"numBuckets must be positive, got ${cfg.numBuckets}")
    require(cfg.saltChunk > 0, s"saltChunk must be positive, got ${cfg.saltChunk}")
    cfg.waveBuckets.foreach(w => require(w > 0, s"waveBuckets must be positive, got $w"))
    for (b <- onlyBuckets.getOrElse(Nil)) require(b >= 0 && b < cfg.numBuckets,
      s"onlyBuckets id $b is outside [0, ${cfg.numBuckets})")
    val key = bucketKeySql(cfg)

    // one snapshot, read before any write (≤ one pair per bucket and key)
    val done = readCompleted(spark, cfg)
    val otherKeys = done.flatMap(d => Option(d._2)).distinct.filter(_ != key)
    require(otherKeys.isEmpty, s"graft.ExtractionJob: ${manifestDir(cfg)} has buckets" +
      s" completed under bucket key ${otherKeys.mkString(", ")}, but this run's key is" +
      s" $key — resuming would write rows under a second bucket mapping")
    val doneIds = done.map(_._1).toSet
    val todo = onlyBuckets.getOrElse(0 until cfg.numBuckets).distinct.sorted.filterNot(doneIds)
    val waves = todo.grouped(cfg.waveBuckets.getOrElse(todo.length max 1)).toSeq

    // bucketKey pins the schema to int and guards custom keys
    val bucketed = input.withColumn("bucket", bucketKey(cfg))
    val rows = waves.flatMap(wave => commitWave(spark, bucketed, wave, cfg, key))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), ManifestSchema)
  }

  /** One wave's rows: the rows of `bucketed` (the input with its
    * `bucket` id column) whose id is in `wave`, extracted with `bucket`
    * passed through, one partition per wave id, each in (conv_id,
    * turn_idx) order.
    */
  private[graft] def wavePlan(bucketed: DataFrame, wave: Seq[Int]): DataFrame =
    // bucket is computed ONCE on the input and passed THROUGH the
    // extraction (review fix: the earlier drop-and-recompute evaluated
    // bucketExpr a second time on Extract's OUTPUT, where any key not a
    // pure function of (conv_id, turn_idx) either fails analysis — the
    // output lacks role/tool/ts — or silently disagrees with the resume
    // filter's pre-Extract value, breaking exactly-once on resume).
    // An id's position in the wave is its partition, so each of the
    // wave's tasks holds exactly one bucket; sorting it keeps the T6
    // contract: within every bucket file, rows are in (conv_id, turn_idx)
    // order
    Extract(bucketed.filter(col("bucket").isin(wave: _*)), Seq("bucket"))
      .repartitionById(wave.length,
        (array_position(typedLit(wave.toArray), col("bucket")) - 1).cast("int"))
      .sortWithinPartitions("conv_id", "turn_idx")

  /** One wave: write each id's rows ([[wavePlan]]) as one file in one
    * task ([[BucketWriter]]), and append the rows the tasks counted as
    * one manifest file ([[appendManifest]]), the wave's commit. Returns
    * the appended rows.
    */
  private def commitWave(spark: SparkSession, bucketed: DataFrame, wave: Seq[Int],
      cfg: Config, key: String): Seq[Row] = {
    val t0 = System.currentTimeMillis()
    val qe = wavePlan(bucketed, wave).queryExecution

    // a todo id has no complete row: whatever its dir holds is a crash's
    val dir = new Path(dataDir(cfg))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    wave.foreach(b => fs.delete(new Path(dir, s"bucket=$b"), true))
    val writer = new BucketWriter(spark, dir.toString, qe.executedPlan.output)
    // `runJob` keeps one result per partition, the succeeded attempt's,
    // so a retried task counts once
    val counted = SQLExecution.withNewExecutionId(qe, Some("ExtractionJob.commitWave")) {
      spark.sparkContext.runJob(qe.toRdd,
        (task: TaskContext, rows: Iterator[InternalRow]) => writer.write(task.taskAttemptId(), rows))
    }
    val wallMs = System.currentTimeMillis() - t0

    // one row per wave id that had a row, in wave (= id) order, appended
    // as exactly those rows, so the file and the returned frame hold the
    // same values. A zero-row wave appends no file: it would carry no row
    val rows = counted.toSeq.flatten.map(r => Row.fromSeq(r.toSeq ++ Seq("complete", wallMs, key)))
    if (rows.nonEmpty) appendManifest(spark, cfg, rows)
    rows
  }

  /** the final output table (all completed buckets), stable per-key order */
  def output(spark: SparkSession, cfg: Config): DataFrame =
    spark.read.parquet(dataDir(cfg))
}

/** One bucket's write task, built once per wave on the driver: writes the
  * rows it is given, all of one bucket, in their order, as the one file
  * `<dir>/bucket=<b>/part-<wave>-<b>-c000.snappy.parquet`, and returns
  * the bucket's manifest sums. `output` is the rows' schema; the file
  * holds every column but `bucket`, as a `partitionBy("bucket")` write
  * gives it. The files come from Spark's own parquet writer factory
  * (`ParquetFileFormat.prepareWrite`), so codec and footer are Spark's;
  * its Hadoop conf reaches the tasks as one broadcast, not a copy per
  * task. `<wave>` is a fresh id per writer.
  */
private[graft] final class BucketWriter(spark: SparkSession, dir: String, output: Seq[Attribute])
    extends Serializable {
  private val data = output.filter(_.name != "bucket")
  private val schema = DataTypeUtils.fromAttributes(data)
  private val (factory, conf) = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    (new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema),
      spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)))
  }
  private val wave = java.util.UUID.randomUUID().toString
  private val Seq(fallback, blank) = Seq("fallback", "blank").map(UTF8String.fromString)

  /** Writes `rows` under a hidden name, then renames the file over the
    * bucket's final name, so a second attempt replaces the first's file;
    * an attempt that fails deletes its hidden file. Returns (bucket,
    * turns, `sum(blocks_total - blocks_kept)` — NULL when no operand pair
    * is non-NULL, as `sum` gives it —, fallback, blank and truncated
    * turns), or None for no row. Truncated turns are the truncation
    * lineage: a tokenizer cap dropped content (the reference's warnings
    * trail, pipeline.py:2799). Fails on a second bucket id.
    */
  def write(attempt: Long, rows: Iterator[InternalRow]): Option[Row] =
    if (!rows.hasNext) None else {
      val at = output.map(_.name).zipWithIndex.toMap
      val Seq(b, total, kept, status, truncated) =
        Seq("bucket", "blocks_total", "blocks_kept", "status", "truncated").map(at)
      val project = UnsafeProjection.create(data, output)
      val first = rows.next()
      val bucket = first.getInt(b)
      val task = new TaskAttemptContextImpl(conf.value.value, new TaskAttemptID())
      val part = new Path(s"$dir/bucket=$bucket",
        s"part-$wave-$bucket-c000${factory.getFileExtension(task)}")
      val staged = new Path(part.getParent, s".${part.getName}.inprogress-$attempt")
      val fs = part.getFileSystem(task.getConfiguration)
      // turns, dropped, dropped's non-NULL operand pairs, fallback, blank, truncated
      val n = new Array[Long](6)
      val file = factory.newInstance(staged.toString, schema, task)
      try {
        (Iterator.single(first) ++ rows).foreach { r =>
          if (r.getInt(b) != bucket) throw new IllegalStateException(
            s"graft.ExtractionJob: bucket ids $bucket and ${r.getInt(b)} in one write task")
          file.write(project(r))
          n(0) += 1
          if (!r.isNullAt(total) && !r.isNullAt(kept)) {
            n(1) += r.getInt(total).toLong - r.getInt(kept)
            n(2) += 1
          }
          if (!r.isNullAt(status) && r.getUTF8String(status) == fallback) n(3) += 1
          if (!r.isNullAt(status) && r.getUTF8String(status) == blank) n(4) += 1
          if (!r.isNullAt(truncated) && r.getBoolean(truncated)) n(5) += 1
        }
        file.close()
        fs.delete(part, false)
        if (!fs.rename(staged, part))
          throw new java.io.IOException(s"graft.ExtractionJob: could not commit $staged as $part")
      } catch { case e: Throwable =>
        try file.close() catch { case scala.util.control.NonFatal(_) => }
        fs.delete(staged, false)
        throw e
      }
      Some(Row(bucket, n(0), if (n(2) > 0) n(1) else null, n(3), n(4), n(5)))
    }
}
