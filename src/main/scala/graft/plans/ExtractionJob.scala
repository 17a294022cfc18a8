package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expr}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}

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
  *    semantics: data is written with dynamic partition overwrite, so
  *    re-running a bucket that crashed mid-write replaces its directory
  *    instead of appending duplicates.
  *  - Lineage/metrics (north_star triplet): turns processed, blocks
  *    dropped, parser fallbacks — observed per bucket in the write's own
  *    result stage ([[WaveStats]]) and appended to the manifest, with no
  *    read of the rows just written.
  *  - Manifest I/O on the driver, as an Iceberg commit writes its
  *    manifests: the resume snapshot streams the part files through a
  *    `ParquetReader`, and each wave's append is one parquet file written
  *    under a hidden name and renamed into place (a kill mid-append leaves
  *    a hidden file every read skips). Neither starts a Spark job.
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
  private val ManifestSchema = StructType(WaveStats.RowType.fields.toSeq :+
    StructField("status", StringType) :+
    StructField("wall_ms", LongType) :+
    StructField("bucket_key", StringType))

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
    val conf = spark.sparkContext.hadoopConfiguration
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
    val conf = spark.sparkContext.hadoopConfiguration
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
    *  - per wave, 2 Spark jobs: the write (its map stage, then sort plus
    *    write). The manifest rows come from an observation on the write's
    *    result stage, and the driver appends them as one file (hidden
    *    name, then rename); a wave that saw no row appends none.
    */
  def run(spark: SparkSession, input: DataFrame, cfg: Config,
      onlyBuckets: Option[Seq[Int]] = None): DataFrame = {
    // a zero saltChunk makes every salted key NULL (ANSI off: salting
    // silently stops) or fails the first write task (ANSI on)
    require(cfg.numBuckets > 0, s"numBuckets must be positive, got ${cfg.numBuckets}")
    require(cfg.saltChunk > 0, s"saltChunk must be positive, got ${cfg.saltChunk}")
    cfg.waveBuckets.foreach(w => require(w > 0, s"waveBuckets must be positive, got $w"))
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
    val rows = waves.flatMap(wave =>
      commitWave(spark, bucketed.filter(col("bucket").isin(wave: _*)), wave, cfg, key))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), ManifestSchema)
  }

  /** One wave: extract and write `todo` (the wave's input rows, all with
    * a bucket id in `wave`), and append the wave's manifest rows, taken
    * from the write itself, as one manifest file ([[appendManifest]]).
    * Returns the appended rows.
    */
  private def commitWave(spark: SparkSession, todo: DataFrame, wave: Seq[Int],
      cfg: Config, key: String): Seq[Row] = {
    val t0 = System.currentTimeMillis()

    // bucket is computed ONCE on the input and passed THROUGH the
    // extraction (review fix: the earlier drop-and-recompute evaluated
    // bucketExpr a second time on Extract's OUTPUT, where any key not a
    // pure function of (conv_id, turn_idx) either fails analysis — the
    // output lacks role/tool/ts — or silently disagrees with the resume
    // filter's pre-Extract value, breaking exactly-once on resume)
    val extracted = Extract(todo, Seq("bucket"))
      .repartition(cfg.numBuckets, col("bucket"))
      // bucket LEADS the sort key: the dynamic-partition file writer
      // requires rows ordered by the partition columns and would insert
      // its OWN whole-partition sort (by bucket alone) when the child
      // ordering doesn't satisfy it — a second full sort of every
      // partition, and per-(conv) row order would then hang on that
      // sort's stability. Sorting (bucket, conv_id, turn_idx) here
      // satisfies the writer's requirement prefix-wise (ONE sort total)
      // and keeps the T6 contract: within every bucket file, rows are
      // in (conv_id, turn_idx) order.
      .sortWithinPartitions("bucket", "conv_id", "turn_idx")

    // lineage/metrics per bucket, observed on the rows the writer
    // consumes — the plain-parquet analog of an Iceberg writer putting
    // its stats in the commit metadata. The observation sits above the
    // sort, so it runs in the write's result stage, whose accumulators
    // Spark merges once per partition however often a task is retried
    // (a map-stage observation could count a retried stage's rows
    // twice), and it keeps the sort's ordering, so the writer adds no
    // sort of its own. A fresh Observation per wave: each fires once.
    // `truncated` is the truncation lineage: turns whose payload hit a
    // tokenizer cap (content dropped — reference warnings trail,
    // pipeline.py:2799)
    val observation = new Observation()
    val stats = WaveStats(Seq(col("bucket"), col("blocks_total") - col("blocks_kept"),
      col("status") === "fallback", col("status") === "blank", col("truncated"))
      .map(expr), wave)

    // exactly-once per bucket: dynamic partition overwrite replaces a
    // bucket dir on re-run instead of appending duplicates
    extracted.observe(observation, column(stats.toAggregateExpression()).as("stats"))
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(dataDir(cfg))
    val wallMs = System.currentTimeMillis() - t0

    // one row per wave id the write saw a row of (≤ the wave's ids —
    // driver-safe), appended as exactly those rows, so the file and the
    // returned frame hold the same values. A zero-row wave appends no
    // file: it would carry no row
    val rows = observation.get("stats").asInstanceOf[scala.collection.Seq[Row]].toSeq
      .map(r => Row.fromSeq(r.toSeq ++ Seq("complete", wallMs, key)))
    if (rows.nonEmpty) appendManifest(spark, cfg, rows)
    rows
  }

  /** the final output table (all completed buckets), stable per-key order */
  def output(spark: SparkSession, cfg: Config): DataFrame =
    spark.read.parquet(dataDir(cfg))
}

/** The manifest metrics of one wave as one bounded aggregate: per id of
  * `ids`, the row count, `sum(dropped)` (NULL when no operand is, as
  * `sum` gives it) and the number of rows whose `fallback`, `blank` and
  * `truncated` flags are true — `children` are (bucket, dropped, the three
  * flags). The buffer is `ids.length × K` longs, an id's slot found by
  * binary search, so its size grows with the wave, never with its rows or
  * with `numBuckets`. The result holds one [[WaveStats.RowType]] struct
  * per id with ≥ 1 row, the rows `groupBy(bucket)` over the same rows
  * would give.
  */
private[graft] final case class WaveStats(children: Seq[Expression], ids: Seq[Int],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {
  import WaveStats.K

  @transient private lazy val sortedIds = ids.sorted.toArray
  @transient private lazy val in = children.toArray

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(WaveStats.RowType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](ids.length * K)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val bucket = in(0).eval(row).asInstanceOf[Int]
    val i = java.util.Arrays.binarySearch(sortedIds, bucket)
    if (i < 0) throw new IllegalStateException(s"bucket id $bucket is not in this wave")
    val at = i * K
    buf(at) += 1
    val dropped = in(1).eval(row)
    if (dropped != null) {
      buf(at + 1) += dropped.asInstanceOf[Number].longValue
      buf(at + 2) += 1
    }
    var f = 2
    while (f < in.length) {
      if (in(f).eval(row) == true) buf(at + f + 1) += 1
      f += 1
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var j = 0
    while (j < buf.length) { buf(j) += other(j); j += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(sortedIds.indices.filter(i => buf(i * K) > 0).map { i =>
      val at = i * K
      InternalRow(sortedIds(i), buf(at), if (buf(at + 2) > 0) buf(at + 1) else null,
        buf(at + 3), buf(at + 4), buf(at + 5))
    })

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bytes = java.nio.ByteBuffer.allocate(buf.length * 8)
    bytes.asLongBuffer().put(buf)
    bytes.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): WaveStats = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): WaveStats = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): WaveStats =
    copy(children = c)
}

private[graft] object WaveStats {

  /** longs per id: count, dropped sum, dropped's non-NULL operands,
    * fallback, blank and truncated turns */
  val K = 6

  /** one id's result: the manifest's bucket and metric columns */
  val RowType: StructType = StructType(StructField("bucket", IntegerType) +:
    Seq("turns_processed", "blocks_dropped", "parser_fallbacks", "blank_turns",
      "turns_truncated").map(StructField(_, LongType)))
}
