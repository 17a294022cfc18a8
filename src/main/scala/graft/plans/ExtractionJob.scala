package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

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
  *  - Resume: the input is filtered against the completed manifest
  *    buckets, snapshotted once per run — the graft analog of the
  *    reference's cache reuse (`pipeline.py:100-191`) but with durable
  *    exactly-once-per-bucket semantics: data is written with dynamic
  *    partition overwrite, so re-running a bucket that crashed mid-write
  *    replaces its directory instead of appending duplicates.
  *  - Lineage/metrics (north_star triplet): turns processed, blocks
  *    dropped, parser fallbacks — derived per bucket with one hash
  *    aggregate over the written rows and appended to the manifest.
  */
object ExtractionJob {

  /** @param bucketExpr overrides the salted-hash bucket key (e.g. a
    *   modulo key for an oracle-reproducible layout, or a date-derived
    *   key for time-partitioned reruns); must be deterministic in the
    *   input row — resume identity depends on the same row mapping to
    *   the same bucket across runs. Default: [[bucketCol]].
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

  /** the bucket-id column for `cfg`, pinned to int. A custom expr gets a
    * per-row null fail-fast (`coalesce` + `raise_error`, zero cost on the
    * non-null branch): a NULL key would otherwise write rows under
    * `__HIVE_DEFAULT_PARTITION__`, NPE the driver-side id collects, and —
    * worst — be silently dropped by the resume complement filter on the
    * NEXT run (null fails `!isin(...)`). Failing the job at the first
    * null row, before any of that, is the only resume-safe semantics.
    * The default hash key is never null, so it skips the branch.
    */
  private def bucketKey(cfg: Config): Column =
    cfg.bucketExpr match {
      case None => bucketCol(cfg.numBuckets, cfg.saltChunk)
      case Some(e) => coalesce(e.cast("int"),
        raise_error(lit("graft.ExtractionJob: custom bucketExpr produced" +
          " a NULL bucket id — bucket keys must be non-null and" +
          " deterministic per input row")).cast("int"))
    }

  def dataDir(cfg: Config): String = s"${cfg.outDir}/data"
  def manifestDir(cfg: Config): String = s"${cfg.outDir}/_manifest"

  /** completed bucket ids from prior runs (empty frame when no manifest) */
  def completedBuckets(spark: SparkSession, cfg: Config): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(manifestDir(cfg))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path))
      // mergeSchema: manifests written before a metrics-column addition
      // (e.g. turns_truncated) coexist with new files in one dir; a
      // single-footer schema pick would randomly drop the new columns
      spark.read.option("mergeSchema", "true").parquet(manifestDir(cfg))
        .filter(col("status") === "complete")
        .select("bucket").distinct()
    else
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(Seq(StructField("bucket", IntegerType))))
  }

  /** Run (or resume) the extraction job over `input` (transcript schema).
    * Returns the manifest rows THIS run appended, as a local frame with
    * the manifest's schema (no re-read of `_manifest`).
    *
    * `onlyBuckets` processes a subset — used by tests to simulate a killed
    * run (the manifest then records only those buckets as complete).
    *
    * Every run is a loop of waves, each written and manifest-committed on
    * its own: `cfg.waveBuckets = None` is one wave (of `onlyBuckets`, or
    * every todo bucket), `Some(w)` splits the candidate ids into waves of
    * `w`, so a SIGKILL mid-run loses at most one wave's work and a
    * re-submit resumes from the last committed wave (demonstrated at
    * stress scale in BASELINE.md). Cost model:
    *  - one `_manifest` snapshot per run, read before any write: this
    *    run's waves are disjoint, so no wave completes an id that a later
    *    wave asks for;
    *  - K waves = K input scans (the bucket key is computed, not a storage
    *    partition; a wave whose ids are all done folds to an empty scan).
    *    The default key's candidates are the static range 0 until
    *    numBuckets; a custom key's are discovered by one pruned distinct
    *    scan, capped at [[MaxBucketIds]]. At 100 TB pick
    *    w ≈ numBuckets/4..8; a real Iceberg writer would get per-snapshot
    *    commits without the re-scan;
    *  - one manifest aggregate per wave over the rows it durably wrote,
    *    collected and appended as one file.
    */
  def run(spark: SparkSession, input: DataFrame, cfg: Config,
      onlyBuckets: Option[Seq[Int]] = None): DataFrame = {
    // a zero saltChunk makes every salted key NULL (ANSI off: salting
    // silently stops) or fails the first write task (ANSI on)
    require(cfg.numBuckets > 0, s"numBuckets must be positive, got ${cfg.numBuckets}")
    require(cfg.saltChunk > 0, s"saltChunk must be positive, got ${cfg.saltChunk}")
    val waves: Seq[Option[Seq[Int]]] = cfg.waveBuckets match {
      case None => Seq(onlyBuckets)
      case Some(w) =>
        require(w > 0, s"waveBuckets must be positive, got $w")
        val candidates = onlyBuckets.getOrElse(bucketIds(input, cfg)).distinct.sorted
        // zero candidates (empty input under a custom key, or an empty
        // onlyBuckets): ONE empty wave, so the output/manifest dirs exist
        // and the return is an empty manifest frame
        if (candidates.isEmpty) Seq(Some(Nil))
        else candidates.grouped(w).map(Some(_)).toSeq
    }

    // EAGER snapshot of completed bucket ids (≤ the bucket count): a lazy
    // manifest read is re-evaluated after this run's own writes refresh
    // the path cache, which silently empties every frame derived from it
    val doneIds = completedBuckets(spark, cfg).collect().map(_.getInt(0)).toSeq
    val notDone = if (doneIds.isEmpty) lit(true) else !col("bucket").isin(doneIds: _*)
    // bucketKey pins the schema to int and fail-fasts null custom keys
    val bucketed = input.withColumn("bucket", bucketKey(cfg))

    val commits = waves.map { wave =>
      // this wave's buckets: not complete before the run (complement, not
      // `0 until numBuckets`: a custom bucketExpr may use keys outside that
      // range), and in the wave. The one predicate selects the input rows
      // and prunes the manifest's read-back of the written table.
      val thisRun = wave.fold(notDone)(bs => notDone && col("bucket").isin(bs: _*))
      commitWave(spark, bucketed.filter(thisRun), thisRun, cfg)
    }
    // collecting a local frame runs no Spark job
    spark.createDataFrame(java.util.Arrays.asList(commits.flatMap(_.collect()): _*),
      commits.head.schema)
  }

  /** Cap on the distinct ids a custom `bucketExpr` may yield under wave
    * commits: discovery collects them to the driver, so a key with more
    * values is rejected before anything is written.
    */
  val MaxBucketIds = 10000

  /** candidate bucket ids: the default hash key is 0 until numBuckets by
    * construction (no pass over the input); a CUSTOM bucketExpr can emit
    * any int (date-derived, offset), so its ids are discovered — a
    * column-pruned distinct over the single computed int column, probed
    * with `limit(MaxBucketIds + 1)` so the collect stays bounded. Without
    * discovery, out-of-range ids would silently match no wave.
    */
  private def bucketIds(input: DataFrame, cfg: Config): Seq[Int] = cfg.bucketExpr match {
    case None => 0 until cfg.numBuckets
    case Some(e) =>
      val ids = input.select(bucketKey(cfg).as("bucket")).distinct()
        .limit(MaxBucketIds + 1).collect().map(_.getInt(0)).toSeq
      require(ids.length <= MaxBucketIds,
        s"graft.ExtractionJob: custom bucketExpr $e yields more than" +
          s" $MaxBucketIds distinct bucket ids (MaxBucketIds)")
      ids
  }

  /** One wave: extract and write `todo` (the wave's input rows), derive
    * the wave's manifest rows from the rows durably written under
    * `thisRun`, and append them as one manifest file. Returns the
    * appended rows as a local frame.
    */
  private def commitWave(spark: SparkSession, todo: DataFrame, thisRun: Column,
      cfg: Config): DataFrame = {
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

    // exactly-once per bucket: dynamic partition overwrite replaces a
    // bucket dir on re-run instead of appending duplicates
    extracted.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(dataDir(cfg))

    // lineage/metrics per bucket, from the rows just durably WRITTEN: a
    // partition-pruned + column-pruned (five small metric columns, never
    // the text) read of the output table. This replaced a
    // persist(MEMORY_AND_DISK) of the full extracted frame (round-5
    // measurement at (1,4) and (2,8) cores: the compressed-columnar
    // cache build sat on the hot path and cost more than this re-read —
    // which touches ~1 % of the written bytes — at every width), and it
    // is the honest lineage source: the manifest describes the durable
    // bytes, not a cached twin of them. An Iceberg writer would emit
    // these stats in commit metadata for free. A crashed run's partial
    // bucket is never complete, so its rows — just re-written by this
    // wave's dynamic overwrite — correctly enter this manifest.
    //
    // explicit schema: an all-buckets-done resume or an empty input
    // leaves nothing to infer from, and the read must still plan
    val manifest = spark.read.schema(extracted.schema).parquet(dataDir(cfg))
      .filter(thisRun)
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("turns_processed"),
        sum(col("blocks_total") - col("blocks_kept")).as("blocks_dropped"),
        sum(when(col("status") === "fallback", 1).otherwise(0))
          .as("parser_fallbacks"),
        sum(when(col("status") === "blank", 1).otherwise(0)).as("blank_turns"),
        // truncation lineage: turns whose payload hit a tokenizer cap
        // (content dropped — reference warnings trail, pipeline.py:2799)
        sum(when(col("truncated"), 1).otherwise(0)).as("turns_truncated"))
      .withColumn("status", lit("complete"))
      .withColumn("wall_ms", lit(System.currentTimeMillis() - t0))

    // the aggregate runs once: its rows (≤ the wave's bucket ids —
    // driver-safe) are collected and appended as exactly those rows, so
    // the file and the returned frame hold the same values. Nullable
    // schema: the one a read of `_manifest` has.
    val local = spark.createDataFrame(java.util.Arrays.asList(manifest.collect(): _*),
      StructType(manifest.schema.map(_.copy(nullable = true))))
    local.coalesce(1).write.mode(SaveMode.Append).parquet(manifestDir(cfg))
    local
  }

  /** the final output table (all completed buckets), stable per-key order */
  def output(spark: SparkSession, cfg: Config): DataFrame =
    spark.read.parquet(dataDir(cfg))
}
