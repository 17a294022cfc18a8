package graft

import org.apache.spark.sql.SparkSession

import graft.plans.ExtractionJob

/** spark-submit entry point for the extraction job (the north-rule
  * deployment surface: `spark-submit --class graft.SubmitMain <jar>
  * <input> <outDir> [numBuckets] [waveBuckets]`). Unlike
  * [[Verify]]/[[Bench]] (driver harness mains that build their own local
  * sessions), this main takes the session FROM spark-submit — master,
  * executor sizing, shuffle partitions and AQE all come from the cluster
  * launch config, exactly as a 1000-executor run would set them.
  *
  * `<input>`: a transcript-shaped parquet path
  * (conv_id, turn_idx, role, text, tool, ts), or `gen:N` to synthesize
  * N deterministic turns in-job (smoke runs need no pre-made input).
  *
  * Re-running with the same `<outDir>` resumes from the manifest:
  * completed buckets are skipped, and a bucket's dir left by a killed
  * run is deleted and written again (one file per bucket, renamed into
  * place by its write task; the manifest append is the commit) — kill
  * the job at any point and re-submit it, with the same `[numBuckets]`,
  * to finish it (another bucket count fails before it writes). Pass
  * `[waveBuckets]` to commit in waves of that many buckets, so a kill
  * loses at most one wave instead of the whole run.
  */
object SubmitMain {
  def main(args: Array[String]): Unit = {
    val usage = "usage: spark-submit --class graft.SubmitMain <jar> " +
      "<inputParquet|gen:N> <outDir> [numBuckets] [waveBuckets]"
    require(args.length >= 2, usage)
    def number[T](s: String, parse: String => Option[T]): T =
      parse(s).getOrElse(throw new IllegalArgumentException(s"not a number: '$s'; $usage"))
    val turns =
      if (args(0).startsWith("gen:")) Some(number(args(0).stripPrefix("gen:"), _.toLongOption))
      else None
    val numBuckets = if (args.length > 2) number(args(2), _.toIntOption) else 32
    // wave-commit granularity: bound a mid-run kill's blast radius to
    // waveBuckets buckets (see ExtractionJob.run scaladoc)
    val waveBuckets = if (args.length > 3) Some(number(args(3), _.toIntOption)) else None
    val spark = SparkSession.builder()
      .appName("graft-extract")
      .getOrCreate()
    try {
      val t0 = System.nanoTime()
      val input = turns.fold(spark.read.parquet(args(0)))(gen.TranscriptGen.inputDf(spark, _))
      val cfg = ExtractionJob.Config(outDir = args(1), numBuckets = numBuckets,
        waveBuckets = waveBuckets)
      // the manifest rows THIS run committed (a local frame: no Spark job)
      val rows = ExtractionJob.run(spark, input, cfg).collect()
      def total(c: String): Long =
        rows.map(r => if (r.isNullAt(r.fieldIndex(c))) 0L else r.getAs[Long](c)).sum
      // one JSON summary line for the run (resume-aware: an
      // already-complete run sums to zero)
      val summary = Seq("buckets" -> rows.length.toLong,
        "turns" -> total("turns_processed"), "blocks_dropped" -> total("blocks_dropped"),
        "fallbacks" -> total("parser_fallbacks"), "truncated" -> total("turns_truncated"))
      println(summary.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      println(s"graft-extract complete: ${rows.length} buckets " +
        s"this run, output at ${ExtractionJob.dataDir(cfg)}")
      // job time from input resolution to manifest collect — the figure a
      // cluster's job history would report, excluding one-time JVM/session
      // startup and teardown (amortized on a long-lived cluster)
      println(f"graft-extract job_sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    } finally spark.stop()
  }
}
