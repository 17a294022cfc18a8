package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.debug.codegenStringSeq

import graft.gen.TranscriptGen
import graft.operators.Extract
import graft.plans.ExtractionJob

/** HotSpot does not JIT-compile a method over 8,000 bytecode bytes
  * (`-XX:+DontCompileHugeMethods`, on by default), while Spark only falls
  * back from whole-stage codegen at 64 KB — so a generated row loop that
  * grows past 8,000 bytes runs in the bytecode interpreter on every row
  * and nothing fails (Spark logs it at INFO only). Every codegen stage of
  * the extraction plans must stay under the limit.
  */
class MethodSizeSpec extends SparkSpecBase {

  private val Limit = CodeGenerator.DEFAULT_JVM_HUGE_METHOD_LIMIT

  /** Parquet-backed input: local relations constant-fold and compile no
    * row loop. */
  private lazy val input: DataFrame = {
    val dir = tempDir("graft-methods")
    TranscriptGen.inputDf(spark, 200L).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** the job's plan for one wave of `ids` under the default bucket key */
  private def jobMap(ids: Seq[Int]): DataFrame =
    ExtractionJob.wavePlan(input.withColumn("bucket", ExtractionJob.bucketCol(32, 4096)), ids)

  private def largestMethods(df: DataFrame): Seq[Int] = {
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false") // AQE hides the stages until they run
    try codegenStringSeq(df.queryExecution.executedPlan).map(_._3.maxMethodCodeSize)
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val plans: Seq[(String, () => DataFrame)] = Seq(
    "Extract alone" -> (() => Extract(input)),
    "job map stage, single commit" -> (() => jobMap(0 until 32)),
    "job map stage, wave filter" -> (() => jobMap(0 until 10)),
    "job map stage, resume filter on 2 ids" -> (() => jobMap(Seq(10, 11))))

  for ((name, plan) <- plans)
    test(s"every generated method stays JIT-compilable: $name") {
      val sizes = largestMethods(plan())
      info(s"largest generated method per stage: ${sizes.mkString(", ")} bytes")
      assert(sizes.nonEmpty, "no whole-stage codegen stage found")
      assert(sizes.forall(_ < Limit),
        s"largest generated method per stage $sizes, HotSpot limit $Limit")
    }
}
