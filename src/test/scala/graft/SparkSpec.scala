package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, Test/fork := true),
  * plus the suite-scoped temp directories of [[TempDirs]]. */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** `body` under a scan split (`spark.sql.files.maxPartitionBytes`) of
    * `bytes`, restored after. Index layouts are sized in splits, so a
    * small split gives a small fixture a multi-prefix index. */
  def withSplitBytes[T](bytes: Long)(body: => T): T = {
    val k = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, bytes.toString)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }
}

object SparkSpec {

  /** Flattens a physical plan through AQE boundaries — executedPlan
    * hides subtrees behind AdaptiveSparkPlanExec until execution, and
    * behind LEAF QueryStageExec wrappers (Result/Shuffle/Broadcast)
    * after it. The ONE definition of this traversal for every suite
    * that inspects plan nodes (PlanSpec, ApiSpec).
    */
  def collectAll(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectAll(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: collectAll(q.plan)
      case other => Seq(other)
    }.flatten

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // whole-stage codegen compile failures THROW here instead of
      // silently falling back to interpreted execution — any plan that
      // regresses into e.g. the Expand switch-case split bug fails its
      // suite loudly rather than just losing codegen
      .config("spark.sql.codegen.fallback", "false")
      // the ANSI lane: SPARK_GRAFT_ANSI=true runs the whole suite
      // under Spark 4's strict arithmetic/cast semantics
      .config("spark.sql.ansi.enabled", BenchHarness.ansiEnabled)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
