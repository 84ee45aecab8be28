package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the run-harness contracts the driver mains (Bench, Verify,
  * Stress) rely on: how a frame is forced, how per-query storage is
  * swept, and that machine-read numbers do not depend on the locale. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-harness-test")

  test("force evaluates every column: a throwing projection fails it, count() does not") {
    // count() prunes the projection away, so a timing forced by count()
    // would never run it — the under-measurement force exists to prevent
    val df = spark.range(10).select(col("id"),
      when(col("id") >= 0, raise_error(lit("evaluated"))).otherwise(lit("ok")).as("bad"))
    assert(df.count() == 10L)
    val e = intercept[Exception](GraftSession.force(df))
    assert(e.getMessage.contains("evaluated"), e.getMessage)
    assert(GraftSession.force(df.select("id")) == 10L)
  }

  test("sweep frees only what was persisted after the baseline") {
    val kept = spark.range(5).toDF().localCheckpoint(true)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val swept = Seq(spark.range(7).toDF().localCheckpoint(true),
      spark.range(9).toDF().localCheckpoint(true))
    assert(swept.forall(Bridge.isCheckpointBacked))
    GraftSession.sweep(spark, baseline)
    assert(!swept.exists(Bridge.isCheckpointBacked))
    assert(Bridge.isCheckpointBacked(kept))
    Bridge.unpersistCheckpoints(kept)
  }

  test("isCheckpointBacked visits a shared-lineage RDD once, not once per path") {
    // 40 self-unions: 41 RDDs but 2^40 dependency paths. The partitioner
    // keeps every level at one partition (a partitioner-aware union).
    val base = spark.sparkContext.parallelize(Seq(1L -> 1L))
      .partitionBy(new HashPartitioner(1))
    val unioned = (1 to 40).foldLeft(base)((a, _) => a.union(a))
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val df = spark.createDataFrame(unioned.map { case (k, v) => Row(k, v) }, schema)
    val backed = Await.result(Future(Bridge.isCheckpointBacked(df)), 60.seconds)
    assert(!backed)
  }

  test("Bench formats numbers with a decimal point under a decimal-comma locale") {
    val prior = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(f"${1.234}%.3f" == "1,234") // the hazard the formatter avoids
      assert(Bench.num(1.234, 3) == "1.234")
      assert(Bench.num(197.25, 1) == "197.3")
      assert(Bench.num(-1.0, 3) == "-1.000")
    } finally java.util.Locale.setDefault(prior)
  }
}
