package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Call sites below are `StageInfo.details` strings recorded from traced
  * runs (cut after a few frames). */
class AttributionSpec extends AnyFunSuite {
  private val schemaRead =
    """org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)
      |graft.Tables$.table(Tables.scala:14)
      |graft.Tables$.lineitem(Tables.scala:22)
      |graft.SparkEntry$.dqReport(SparkEntry.scala:1131)
      |graft.SparkEntry$.$anonfun$queries$36(SparkEntry.scala:5689)
      |graft.perfbench.Main$.$anonfun$runQuery$3(Main.scala:224)""".stripMargin

  private val loopCheckpoint =
    """org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)
      |graft.operators.Ranking$.rangeSorted(Ranking.scala:43)
      |graft.operators.Ranking$.withGlobalRank(Ranking.scala:108)
      |graft.operators.Star$.buildDimDistributed(Star.scala:67)
      |graft.SparkEntry$.factOrders(SparkEntry.scala:1168)""".stripMargin

  private val stagedWrite =
    """org.apache.spark.sql.classic.DataFrameWriter.save(DataFrameWriter.scala:115)
      |graft.sources.Staging$.writeStaged(Staging.scala:50)
      |graft.SparkEntry$.stagedPartitionedWrite(SparkEntry.scala:4893)
      |graft.SparkEntry$.$anonfun$queries$132(SparkEntry.scala:5785)""".stripMargin

  private val broadcastThread =
    """org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)
      |java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)
      |java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)
      |java.base/java.lang.Thread.run(Thread.java:840)""".stripMargin

  private val forcedByBenchmark =
    """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1525)
      |graft.perfbench.Main$.$anonfun$runQuery$5(Main.scala:233)
      |graft.perfbench.Main$.phase$1(Main.scala:212)""".stripMargin

  test("the first engine frame names the module") {
    assert(Attribution.module(schemaRead).contains("Tables"))
    assert(Attribution.module(loopCheckpoint).contains("operators"))
    assert(Attribution.module(stagedWrite).contains("sources"))
  }

  test("top-level objects keep their name without the module suffix") {
    assert(Attribution.module("graft.SparkEntry$.$anonfun$queries$1(SparkEntry.scala:1)")
      .contains("SparkEntry"))
    assert(Attribution.module("app//graft.GraftSession$.local(GraftSession.scala:9)")
      .contains("GraftSession"))
  }

  test("call sites without an engine frame are unattributed") {
    assert(Attribution.module(broadcastThread).isEmpty)
    assert(Attribution.module(forcedByBenchmark).isEmpty)
    assert(Attribution.module("").isEmpty)
    assert(Attribution.module("<unknown>").isEmpty)
  }

  test("covered time is the length of the union of intervals") {
    assert(Attribution.covered(Nil) == 0L)
    assert(Attribution.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Attribution.covered(Seq((20L, 25L), (0L, 30L))) == 30L)
    assert(Attribution.covered(Seq((5L, 5L), (7L, 3L))) == 0L)
  }

  test("self time subtracts what children cover inside the span") {
    // span [100, 200): children overlap each other and stick out at both ends
    val kids = Seq((90L, 120L), (110L, 130L), (150L, 160L), (190L, 250L))
    assert(Attribution.selfTime(100L, 200L, kids) == 100L - 30L - 10L - 10L)
    assert(Attribution.selfTime(100L, 200L, Nil) == 100L)
    assert(Attribution.selfTime(100L, 200L, Seq((0L, 50L), (300L, 400L))) == 100L)
    assert(Attribution.selfTime(100L, 200L, Seq((0L, 1000L))) == 0L)
  }
}
