package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Overlap}

/** Scheduling helpers: `Dedup.fanOutScan`'s spread decision
  * and `Overlap.runAll`'s failure handling. */
class SchedulingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.session
  private def par = spark.sparkContext.defaultParallelism

  /** Did `fanOutScan` add a spread over `df`? */
  private def spreads(df: DataFrame): Boolean =
    Dedup.fanOutScan(df, col("id")).queryExecution.logical match {
      case r: RepartitionByExpression => r.numPartitions == par
      case _ => false
    }

  test("fanOutScan spreads a one-partition scan, as the .rdd probe decided") {
    val path = Files.createTempDirectory("graft-spread").resolve("t").toString
    spark.range(0, 100, 1, 1).toDF("id").write.parquet(path)
    val scan = spark.read.parquet(path)
    assert(scan.rdd.getNumPartitions == 1)
    assert(Dedup.plannedPartitions(scan) == 1)
    assert(spreads(scan))
    assert(spreads(scan.filter(col("id") > 3).select(col("id"))))
  }

  test("fanOutScan leaves an input with >= defaultParallelism partitions alone") {
    val wide = spark.range(0, 100, 1, par).toDF("id")
    assert(wide.rdd.getNumPartitions == par)
    assert(Dedup.plannedPartitions(wide) == par)
    assert(Dedup.fanOutScan(wide, col("id")) eq wide)
    val twoScans = wide.union(spark.range(0, 10, 1, 1).toDF("id"))
    assert(Dedup.plannedPartitions(twoScans) == twoScans.rdd.getNumPartitions)
  }

  test("plannedPartitions follows the streamed side of a broadcast join") {
    val path = Files.createTempDirectory("graft-spread").resolve("t").toString
    spark.range(0, 1000, 1, 2 * par).toDF("id").write.parquet(path)
    val scan = spark.read.parquet(path)
    val joined = broadcast(spark.range(0, 10).toDF("id")).join(scan, "id")
    assert(scan.rdd.getNumPartitions > 1)
    assert(Dedup.plannedPartitions(joined) == scan.rdd.getNumPartitions)
    assert(Dedup.plannedPartitions(joined) == joined.rdd.getNumPartitions)
  }

  test("fanOutScan returns a streaming input unchanged") {
    val stream = spark.readStream.format("rate").load().withColumnRenamed("value", "id")
    assert(Dedup.fanOutScan(stream, col("id")) eq stream)
  }

  test("Overlap.runAll throws the first failure without waiting for a slow sibling") {
    val slowMs = 20000L
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Overlap.runAll(Seq(
        () => { Thread.sleep(slowMs); 1 },
        () => throw new IllegalStateException("job 2 failed")))
    }
    val tookMs = (System.nanoTime() - t0) / 1000000L
    assert(e.getMessage == "job 2 failed")
    assert(tookMs < slowMs / 4, s"runAll waited $tookMs ms behind the slow job")
  }

  test("Overlap.runAll returns results in submission order") {
    assert(Overlap.runAll(Seq(
      () => { Thread.sleep(300); "a" }, () => "b", () => "c")) == Seq("a", "b", "c"))
  }
}
