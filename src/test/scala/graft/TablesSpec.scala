package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The per-session footer-schema memo behind `Tables.table`: a repeated
  * open runs no Spark job, and anything that can change the inferred
  * schema (the file, the session, the footer-type confs) infers again. */
class TablesSpec extends AnyFunSuite {
  private lazy val base = SparkTestBase.session

  /** A session of its own, so memo entries and conf flips stay local. */
  private def freshSession(): SparkSession = base.newSession()

  private def tmpDir(): Path = Files.createTempDirectory("graft-tables")

  /** Write `df` as ONE regular parquet file at `target` (Spark writes a
    * directory; the corpus ships single files). */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val out = tmpDir().resolve("out")
    df.coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Number of Spark jobs `body` starts on this thread. Jobs carry the
    * thread's job group, and a sentinel job after `body` proves the
    * asynchronous listener has seen every earlier job start. */
  private def jobsDuring(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"tables-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(g) if g == s"$tag-end" => sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "TablesSpec")
      body
      sc.setJobGroup(s"$tag-end", "TablesSpec sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, TimeUnit.SECONDS), "listener never saw the sentinel")
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A parquet file whose `ts` column is a real TIMESTAMP(NANOS) footer
    * type. Spark cannot write one, so parquet-mr's example writer does. */
  private def writeNanos(target: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(target.toUri))
      .withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1700000000000000L, 1700000001500000L).zipWithIndex.foreach {
      case (us, i) =>
        w.write(rows.newGroup().append("event_id", i.toLong).append("ts", us * 1000L))
    } finally w.close()
  }

  test("a second open of the same file runs no Spark job") {
    val spark = freshSession()
    val dir = tmpDir()
    writeFile(spark.range(0, 50).toDF("id"), dir.resolve("t.parquet"))
    val first = jobsDuring(spark)(Tables.table(spark, dir.toString, "t"))
    assert(first >= 1, "the first open infers the footer schema")
    var again: DataFrame = null
    assert(jobsDuring(spark) {
      again = Tables.table(spark, dir.toString, "t")
      Tables.schemaOf(spark, dir.resolve("t.parquet").toString)
    } == 0)
    assert(again.schema == spark.read.parquet(dir.resolve("t.parquet").toString).schema)
    assert(again.selectExpr("sum(id)").head().getLong(0) == (0 until 50).sum)
  }

  test("a file rewritten at the same path with another schema is re-inferred") {
    val spark = freshSession()
    val dir = tmpDir()
    val path = dir.resolve("t.parquet")
    writeFile(spark.range(0, 10).toDF("id"), path)
    assert(Tables.table(spark, dir.toString, "t").columns.toSeq == Seq("id"))
    writeFile(spark.range(0, 10).selectExpr("id", "id * 2 AS twice"), path)
    val reopened = Tables.table(spark, dir.toString, "t")
    assert(reopened.columns.toSeq == Seq("id", "twice"))
    assert(reopened.selectExpr("sum(twice)").head().getLong(0) == 90L)
    assert(Tables.schemaOf(spark, path.toString).fieldNames.toSeq == Seq("id", "twice"))
  }

  test("flipping nanosAsLong on a TIMESTAMP(NANOS) file yields the matching type") {
    val spark = freshSession()
    val dir = tmpDir()
    writeNanos(dir.resolve("events.parquet"))
    val path = dir.resolve("events.parquet").toString
    def uncached = scala.util.Try(spark.read.parquet(path).schema("ts").dataType)
    def viaTables = scala.util.Try(Tables.table(spark, dir.toString, "events").schema("ts").dataType)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(viaTables.get == LongType)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val (memo, direct) = (viaTables, uncached)
    assert(memo.map(_.toString) == direct.map(_.toString) ||
      (memo.isFailure && direct.isFailure &&
        memo.failed.get.getClass == direct.failed.get.getClass),
      s"memo $memo vs uncached $direct")
    assert(!memo.toOption.contains(LongType))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(jobsDuring(spark)(assert(viaTables.get == LongType)) == 0,
      "the nanosAsLong=true entry is still memoized")
  }

  test("a fresh session infers again") {
    val spark = freshSession()
    val dir = tmpDir()
    writeFile(spark.range(0, 5).toDF("id"), dir.resolve("t.parquet"))
    Tables.table(spark, dir.toString, "t")
    assert(jobsDuring(spark)(Tables.table(spark, dir.toString, "t")) == 0)
    val other = spark.newSession()
    assert(jobsDuring(other)(Tables.table(other, dir.toString, "t")) >= 1)
  }

  test("a directory path opens correctly and uncached") {
    val spark = freshSession()
    val dir = tmpDir()
    spark.range(0, 20).toDF("id").repartition(3)
      .write.parquet(dir.resolve("d.parquet").toString)
    val first = Tables.table(spark, dir.toString, "d")
    assert(first.selectExpr("sum(id)").head().getLong(0) == (0 until 20).sum)
    assert(jobsDuring(spark) {
      assert(Tables.table(spark, dir.toString, "d").schema == first.schema)
    } >= 1, "a directory is re-inferred on every open")
  }
}
