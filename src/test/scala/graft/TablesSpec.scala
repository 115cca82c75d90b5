package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, TimestampType}

import graft.sources.Tables

/** The per-session schema cache behind `Tables.load`/`Tables.read`: a
  * warm load runs no Spark job, yet every load answers exactly what a
  * plain `spark.read.parquet` of the same files would. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath + "/t.parquet"

  private def jobs[T](body: => T): (T, Int) = {
    val (out, js) = JobLog.during(spark.sparkContext)(body)
    (out, js.size)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a second load of an unchanged table runs no Spark job") {
    val dir = tmp("graft-tables-warm")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(dir)
    val (first, coldJobs) = jobs(Tables.read(spark, dir))
    assert(coldJobs === 1, "the cold load infers the schema in one job")
    val (second, warmJobs) = jobs(Tables.read(spark, dir))
    assert(warmJobs === 0)
    assert(second.schema === first.schema)
    assert(second.schema === spark.read.parquet(dir).schema)
    assert(rows(second) === Seq("[1,a]", "[2,b]"))
  }

  test("a file appended with the same schema is visible on the next load") {
    val dir = tmp("graft-tables-append")
    Seq(1L, 2L).toDF("id").write.parquet(dir)
    assert(Tables.read(spark, dir).count() === 2)
    Seq(3L).toDF("id").write.mode("append").parquet(dir)
    val (grown, n) = jobs(Tables.read(spark, dir))
    assert(n === 0, "one new footer is read on the driver")
    assert(grown.as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("past the listing cut-over, new footers are read in one distributed job") {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1")
    val dir = tmp("graft-tables-wide")
    (1L to 4L).toDF("id").repartition(2).write.parquet(dir)
    val (_, cold) = jobs(Tables.read(s, dir))
    assert(cold === 2, "inference plus one footer job")
    assert(jobs(Tables.read(s, dir))._2 === 0)
    (5L to 8L).toDF("id").repartition(2).write.mode("append").parquet(dir)
    val (grown, n) = jobs(Tables.read(s, dir))
    assert(n === 1)
    assert(grown.agg(sum("id")).as[Long].head() === 36L)
  }

  test("a table overwritten in place with a different schema answers with the new one") {
    val dir = tmp("graft-tables-overwrite")
    Seq((1L, 1.0)).toDF("id", "v").coalesce(1).write.parquet(dir)
    assert(rows(Tables.read(spark, dir)) === Seq("[1,1.0]"))
    assert(jobs(Tables.read(spark, dir))._2 === 0)
    // same part-file name, new content: only length and mtime tell
    val part = new File(dir).listFiles().find(_.getName.endsWith(".parquet")).get
    val other = tmp("graft-tables-overwrite-src")
    Seq((2L, "x", 5.5)).toDF("id", "tag", "w").coalesce(1).write.parquet(other)
    val src = new File(other).listFiles().find(_.getName.endsWith(".parquet")).get
    // the local filesystem's checksum sidecar travels with the file
    def crc(f: File) = new File(f.getParent, s".${f.getName}.crc")
    Files.move(src.toPath, part.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.move(crc(src).toPath, crc(part).toPath, StandardCopyOption.REPLACE_EXISTING)
    val df = Tables.read(spark, dir)
    assert(df.columns.toSeq === Seq("id", "tag", "w"))
    assert(df.schema === spark.read.parquet(dir).schema)
    assert(df.agg(sum("w")).as[Double].head() === 5.5)
  }

  test("a mixed-schema table answers like spark.read.parquet on every load") {
    val dir = tmp("graft-tables-mixed")
    Seq((1L, 1.0)).toDF("id", "v").write.parquet(dir)
    Seq((2L, 2.0, "b")).toDF("id", "v", "tag").write.mode("append").parquet(dir)
    (1 to 3).foreach { i =>
      if (i == 3) Seq((3L, 3.0)).toDF("id", "v").write.mode("append").parquet(dir)
      val got = Tables.read(spark, dir)
      val want = spark.read.parquet(dir)
      assert(got.schema === want.schema, s"load $i")
      assert(rows(got) === rows(want), s"load $i")
    }
  }

  test("sessions with different nanosAsLong each get their own events.ts") {
    val root = new File(tmp("graft-tables-nanos")).getParent
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$root/events.parquet/part-0.parquet"), new Configuration()))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()

    def ts(s: SparkSession) = scala.util.Try {
      val df = Tables.load(s, root, "events")
      (df.schema("ts").dataType, df.select(col("ts").cast("string")).as[String].head())
    }
    def session(nanosAsLong: Boolean) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.session.timeZone", "UTC")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong.toString)
      s
    }
    val nanos = session(nanosAsLong = true)
    val strict = session(nanosAsLong = false)
    val want = (TimestampType, "2023-11-14 22:13:20.123456")
    assert(ts(nanos).get === want)
    assert(ts(nanos).get === want, "warm")
    // without the legacy conf Spark refuses nanos outright; the entry
    // cached for the other session must not stand in for the refusal
    val refusal = intercept[AnalysisException](
      strict.read.parquet(s"$root/events.parquet")).getMessage
    assert(refusal.contains("PARQUET_TYPE_ILLEGAL"), refusal)
    assert(ts(strict).failed.get.getMessage === refusal)
    assert(ts(strict).failed.get.getMessage === refusal, "second strict load")
    assert(ts(nanos).get === want, "first session unaffected")
    // one session whose conf changes: its entries are per conf set
    nanos.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(ts(nanos).failed.get.getMessage === refusal)
    nanos.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(ts(nanos).get === want)
  }

  test("a partitioned table is never cached: partition types follow the partitions") {
    val dir = tmp("graft-tables-partitioned")
    Seq((1L, 1), (2L, 2)).toDF("id", "p").write.partitionBy("p").parquet(dir)
    assert(Tables.read(spark, dir).schema("p").dataType === IntegerType)
    val (_, n) = jobs(Tables.read(spark, dir))
    assert(n >= 1, "every load infers")
    Seq((3L, "x")).toDF("id", "p").write.mode("append").partitionBy("p").parquet(dir)
    val df = Tables.read(spark, dir)
    assert(df.schema("p").dataType === StringType)
    assert(rows(df) === Seq("[1,1]", "[2,2]", "[3,x]"))
  }
}
