package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins `Tables.events`' schema-adaptive `ts` normalization. The testdata's
  * physical encoding of `ts` has changed across generations (TIMESTAMP(NANOS)
  * → timestamp[us] NTZ), and every variant must land on the same session-UTC
  * TimestampType with identical epoch-micros, so downstream `window()` /
  * `unix_micros` and DuckDB oracle hashes never depend on which generation
  * produced the files.
  */
class TablesSpec extends AnyFunSuite {
  import SparkTestSession._

  // 2024-03-05 17:30:05.123456 UTC
  private val epochMicros = 1709659805123456L

  private def writeEvents(dir: String, tsCol: org.apache.spark.sql.Column): Unit = {
    import spark.implicits._
    Seq((1L, 7L, "view", 1.5, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsCol)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def loadedMicros(dir: String): (DataType, Long) = {
    val df = Tables(spark, dir).events
    val tpe = df.schema("ts").dataType
    val micros = df.select(unix_micros(col("ts"))).head().getLong(0)
    (tpe, micros)
  }

  test("long nanos ts normalizes to TimestampType at the same micros") {
    val dir = Files.createTempDirectory("events_nanos_long").toString
    writeEvents(dir, lit(epochMicros * 1000L)) // int64 epoch-nanos
    val (tpe, micros) = loadedMicros(dir)
    assert(tpe === TimestampType)
    assert(micros === epochMicros)
  }

  test("TIMESTAMP_NTZ ts (current testdata shape) casts to TimestampType, micros-identical") {
    val dir = Files.createTempDirectory("events_ntz").toString
    // Spark writes TimestampNTZType as parquet timestamp[us] isAdjustedToUTC=false —
    // exactly the current /root/testdata physical shape.
    writeEvents(
      dir,
      lit(LocalDateTime.ofEpochSecond(epochMicros / 1000000L, (epochMicros % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC)))
    val (tpe, micros) = loadedMicros(dir)
    assert(tpe === TimestampType)
    assert(micros === epochMicros)
  }

  test("TIMESTAMP_LTZ ts passes through untouched") {
    val dir = Files.createTempDirectory("events_ltz").toString
    writeEvents(dir, lit(new Timestamp(epochMicros / 1000L)).cast(TimestampType))
    val (tpe, micros) = loadedMicros(dir)
    assert(tpe === TimestampType)
    assert(micros === (epochMicros / 1000L) * 1000L) // java.sql.Timestamp carries ms here
  }

  test("real testdata events load with a usable UTC timestamp") {
    val df = Tables(spark, sf).events
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.select(min(year(col("ts")))).head().getInt(0) >= 1970)
    assert(df.count() > 0)
  }

  test("a warm table load declares its schema and launches no job") {
    val t = Tables(spark, sf)
    t.documents.schema; t.events.schema // resolve once
    val (_, jobs) = JobProbe.jobs(spark) {
      Tables(spark, sf).documents.schema
      Tables(spark, sf).events.schema
    }
    assert(jobs.isEmpty, s"warm loads ran jobs:\n${jobs.mkString("\n--\n")}")
  }

  test("overwriting events.parquet with another ts encoding re-resolves its schema") {
    val dir = Files.createTempDirectory("events_rewrite").toString
    writeEvents(
      dir,
      lit(LocalDateTime.ofEpochSecond(epochMicros / 1000000L, (epochMicros % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC)))
    assert(loadedMicros(dir) === ((TimestampType, epochMicros)))
    writeEvents(dir, lit(epochMicros * 1000L)) // same path, int64 epoch-nanos
    assert(Tables.parquetSchema(spark, s"$dir/events.parquet")("ts").dataType === LongType)
    assert(loadedMicros(dir) === ((TimestampType, epochMicros)))
  }
}
