package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Physical-layout contract for events.parquet (round-6, after the
  * round-5 regression where a driver regeneration flipped ts from
  * int64-ns to timestamp[us] and 12 oracle rows silently went red).
  *
  * The contract: whatever layout the footer declares, the loader must
  * (a) agree with the footer (sniff == Spark's own inference) and
  * (b) produce the SAME instants from every layout of the same data.
  * If the driver regenerates the corpus with a new layout, THIS spec
  * fails by name instead of a dozen downstream oracle rows.
  */
class LayoutContractSpec extends SparkSpec {
  import spark.implicits._

  test("loader sniff agrees with the shipped corpus footer") {
    val path = s"$sfDir/events.parquet"
    val inferred = spark.read.parquet(path).schema
      .find(_.name == "ts").map(_.dataType)
    assert(inferred.contains(Tables.eventsTsType(spark, path)),
      s"sniff ${Tables.eventsTsType(spark, path)} != footer $inferred")
  }

  test("loaded corpus lands in the documented era (unit sanity)") {
    // The corpus spans ~30 days of 2024-ish activity at every SF. A unit
    // slip (ns read as µs or vice versa) moves max(ts) off by 1000× into
    // 1970 or year ~56k — either trips this range.
    val maxTs = Tables.load(spark, sfDir, "events")
      .agg(max("ts")).head.getTimestamp(0)
    val yr = maxTs.toInstant.atZone(java.time.ZoneOffset.UTC).getYear
    assert(yr >= 2020 && yr <= 2035, s"max(ts)=$maxTs (year $yr)")
  }

  test("all three physical layouts of the same rows load identically") {
    val base = ScratchDir.create("graft_layout")
    val usEpoch = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    val rows = (1L to 100L).map(i => (i, usEpoch + i * 1000000L, i % 7,
      "view", 1.0, "{}"))

    // Legacy layout: raw INT64 nanoseconds.
    rows.map { case (id, us, u, e, v, p) => (id, us * 1000L, u, e, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$base/ns/events.parquet")
    // Current driver layout: timestamp[us] WITHOUT timezone (NTZ).
    rows.map { case (id, us, u, e, v, p) =>
        (id, java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
          ((us % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC),
          u, e, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$base/ntz/events.parquet")
    // tz-adjusted µs layout (what our own sinks emit).
    rows.map { case (id, us, u, e, v, p) =>
        (id, new java.sql.Timestamp(us / 1000L), u, e, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$base/ltz/events.parquet")

    def loaded(sub: String): Map[Long, Long] =
      Tables.load(spark, s"$base/$sub", "events")
        .select($"event_id", unix_micros($"ts").as("us"))
        .as[(Long, Long)].collect().toMap

    assert(Tables.eventsTsType(spark, s"$base/ns/events.parquet") == LongType)
    assert(Tables.eventsTsType(spark, s"$base/ntz/events.parquet") == TimestampNTZType)
    val ltzType = Tables.eventsTsType(spark, s"$base/ltz/events.parquet")
    assert(ltzType == TimestampType || ltzType == TimestampNTZType,
      s"ltz sniff: $ltzType")

    val ns = loaded("ns")
    assert(ns == loaded("ntz"), "ns and ntz layouts disagree")
    assert(ns == loaded("ltz"), "ns and ltz layouts disagree")
    assert(ns(1L) == usEpoch + 1000000L, s"absolute instant wrong: ${ns(1L)}")
  }
}
