package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** One session factory: every session of the engine starts from
  * `GraftSession.builder`, Bench's differences from it never change a
  * headline key's rows, and Bench's stdout stays machine-parseable. */
class SessionSpec extends SparkSpec {

  test("sessions are built only in GraftSession.scala (no other builder call under src/)") {
    val root = Paths.get("src")
    assert(Files.isDirectory(root),
      s"no src/ under ${Paths.get("").toAbsolutePath}")
    val needle = "SparkSession" + ".builder()"
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = files.filter(p =>
      p.getFileName.toString != "GraftSession.scala" &&
        new String(Files.readAllBytes(p), UTF_8).contains(needle))
    assert(offenders.isEmpty,
      s"start sessions from GraftSession.builder instead: " +
        offenders.mkString(", "))
  }

  test("Bench's [floor] line and JSON line parse under a comma-decimal " +
      "default locale") {
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      assert(String.format("%.1f", Double.box(1.5)) == "1,5")
      val floor = Bench.floorLine(1.23, 2.5, 10.04, 12.0)
      assert(floor ==
        "[floor] job_best_ms=1.2 job_med_ms=2.5 sql_best_ms=10.0 sql_med_ms=12.0")
      val line = Bench.jsonLine(Seq("q1_pricing_summary" -> 0.25,
        "anti_join" -> -1.0, "set_ops" -> 0.5), 1.23, 2.5, 10.04, 12.0,
        "/data/sf0.1")
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(line)
      assert(json.get("metric").asText == "total")
      assert(json.get("value").asDouble == 0.75)
      assert(json.get("queries").get("anti_join").asDouble == -1.0)
      val f = json.get("floor")
      assert(Seq("job_best_ms", "job_med_ms", "sql_best_ms", "sql_med_ms")
        .map(k => f.get(k).asDouble) == Seq(1.2, 2.5, 10.0, 12.0))
      assert(json.get("sf").asText == "/data/sf0.1")
    } finally Locale.setDefault(saved)
  }

  test("the 20 headline keys return the test session's rows under " +
      "Bench.sessionConf (the timed plans: AQE and CBO off)") {
    val bench = spark.newSession()
    val applied = Bench.sessionConf.filter { case (k, _) =>
      bench.conf.isModifiable(k)
    }
    applied.foreach { case (k, v) => bench.conf.set(k, v) }
    assert(bench.conf.get("spark.sql.adaptive.enabled") == "false" &&
      bench.conf.get("spark.sql.cbo.enabled") == "false" &&
      bench.conf.get("spark.sql.shuffle.partitions") == "8")
    Bench.headline.foreach { key =>
      val want = SparkEntry.queries(key)(spark, sfDir).collect().toSeq
      SparkSession.setActiveSession(bench)
      val got =
        try SparkEntry.queries(key)(bench, sfDir).collect().toSeq
        finally SparkSession.setActiveSession(spark)
      assert(got.nonEmpty && got == want, s"$key: bench-session rows differ")
    }
  }
}
