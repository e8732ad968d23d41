package graft

import graft.sources._

/** Source/sink seam (SURVEY §1.4): exercisable implementations round-trip;
  * offline connector stubs fail loudly with the documented message. */
class SourcesSpec extends SparkSpec {

  test("ParquetSource loads by corpus table name and by explicit schema") {
    val byName = ParquetSource.load(spark,
      Map("dir" -> sfDir, "table" -> "region"))
    assert(byName.count() == 5)
    val bySchema = ParquetSource.load(spark, Map(
      "path" -> s"$sfDir/region.parquet",
      "schema" -> "r_regionkey INT, r_name STRING"))
    assert(bySchema.count() == 5)
    assert(bySchema.columns.toSeq == Seq("r_regionkey", "r_name"))
  }

  test("CSV and JSON sources round-trip through ParquetSink outputs") {
    val tmp = ScratchDir.create("graft_src")
    val nation = Tables.load(spark, sfDir, "nation")
    nation.coalesce(1).write.option("header", "true").csv(s"$tmp/n_csv")
    nation.coalesce(1).write.json(s"$tmp/n_json")
    val ddl = "n_nationkey INT, n_name STRING, n_regionkey INT"
    val fromCsv = CsvSource.load(spark,
      Map("path" -> s"$tmp/n_csv", "schema" -> ddl, "header" -> "true"))
    val fromJson = JsonSource.load(spark, Map("path" -> s"$tmp/n_json", "schema" -> ddl))
    val expect = nation.collect().map(_.toSeq).toSet
    assert(fromCsv.collect().map(_.toSeq).toSet == expect)
    assert(fromJson.collect().map(_.toSeq).toSet == expect)
    ParquetSink.save(fromCsv, Map("path" -> s"$tmp/n_out"))
    assert(spark.read.parquet(s"$tmp/n_out").count() == 25)
  }

  test("offline connector stubs throw with production-wiring pointer") {
    val e1 = intercept[UnsupportedOperationException] {
      CassandraSource.load(spark, Map("keyspace" -> "k", "table" -> "t"))
    }
    assert(e1.getMessage.contains("Cassandra"))
    // Schema mapping is validated BEFORE the transport check (advice
    // round-12), so the transport stub error needs a correctly-mapped
    // frame; a mis-mapped one gets the driver-side schema error first.
    val mapped = Tables.load(spark, sfDir, "region")
      .withColumnRenamed("r_regionkey", "id")
    val e2 = intercept[UnsupportedOperationException] {
      SolrSink.save(mapped, Map("collection" -> "c"))
    }
    assert(e2.getMessage.contains("SolrJ"))
    val e3 = intercept[IllegalArgumentException] {
      SolrSink.save(Tables.load(spark, sfDir, "region"),
        Map("collection" -> "c"))
    }
    assert(e3.getMessage.contains("unique-key"),
      "mis-mapped frame must surface the schema error, not the transport stub")
  }

  test("GraftSession builder wires extensions (cosine_sim resolvable)") {
    // The shared test session was built with GraftExtensions; the injected
    // function must resolve from SQL text without manual registration.
    assert(spark.sql("SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS s")
      .head.getDouble(0) == 1.0)
  }
}
