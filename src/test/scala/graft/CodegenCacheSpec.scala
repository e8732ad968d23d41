package graft

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, date_from_unix_date, lit, timestamp_micros}

import graft.plans.HoistedLiteral

/** Each plan shape compiles once per JVM: the codegen cache holds the
  * engine's working set (`GraftSession.builder`), and filter bounds stay
  * out of the generated source (`plans.HoistFilterLiterals`). Compile
  * counts are deltas of Spark's JVM-wide Janino counter
  * (`Bench.compileCount`) around the test's own actions. */
class CodegenCacheSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def compiledBy(f: => Unit): Long = {
    val c0 = Bench.compileCount()
    f
    Bench.compileCount() - c0
  }

  test("a second count() pass over the 20 headline keys compiles no class") {
    def pass(): Unit = Bench.headline.foreach { k =>
      SparkEntry.queries(k)(spark, sfDir).count()
    }
    pass()
    val second = compiledBy(pass())
    assert(second == 0L, s"second pass compiled $second classes")
  }

  test("range batches of one frame shape compile nothing after the first " +
      "and each returns exactly its range's rows") {
    def docs = SparkEntry.queries("solr_doc_assembly")(spark, sfDir)
    val all = docs.collect().toSeq
    val ranges = Seq((10L, 42L), (57L, 99L), (103L, 131L))
    val compiles = ranges.map { case (lo, hi) =>
      var got = Seq.empty[Row]
      val n = compiledBy {
        got = docs.filter(col("id") >= lo && col("id") < hi).collect().toSeq
      }
      val want = all.filter { r => r.getLong(0) >= lo && r.getLong(0) < hi }
      assert(want.nonEmpty && got == want, s"batch [$lo, $hi)")
      n
    }
    assert(compiles.tail == Seq(0L, 0L), s"compiles per batch: $compiles")
  }

  test("hoisted comparison constants select the rows a Scala-side filter " +
      "does, inside whole-stage codegen, printed as literals") {
    import spark.implicits._
    val day = LocalDate.of(2024, 2, 29).toEpochDay.toInt
    val micros = 1709164800000000L
    val rows = Seq[(Option[Int], Option[Long], Option[Int], Option[Long],
        Option[Double])](
      (Some(Int.MinValue), Some(Long.MinValue), Some(day - 1),
        Some(micros - 1), Some(Double.NaN)),
      (Some(41), Some(Long.MinValue + 1), Some(day), Some(micros),
        Some(-0.0)),
      (Some(42), Some(41L), Some(day + 1), Some(micros + 1), Some(0.0)),
      (Some(43), Some(42L), Some(0), Some(0L), Some(-1.0)),
      (Some(Int.MaxValue), Some(43L), Some(-1), Some(-1L), Some(1.0)),
      (Some(0), Some(Long.MaxValue), Some(day), Some(micros),
        Some(Double.NegativeInfinity)),
      (Some(-1), Some(0L), Some(day - 1), Some(micros + 1),
        Some(Double.MaxValue)),
      (None, None, None, None, None))
    val dir = ScratchDir.create("graft_hoist_spec")
    rows.toDF("i", "l", "dd", "tm", "x")
      .withColumn("d", date_from_unix_date(col("dd")))
      .withColumn("t", timestamp_micros(col("tm")))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val table = spark.read.parquet(dir)

    // Spark's order for doubles: -0.0 equals 0.0, NaN equals NaN and sorts
    // above every other value.
    def cmpD(a: Double, b: Double): Int =
      if (a == b) 0 else java.lang.Double.compare(a, b)
    // column -> (literal column, Scala-side compare of a row's raw value)
    val cases: Seq[(String, Column, Row => Option[Int])] =
      Seq(Int.MinValue, 41, 42, 43, Int.MaxValue).map { v =>
        ("i", lit(v), (r: Row) => Option(r.getAs[Integer]("i"))
          .map(a => Integer.compare(a, v)))
      } ++ Seq(Long.MinValue, 41L, 42L, 43L, Long.MaxValue).map { v =>
        ("l", lit(v), (r: Row) => Option(r.getAs[java.lang.Long]("l"))
          .map(a => java.lang.Long.compare(a, v)))
      } ++ Seq(day - 1, day, day + 1).map { v =>
        ("d", lit(LocalDate.ofEpochDay(v)), (r: Row) =>
          Option(r.getAs[Integer]("dd")).map(a => Integer.compare(a, v)))
      } ++ Seq(micros - 1, micros, micros + 1).map { v =>
        ("t", lit(Instant.EPOCH.plusNanos(v * 1000)), (r: Row) =>
          Option(r.getAs[java.lang.Long]("tm"))
            .map(a => java.lang.Long.compare(a, v)))
      } ++ Seq(-0.0, 0.0, Double.NaN, -1.0, 1.0).map { v =>
        ("x", lit(v), (r: Row) => Option(r.getAs[java.lang.Double]("x"))
          .map(a => cmpD(a, v)))
      }
    val ops: Seq[(String, (Column, Column) => Column, Int => Boolean)] = Seq(
      ("=", _ === _, _ == 0), ("<=>", _ <=> _, _ == 0), ("<", _ < _, _ < 0),
      ("<=", _ <= _, _ <= 0), (">", _ > _, _ > 0), (">=", _ >= _, _ >= 0))
    val all = table.collect().toSeq
    def ids(rs: Seq[Row]) = rs.map(r => Option(r.getAs[Integer]("i"))).sorted

    def inStage(p: SparkPlan): Seq[FilterExec] = p match {
      case _: InputAdapter => Nil
      case f: FilterExec => f +: f.children.flatMap(inStage)
      case o => o.children.flatMap(inStage)
    }
    for ((c, litCol, cmp) <- cases; (sym, op, holds) <- ops;
        flip <- Seq(false, true)) {
      val cond = if (flip) op(litCol, col(c)) else op(col(c), litCol)
      val keep: Row => Boolean =
        if (flip) r => cmp(r).exists(x => holds(-x)) else cmp(_).exists(holds)
      val what = s"$c $sym ${litCol}" + (if (flip) " (literal left)" else "")
      val df = table.filter(cond)
      assert(ids(df.collect().toSeq) == ids(all.filter(keep)), what)
      val plan = df.queryExecution.executedPlan
      val filters = collect(plan) { case f: FilterExec => f }
      val staged = collect(plan) { case w: WholeStageCodegenExec => w }
        .flatMap(w => inStage(w.child))
      assert(filters.nonEmpty && filters.forall(f => staged.exists(_ eq f)),
        s"$what: a FilterExec outside whole-stage codegen\n$plan")
      val hoisted = filters.filter(_.condition.exists(_.isInstanceOf[HoistedLiteral]))
      assert(hoisted.nonEmpty, s"$what: no hoisted constant\n$plan")
      hoisted.foreach { f =>
        val asLiteral = f.condition.transform {
          case h: HoistedLiteral => Literal(h.value, h.dataType)
        }
        assert(f.condition.toString == asLiteral.toString &&
          f.condition.sql == asLiteral.sql, what)
      }
    }
  }
}
