package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured AQE-skew-split vs manual-salting crossover (VERDICT r6
  * item 7). Builds a Zipf-head probe side (one key holding `hotFrac` of
  * all rows) joined to a small dim WITHOUT broadcast, and times three
  * plans at production-default skew thresholds scaled to the corpus:
  *
  *   unsalted, AQE off   — the disaster baseline (one reducer does ~all
  *                          the join work)
  *   unsalted, AQE on    — OptimizeSkewedJoin splits the hot partition
  *   manual salt         — the join_skew_salted shape
  *
  * Output: one line per (rows, variant) with wall seconds; paste into
  * SCALE.md §skew. Usage: SkewProbe [rowsMillions ...] (default 4 16).
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sizes = (if (args.nonEmpty) args.toSeq else Seq("4", "16"))
      .map(_.toInt)
    val spark = graft.GraftSession.local(32)
      .appName("graft-skew-probe")
      // Shuffle-join only: broadcast would dodge the skew machinery.
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // Skew thresholds sized to the probe corpus (production keeps the
      // 256 MB default; these are the same ratios at probe scale).
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "8388608")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4194304")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nKeys = 1000
    val dim = spark.range(0, nKeys)
      .select($"id".as("k"), concat(lit("dim_"), $"id").as("name"))
      .cache()
    dim.count()

    def probe(n: Long): DataFrame = spark.range(0, n)
      .select(
        when($"id" % 10 =!= 0, lit(7L)).otherwise($"id" % nKeys).as("k"),
        ($"id" * 31 % 997).as("payload"))

    def salted(p: DataFrame, salt: Int): DataFrame = {
      val ps = p.withColumn("salt",
        (abs(xxhash64($"payload")) % salt).cast("int"))
      val ds = dim.crossJoin(
          spark.range(0, salt).select($"id".cast("int").as("salt")))
      ps.join(ds.hint("merge"), Seq("k", "salt"))
        .agg(count(lit(1)).as("n"), sum("payload").as("s"))
    }

    def time(label: String, df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val r = df.collect().head
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"$label%-28s ${dt}%7.2f s   (n=${r.getLong(0)})")
    }

    for (m <- sizes) {
      val n = m * 1000000L
      println(s"== probe rows = ${m}M, hot key holds 90% ==")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      time(s"unsalted, AQE off",
        probe(n).join(dim.hint("merge"), Seq("k"))
          .agg(count(lit(1)).as("n"), sum("payload").as("s")))
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val aqeDf = probe(n).join(dim.hint("merge"), Seq("k"))
        .agg(count(lit(1)).as("n"), sum("payload").as("s"))
      time(s"unsalted, AQE skew split", aqeDf)
      val planHasSkew =
        aqeDf.queryExecution.executedPlan.toString.contains("skew=true")
      println(s"  final plan skew=true: $planHasSkew")
      time(s"manual salt (32)", salted(probe(n), 32))
    }
    spark.stop()
  }
}
