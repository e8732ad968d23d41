package graft.scale


/** sf100-equivalent probe (round-10, VERDICT r9 item 6): the headline
  * joins one decade past the sf10 A/B tier — 600 M lineitem / 150 M
  * orders / 100 M events / 2 M embeddings (/tmp/sfx1000). One timed run
  * per key with knobs sized to the tier (shuffle partitions 64, default
  * 128 MB splits, AQE on, no table caching — the corpus exceeds any
  * reasonable local cache, which is itself the 100 TB-realistic shape:
  * every byte comes off parquet). Construction (incl. q5's gated
  * customer-arm count) is reported separately from execution.
  * Usage: Sf100Probe [sfDir] [key...] */
object Sf100Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx1000")
    val keys = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_pricing_summary", "q3_shipping_priority",
        "q5_local_supplier", "asof_enrich", "similarity_topk")
    val spark = graft.GraftSession.local(64).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    keys.foreach { key =>
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(key)(spark, sfDir)
      val t1 = System.nanoTime()
      val n = df.count()
      val t2 = System.nanoTime()
      val plan = df.queryExecution.executedPlan.toString
      val nEx = "(?m)Exchange hashpartitioning".r.findAllIn(plan).length
      println(f"[sf100] $key%-24s construct=${(t1 - t0) / 1e9}%.1f s " +
        f"exec=${(t2 - t1) / 1e9}%.1f s rows=$n hashExchanges=$nEx")
    }
    spark.stop()
  }
}
