package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Verify.session()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args.foreach { name =>
      println(s"########## $name")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
