package perfbench

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Tables}

/** Session factory shared by the workloads: the engine's own builder with
  * only harness-neutral settings added (UI off, log level). Scratch
  * locations come in as `spark.*` system properties from run.py. */
object Session {
  private def build(a: Args): SparkSession = {
    val s = GraftSession.builder(s"local[${a.cores}]", a.cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def start(a: Args, tr: Trace, wl: Workload): SparkSession =
    wl.step("session.start", tr)(build(a))

  /** True when the bucketed layout copies of `dir` are present and fresh,
    * i.e. `Tables.load` serves them. */
  def layoutFresh(s: SparkSession, dir: String): Boolean =
    Tables.bucketKeys.keys.forall(n =>
      Tables.load(s, dir, n).queryExecution.analyzed.toString
        .contains("graft_b_"))

  /** Untimed: build the bucketed layout copy if it is missing, so set-up
    * time never depends on what an earlier run left behind. (The corpus of
    * a checkout never changes, so a present copy is a fresh one; the timed
    * layout check still verifies freshness.) */
  def prepareLayout(a: Args, dir: String): Unit =
    if (!Tables.bucketKeys.keys.forall(n =>
        new java.io.File(s"${Tables.bucketedPath(dir, n)}/_graft_layout").isFile)) {
      val s = build(a)
      Tables.materializeBuckets(s, dir)
      stop(s)
    }

  def stop(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
