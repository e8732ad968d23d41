package graft

import org.apache.spark.sql.SparkSession

/** Plan-time memory-per-core budget (round-18, VERDICT r17 item 6).
  *
  * Some declared shapes are correct but memory-UNSAFE below a budget —
  * the known case is the window top-N, whose WindowGroupLimit buffers
  * whole groups inside the exec (the documented 128 MB/core sf100 OOM,
  * SCALE.md §r16/r17) while its bounded-aggregate twin carries ≤ k rows
  * per group × partition at every stage. The budget is a PLAN-TIME
  * constant of the deployment (heap ÷ concurrent task slots), so the
  * reroute is a deterministic plan choice, not a runtime fallback: same
  * budget → same plan → same results either way (the two spellings share
  * one oracle).
  *
  * Values are parameterised, never tuned to local[32]: the floor is a
  * spark conf (`spark.graft.topn.memPerCoreFloorMb`, default 192 MB —
  * above the 128 MB/core rung that OOMs, below the 256 MB/core the
  * 8 g × 32 bench harness runs at, so the sf0.1 executed plan is
  * byte-stable) and the measured budget derives from the session's own
  * executor memory / cores, with local masters reading the driver heap.
  */
object MemBudget {

  /** Pure gate — pinned by PlanSpec: reroute iff the per-core budget is
    * under the floor. */
  def underFloor(perCoreBytes: Long, floorBytes: Long): Boolean =
    perCoreBytes < floorBytes

  /** Session-conf lookup (RuntimeConfig sees both --conf launch values
    * and in-session spark.conf.set, so tests can exercise both gate arms
    * without re-sizing the JVM). */
  private def confOpt(s: SparkSession, key: String): Option[String] =
    Option(s.conf.get(key, null))

  private val InDriver = """local(\[(\d+|\*)(\s*,\s*\d+)?\])?""".r

  /** Does `master` run its tasks inside the driver JVM? `local`,
    * `local[n]`, `local[*]` (and their `[n, maxFailures]` forms) do;
    * `local-cluster[...]` starts separate executor JVMs. */
  def inDriverMaster(master: String): Boolean = InDriver.matches(master)

  /** The session's execution-memory-per-concurrent-task estimate, in
    * bytes. Local masters: driver heap ÷ scheduler slots (local[n] runs
    * n concurrent tasks inside the driver JVM). Cluster masters:
    * spark.executor.memory ÷ spark.executor.cores. Tests may pin
    * `spark.graft.test.memPerCoreBytes` to exercise both gate arms
    * without re-sizing the JVM. */
  def perCoreBytes(s: SparkSession): Long =
    confOpt(s, "spark.graft.test.memPerCoreBytes").map(_.toLong)
      .getOrElse {
        val conf = s.sparkContext.getConf
        if (inDriverMaster(conf.get("spark.master", "local[*]")))
          Runtime.getRuntime.maxMemory /
            math.max(1, s.sparkContext.defaultParallelism)
        else
          conf.getSizeAsBytes("spark.executor.memory", "1g") /
            math.max(1, conf.getInt("spark.executor.cores", 1))
      }

  /** The top-N floor, conf-overridable. */
  def topNFloorBytes(s: SparkSession): Long =
    confOpt(s, "spark.graft.topn.memPerCoreFloorMb")
      .map(_.toLong).getOrElse(192L) << 20

  /** Should the window top-N reroute to its bounded-aggregate twin? */
  def rerouteTopN(s: SparkSession): Boolean =
    underFloor(perCoreBytes(s), topNFloorBytes(s))
}
