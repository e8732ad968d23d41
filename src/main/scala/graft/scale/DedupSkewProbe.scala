package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{TextCluster, VectorOps}

/** Round-13 skew rung (VERDICT r12 next-item 2): the band-join family's
  * hot-key guards measured on a ≥5 M-row corpus with a PLANTED degenerate
  * band — the clone-clique shape that concentrated Ω(m²) candidate rows
  * in one task's key before the guards (the round-5 1000× failure mode).
  *
  *  - `minhash n clique`: n docs of which `clique` are byte-identical.
  *    The clique collides in EVERY band; the shared BandJoin star-collapse
  *    cap must keep candidate volume linear (clique-1 star pairs out,
  *    each exact-Jaccard-verified at 1.0) and the run bounded.
  *  - `fuzzy n clique`: n customer-style names of which `clique` are
  *    identical. The r12 form pushed clique²·(len+1) pre-distinct rows
  *    through ONE band key; the rep-collapsed form bands DISTINCT names
  *    only (alphabet-bounded buckets) and the clique's C(clique,2) dist-0
  *    pairs — the answer itself — flow through a name equi-join.
  */
object DedupSkewProbe {

  private def session(): SparkSession = {
    val s = graft.GraftSession.local(32).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val s = session()
    import s.implicits._
    val mode = args(0)
    val n = args(1).toLong
    val clique = args(2).toLong
    mode match {
      case "minhash" =>
        // Docs: `clique` clones of one 12-token text, the rest unique
        // (id-derived tokens — no accidental cross-doc shingles).
        val docs = s.range(0, n, 1, 32).select($"id".as("doc_id"),
          when($"id" < clique,
            lit((1 to 12).map(i => s"clone$i").mkString(" ")))
            .otherwise(concat_ws(" ", (1 to 5).map(i =>
              concat(lit(s"u${i}x"), $"id")): _*)).as("text"))
        val (idx, tIdx) = time {
          val i = VectorOps.minhashIndex(docs, 32).localCheckpoint(true)
          (i, i.count())
        }
        val (pairs, tPairs) = time {
          VectorOps.minhashPairsFromIndex(idx._1, 32, 8, 0.4)
            .agg(count(lit(1)), min("jaccard"), max("jaccard")).head
        }
        println(f"[dedupskew-minhash] n=$n clique=$clique " +
          f"index=${idx._2} rows in $tIdx%.1fs " +
          f"pairs=${pairs.getLong(0)} (expect ${clique - 1} star pairs) " +
          f"jac=[${pairs.getDouble(1)}%.3f,${pairs.getDouble(2)}%.3f] " +
          f"t=$tPairs%.1fs")
      case "fuzzy" =>
        // Hash-derived unique names (realistic identifier entropy): the
        // sequential zero-padded form is adversarial in a DIFFERENT way —
        // nearly every id pair is a genuine edit-1 substitution, so the
        // honest OUTPUT is ~n·len·|Σ| pairs and no plan avoids it (that
        // run is what measured the pre-filter-staging disk exhaustion
        // documented in editDistance1Pairs' scaladoc).
        val names = s.range(0, n, 1, 32).select($"id",
          when($"id" < clique, lit("Customer#duplicated"))
            .otherwise(concat(lit("C#"),
              substring(sha2(conv($"id", 10, 16), 256), 1, 14)))
            .as("name"))
        val (out, t) = time {
          TextCluster.editDistance1Pairs(names)
            .agg(count(lit(1)), sum(when($"dist" === 0, 1L).otherwise(0L)))
            .head
        }
        val expect = clique * (clique - 1) / 2
        println(f"[dedupskew-fuzzy] n=$n clique=$clique " +
          f"pairs=${out.getLong(0)} dist0=${out.getLong(1)} " +
          f"(expect $expect clique pairs) t=$t%.1fs")
      case other => sys.error(s"unknown mode $other")
    }
    s.stop()
  }
}
