package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Zero-job cardinality/size estimation for plan-construction scale guards.
  *
  * Catalyst's `optimizedPlan.stats.sizeInBytes` for a parquet scan is the
  * COMPRESSED on-disk size (scaled by `spark.sql.sources.fileCompressionFactor`,
  * default 1.0) — so a byte-derived row estimate (`bytes / minRowWidth`)
  * silently under-counts whenever dictionary/zstd compression beats the
  * min-width conservatism margin (round-7 ADVICE, medium). The authoritative
  * fix is the parquet FOOTER: every file's metadata carries the exact row
  * count and the uncompressed (encoded) byte size, readable on the driver
  * without launching a Spark job — the same metadata-only I/O class as the
  * FileIndex listing Spark itself performs at planning time. Footers are
  * cached per path (corpus files are immutable; overwrites produce new
  * part-file names).
  *
  * Estimation precedence, most→least authoritative:
  *   1. `stats.rowCount` — exact for LocalRelation (spec fixtures) and for
  *      ANALYZEd catalog tables under CBO.
  *   2. Parquet footer sums — exact scan cardinality whenever EVERY leaf of
  *      the plan is a parquet file relation (for filtered/projected plans
  *      this is the pre-filter count: a conservative OVERestimate, the safe
  *      direction for a reroute guard).
  *   3. `sizeInBytes × decompressionFactor / minRowBytes` — the round-7
  *      stats heuristic hardened with a decompression factor so compressed
  *      leaves no longer masquerade as small corpora.
  */
object PlanStats {

  /** Conservative default multiplier applied to `sizeInBytes` when neither
    * exact source is available: covers zstd/dictionary ratios typical for
    * mixed columnar data without being so large that bench-scale corpora
    * reroute off their exact paths (footer metadata, branch 2, makes this
    * fallback unreachable for all parquet-backed inputs anyway). */
  val DefaultDecompressionFactor = 4

  /** Cap on driver-side footer reads per estimate. Beyond this many files
    * the estimate comes from a STRIDED footer sample extrapolated by file
    * count instead of all footers — round-14: the byte-derived fallback
    * under-counted a dictionary-compressed PQ code index 12× (77 MB disk
    * for 2 M × 404-byte rows), silently shrinking the ANN candidate pool
    * 12× and collapsing stored-serve recall at the 2 M tier (0.99 → 0.20
    * measured). Systematic sampling over the sorted path list stays
    * driver-side metadata I/O, bounded by the same cap. */
  private val MaxFooterFiles = 512

  /** (rows, uncompressedBytes) per already-read footer. Keyed by PATH
    * with the file's (length, mtime) stored alongside the value: an
    * in-place overwrite of a reused path (the documented corpus-
    * regeneration scenario) misses on the status compare instead of
    * serving stale totals (ADVICE round-14 low), and the superseded
    * entry is REPLACED, not retained (code review round-15 — a
    * version-suffixed key grew monotonically across regenerations). The
    * per-call stat is the correctness cost of staleness detection — the
    * same driver-side metadata I/O class as the FileIndex listing Spark
    * itself performs at planning time, and its FileStatus is reused for
    * the footer open on a miss. */
  private val footerCache =
    new ConcurrentHashMap[String, (Long, Long, (Long, Long))]()

  /** `f`'s footer (rows, uncompressedBytes): the cached value when its
    * (length, mtime) still match the live file; otherwise read (reusing
    * the fresh FileStatus for the open) and replace. */
  private def footerTotals(f: String,
      conf: org.apache.hadoop.conf.Configuration): (Long, Long) = {
    val p = new Path(f)
    val status = p.getFileSystem(conf).getFileStatus(p)
    val cur = footerCache.get(f)
    if (cur != null && cur._1 == status.getLen &&
        cur._2 == status.getModificationTime) cur._3
    else {
      val reader =
        ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf))
      val v =
        try {
          val blocks = reader.getFooter.getBlocks.asScala
          (blocks.map(_.getRowCount).sum, blocks.map(_.getTotalByteSize).sum)
        } finally reader.close()
      footerCache.put(f, (status.getLen, status.getModificationTime, v))
      v
    }
  }

  /** The distinct parquet data files under `df`'s optimized plan when EVERY
    * leaf is a parquet file relation, as (sortedSample, totalFileCount):
    * above [[MaxFooterFiles]] the sample is a deterministic systematic
    * stride over the SORTED path list (spreads across partition dirs, whose
    * sizes skew) for the caller to extrapolate by file count. */
  private def sampledParquetFiles(df: DataFrame): Option[(Seq[String], Int)] = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val parquetRels = leaves.map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          Some(fs)
        case _ => None
      }
      case _ => None
    }
    if (parquetRels.isEmpty || parquetRels.exists(_.isEmpty)) None
    else {
      val files = parquetRels.flatten.flatMap(_.location.inputFiles).distinct
      if (files.isEmpty) None
      else {
        val sorted = files.sorted
        val stride = math.max(1,
          math.ceil(sorted.length.toDouble / MaxFooterFiles).toInt)
        val sampled =
          if (stride == 1) sorted
          else sorted.indices.collect {
            case i if i % stride == 0 => sorted(i)
          }
        Some((sampled.toSeq, sorted.length))
      }
    }
  }

  /** Exact (rowCount, uncompressedByteSize) summed over parquet footers,
    * when every leaf of `df`'s optimized plan is a parquet file relation
    * with ≤ [[MaxFooterFiles]] files (strided-sample extrapolation above).
    * Driver-side metadata I/O only — no Spark job (asserted suite-wide by
    * ConstructionSpec). */
  def parquetLeafStats(df: DataFrame): Option[(BigInt, BigInt)] =
    sampledParquetFiles(df).flatMap { case (sampled, total) =>
      try {
        val conf = df.sparkSession.sessionState.newHadoopConf()
        var rows = BigInt(0)
        var bytes = BigInt(0)
        sampled.foreach { f =>
          val (r, b) = footerTotals(f, conf)
          rows += r
          bytes += b
        }
        if (sampled.length == total) Some((rows, bytes))
        else Some((rows * total / sampled.length,
          bytes * total / sampled.length))
      } catch { case NonFatal(_) => None }
    }

  /** Row estimate for `df` with zero Spark jobs. Exact whenever plan stats
    * carry a rowCount or the plan bottoms out in parquet files; otherwise a
    * decompression-adjusted overestimate (`sizeInBytes × factor /
    * minRowBytes`) whose conservatism errs toward rerouting. */
  def estRows(df: DataFrame, minRowBytes: Long,
      decompressionFactor: Int = DefaultDecompressionFactor): BigInt = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.orElse(parquetLeafStats(df).map(_._1))
      .getOrElse(stats.sizeInBytes * decompressionFactor / minRowBytes)
  }

  /** Uncompressed byte estimate for `df` with zero Spark jobs: exact
    * encoded size from parquet footers when available, else
    * `sizeInBytes × decompressionFactor`. */
  def estRawBytes(df: DataFrame,
      decompressionFactor: Int = DefaultDecompressionFactor): BigInt =
    parquetLeafStats(df).map(_._2).getOrElse(
      df.queryExecution.optimizedPlan.stats.sizeInBytes * decompressionFactor)
}
