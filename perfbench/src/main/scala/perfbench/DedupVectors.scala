package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AnnOps, VectorOps}

/** Seeded corpus of `dedup_vectors`: 384-d embeddings drawn around
  * cluster centres, and documents of which a planted share are exact or
  * near (one or two words changed) copies of earlier ones. */
final class Corpus(seed: Long, val nVec: Int, val nDocs: Int) {
  val dims = 384
  val vectors: Array[Array[Float]] = {
    val r = new java.util.Random(seed)
    val centres = Array.fill(32, dims)(r.nextGaussian())
    Array.tabulate(nVec) { _ =>
      val c = centres(r.nextInt(centres.length))
      Array.tabulate(dims)(d => (c(d) + 0.7 * r.nextGaussian()).toFloat)
    }
  }
  val texts: Array[String] = {
    val r = new java.util.Random(seed + 1)
    val out = new Array[String](nDocs)
    def word() = s"w${(math.abs(r.nextGaussian()) * 120).toInt}"
    (0 until nDocs).foreach { i =>
      val kind = r.nextInt(100)
      out(i) =
        if (i > 0 && kind < 3) out(r.nextInt(i))
        else if (i > 0 && kind < 13) {
          val w = out(r.nextInt(i)).split(" ")
          (0 until 1 + r.nextInt(2)).foreach(_ => w(r.nextInt(w.length)) = word())
          w.mkString(" ")
        } else Seq.fill(30 + r.nextInt(50))(word()).mkString(" ")
    }
    out
  }
}

/** `dedup_vectors`: a seeded mix of three kinds of op over [[Corpus]].
  *  - `ann`: a batch of 8 queries served by `AnnOps.ivfPqKnnBatch` from
  *    the IVF-PQ index built in set-up; repeated batches must return
  *    identical rows, and recall@10 is measured against the exact top-10.
  *  - `exact`: the exact `cosine_sim` top-10 of the same batch, which must
  *    equal a brute-force computation.
  *  - `dedup`: exact dedup (`fast_md5`) plus MinHash and SimHash near-dup
  *    over a 200-document slice; groups must equal brute force, every
  *    MinHash pair must clear its Jaccard threshold, and every SimHash
  *    must equal the kernel applied directly. */
final class DedupVectors(a: Args, tr: Trace) extends Workload {
  private val nVec = if (a.small) 500 else 2000
  private val nDocs = if (a.small) 400 else 1200
  private val slice = 200
  private val batchSize = 8
  /** Recall@10 below this fails the ANN op (fixed before measuring). */
  private val recallFloor = 0.8
  private val nBatches = 6
  private var s: SparkSession = _
  def spark: SparkSession = s
  private var corpus: Corpus = _
  private var emb: DataFrame = _
  private var docs: DataFrame = _
  private var model: AnnOps.AnnModel = _
  private var index: DataFrame = _
  private val root = s"${a.work}/dedup-${a.seed}"

  private val batches: IndexedSeq[Seq[Long]] = {
    val r = new scala.util.Random(a.seed)
    IndexedSeq.fill(nBatches)(
      Seq.fill(batchSize)(r.nextInt(nVec).toLong).distinct.sorted)
  }

  override def approximate: Boolean = true

  def prepare(): Unit = ()

  def setup(): Unit = {
    s = Session.start(a, tr, this)
    step("fixture.generate", tr) {
      corpus = new Corpus(a.seed, nVec, nDocs)
      val embRows = corpus.vectors.indices.map(i =>
        Row(i.toLong, corpus.vectors(i).toSeq, i % 32))
      s.createDataFrame(s.sparkContext.parallelize(embRows, a.cores),
        Tables.embeddings).write.mode("overwrite").parquet(s"$root/emb")
      val docRows = corpus.texts.indices.map(i =>
        Row(i.toLong, corpus.texts(i), "en", s"src${i % 20}",
          corpus.texts(i).length.toLong))
      s.createDataFrame(s.sparkContext.parallelize(docRows, a.cores),
        Tables.documents).write.mode("overwrite").parquet(s"$root/docs")
      emb = s.read.schema(Tables.embeddings).parquet(s"$root/emb")
      docs = s.read.schema(Tables.documents).parquet(s"$root/docs")
    }
    step("ann.index_build", tr) {
      model = AnnOps.fitAnnModel(s, emb, nLists = 16, m = corpus.dims / 8,
        dsub = 8, ksub = 16)
      index = AnnOps.annIndex(s, emb, model).cache()
      index.count()
    }
  }

  def teardown(): Unit = Session.stop(s)

  def warmup(): Unit = {
    annOp(0, -1); exactOp(0, -2); dedupOp(0, -3)
  }

  private def queries(b: Int): DataFrame =
    emb.filter(col("vec_id").isin(batches(b): _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  /** A round is one op of each kind in a seeded order, so every run holds
    * the same mix; the seed picks the order, the query batch and the
    * document slice. */
  override def roundSize: Int = 3
  override def roundSeconds: Double = 8.0

  def op(i: Int): Op = {
    val round = new scala.util.Random(a.seed * 1000003L + i / 3)
    val kind = round.shuffle(Seq(0, 1, 2)).apply(i % 3)
    val r = new scala.util.Random(a.seed * 1000003L + i)
    kind match {
      case 0 => annOp(r.nextInt(nBatches), i)
      case 1 => exactOp(r.nextInt(nBatches), i)
      case _ => dedupOp(r.nextInt(nDocs - slice + 1), i)
    }
  }

  // ------------------------------------------------------------------ ann

  private type Hit = (Long, Long, Double, Long)
  private def hits(rows: Array[Row]): Seq[Hit] =
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))

  private val annSeen = mutable.Map.empty[Int, Seq[Hit]]
  private val exactRef = mutable.Map.empty[Int, Seq[Hit]]
  private val candidates = mutable.ArrayBuffer.empty[Double]

  private def timed[T](span: String, i: Int)(body: => T): (T, Long) = {
    tr.op = i
    val t0 = System.nanoTime()
    val r = tr.span("op")(tr.span(span)(body))
    (r, System.nanoTime() - t0)
  }

  private def annOp(b: Int, i: Int): Op = {
    val (rows, lat) = timed("ann.serve", i) {
      val df = tr.span("operators.construct")(
        Ann.serve(s, emb, index, model, queries(b)))
      tr.span("exec.action")(df.collect())
    }
    val (ok, recall) = tr.span("harness.check") {
      val got = hits(rows)
      val same = annSeen.getOrElseUpdate(b, got) == got
      val exact = brute(b)
      val perQuery = exact.groupBy(_._1).map { case (q, want) =>
        got.count(h => h._1 == q && want.exists(_._2 == h._2)).toDouble /
          want.size
      }
      if (tr.on) candidates ++= candidatesPerQuery(b)
      val recall = perQuery.sum / perQuery.size
      (same && got.nonEmpty && recall >= recallFloor, recall)
    }
    Op("ann", lat, ok, batches(b).size, recall)
  }

  private lazy val sizes = Ann.listSizes(index)
  private def candidatesPerQuery(b: Int): Seq[Double] =
    batches(b).map(q => Ann.candidates(model, sizes, corpus.vectors(q.toInt).toSeq))

  // ---------------------------------------------------------------- exact

  private def exactOp(b: Int, i: Int): Op = {
    val (rows, lat) = timed("ann.exact", i) {
      val df = tr.span("operators.construct")(Ann.exact(emb, queries(b)))
      tr.span("exec.action")(df.collect())
    }
    val ok = tr.span("harness.check")(hits(rows) == brute(b))
    Op("exact", lat, ok, batches(b).size)
  }

  /** Exact top-10 of batch `b` by brute force, with the kernel's own
    * double accumulation and Spark's HALF_UP rounding to 6 places. */
  private def brute(b: Int): Seq[Hit] = exactRef.getOrElseUpdate(b, {
    batches(b).flatMap { q =>
      val qv = corpus.vectors(q.toInt)
      corpus.vectors.indices.filter(_ != q.toInt).map { j =>
        val v = corpus.vectors(j)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var d = 0
        while (d < v.length) {
          val x = v(d).toDouble; val y = qv(d).toDouble
          dot += x * y; na += x * x; nb += y * y
          d += 1
        }
        val sim = if (na == 0.0 || nb == 0.0) 0.0
          else dot / (math.sqrt(na) * math.sqrt(nb))
        (j.toLong, BigDecimal(sim)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy(p => (-p._2, p._1)).take(10).zipWithIndex.map {
        case ((id, sim), r) => (q, id, sim, r + 1L)
      }
    }
  })

  // ---------------------------------------------------------------- dedup

  private def dedupOp(off: Int, i: Int): Op = {
    val lo = off.toLong
    val hi = lo + slice
    val ((groups, pairs, sims), lat) = timed("dedup.pass", i) {
      val part = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val (g, p, h) = tr.span("operators.construct") {
        (part.groupBy(call_function("fast_md5", col("text")).as("fp"))
          .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n")),
          VectorOps.minhashPairs(part, numHashes = 32, bands = 8,
            jaccardThreshold = 0.5),
          VectorOps.simhash(part))
      }
      tr.span("exec.action")((g.collect(), p.collect(), h.collect()))
    }
    val ok = tr.span("harness.check") {
      val ids = lo until hi
      val wantGroups = ids.groupBy(id => corpus.texts(id.toInt)).map {
        case (text, g) => (Kernels.md5Hex(text), g.min, g.size.toLong)
      }.toSet
      val gotGroups =
        groups.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val pairsOk = pairs.forall { r =>
        Kernels.jaccard3(corpus.texts(r.getLong(0).toInt),
          corpus.texts(r.getLong(1).toInt)) >= 0.5 - 1e-9
      }
      val simOk = sims.length == slice && sims.forall { r =>
        r.getLong(1) == Kernels.simhash(corpus.texts(r.getLong(0).toInt))
      }
      gotGroups == wantGroups && pairsOk && simOk
    }
    Op("dedup", lat, ok, slice)
  }

  override def layerMetrics(n: Int): Map[String, Double] = {
    val nAnn = tr.spans.count(_.name == "ann.serve")
    val nExact = tr.spans.count(_.name == "ann.exact")
    Map(
      "ann.index_build_s" -> stepMedian("ann.index_build"),
      "ann.serve_ms" -> (if (nAnn == 0) 0.0 else tr.totalMs("ann.serve") / nAnn),
      "ann.exact_ms" ->
        (if (nExact == 0) 0.0 else tr.totalMs("ann.exact") / nExact),
      "ann.candidates_per_query" -> Main.median(candidates.toSeq))
  }

  def probes(): Map[String, Double] =
    Kernels.measure(corpus.vectors, corpus.texts, model.m)
}
