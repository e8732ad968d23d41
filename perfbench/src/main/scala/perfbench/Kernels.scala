package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{CosineSimilarity, FastMd5, MinHashSig, PqAdc, SimHash64}

/** Direct calls into the kernel objects of `graft.functions`, on a
  * workload's own inputs, plus the brute-force helpers the output checks
  * use. */
object Kernels {
  @volatile private var sink = 0L

  def tokens(text: String): ArrayData =
    new GenericArrayData(text.split(" ").map(t => UTF8String.fromString(t): Any))

  /** Word 3-gram shingles as the engine's MinHash index builds them. */
  def shingles(text: String): Set[String] = {
    val w = text.split(" ")
    if (w.length < 3) Set.empty
    else (0 until w.length - 2).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
  }

  def jaccard3(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = (x intersect y).size.toDouble
    inter / (x.size + y.size - inter)
  }

  def simhash(text: String): Long = SimHash64.hash(tokens(text))

  def md5Hex(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
      .map(b => "%02x".formatLocal(java.util.Locale.ROOT, b & 0xff)).mkString

  /** Median over 5 repetitions of the ns per call of `f` over `n` calls. */
  private def nsPerCall(n: Int)(f: Int => Long): Double = {
    (0 until n).foreach(i => sink += f(i)) // warm-up
    Main.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    })
  }

  def measure(vectors: Array[Array[Float]], texts: Array[String],
      m: Int): Map[String, Double] = {
    val arrType = ArrayType(FloatType, containsNull = false)
    val cos = CosineSimilarity(BoundReference(0, arrType, nullable = false),
      BoundReference(1, arrType, nullable = false))
    val rows = vectors.map(v => ArrayData.toArrayData(v))
    val nv = rows.length
    val toks = texts.map(tokens)
    val sh = texts.map(t => new GenericArrayData(
      shingles(t).toSeq.sorted.map(x => UTF8String.fromString(x): Any)))
    val strs = texts.map(UTF8String.fromString)
    val ksub = 16
    val r = new java.util.Random(7)
    val codes = Array.fill(1024)(
      ArrayData.toArrayData(Array.fill(m)(r.nextInt(ksub))))
    val lut = ArrayData.toArrayData(Array.fill(m * ksub)(r.nextDouble()))
    Map(
      "functions.cosine_ns_per_pair" -> nsPerCall(20000) { i =>
        java.lang.Double.doubleToLongBits(cos.eval(
          InternalRow(rows(i % nv), rows((i * 7 + 1) % nv)))
          .asInstanceOf[Double])
      },
      "functions.minhash_ns_per_doc" -> nsPerCall(2000) { i =>
        MinHashSig.compute(sh(i % sh.length), 32).numElements().toLong
      },
      "functions.simhash_ns_per_doc" -> nsPerCall(5000) { i =>
        SimHash64.hash(toks(i % toks.length))
      },
      "functions.pq_adc_ns_per_code" -> nsPerCall(200000) { i =>
        java.lang.Double.doubleToLongBits(
          PqAdc.score(codes(i & 1023), lut, m, ksub))
      },
      "functions.md5_ns_per_row" -> nsPerCall(20000) { i =>
        FastMd5.hash(strs(i % strs.length)).numBytes().toLong
      })
  }

  /** Kernel timings on the sf corpus's embeddings and documents. */
  def onCorpus(s: SparkSession, dir: String): Map[String, Double] = {
    val vecs = graft.Tables.load(s, dir, "embeddings").select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    val texts = graft.Tables.load(s, dir, "documents").select("text")
      .collect().map(_.getString(0))
    measure(vecs, texts, m = vecs.head.length / 8)
  }
}
