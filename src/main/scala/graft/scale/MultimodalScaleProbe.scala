package graft.scale

import org.apache.spark.sql.functions._

/** 1 M-binary decode/phash tier rung with planted poison (round 15,
  * VERDICT r14 next-item 7): real JDK codec decode over a million PNG
  * payloads, ~2/17 of them corrupted, through the SAFE kernel — the run
  * must complete (no stage kill), divert exactly the planted set, and
  * the dHash leg fingerprints every clean payload. Reports rows/s.
  *
  * Usage: MultimodalScaleProbe [sfDir] [nRows]
  */
object MultimodalScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx1000")
    val nRows = args.drop(1).headOption.map(_.toLong).getOrElse(1000000L)
    val spark = graft.GraftSession.local(64).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.operators.DocAssembly

    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
      .filter(pmod(xxhash64(col("doc_id")), lit(5)) === 0) // ~1M of 5M
      .limit(nRows.toInt)
      .repartition(64)
      .localCheckpoint(true)
    val n = docs.count()

    // ---- safe decode with planted poison ----
    val t0 = System.nanoTime()
    implicit val enc =
      org.apache.spark.sql.Encoders.product[DocAssembly.DecodedMediaSafe]
    val decoded = docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        DocAssembly.decodeSafe(id,
          DocAssembly.plantPoison(id, DocAssembly.Png.render(r.getString(1))))
      }
    }(enc).toDF().localCheckpoint(true)
    val wallDecode = (System.nanoTime() - t0) / 1e9
    val plantedCol = DocAssembly.poisonPlanted(col("doc_id"))
    val diverted = decoded.filter(col("error").isNotNull).count()
    val planted = decoded.filter(plantedCol).count()
    val misdiverted =
      decoded.filter(col("error").isNotNull =!= plantedCol).count()
    println(f"[mmscale] safe decode $n rows in $wallDecode%.1f s = " +
      f"${n / wallDecode}%.0f rows/s; planted=$planted diverted=$diverted " +
      f"misdiverted=$misdiverted")
    require(misdiverted == 0, "diversion partition mismatch")

    // ---- dHash fingerprint leg over the clean payloads ----
    val clean =
      docs.filter(!DocAssembly.poisonPlanted(col("doc_id")))
    val t1 = System.nanoTime()
    val hashed = clean.mapPartitions { rows =>
      rows.map { r =>
        (r.getLong(0),
          DocAssembly.dHash(DocAssembly.Png.render(r.getString(1))))
      }
    }.toDF("doc_id", "phash")
    val nHashed = hashed.count()
    val wallHash = (System.nanoTime() - t1) / 1e9
    println(f"[mmscale] dHash $nHashed rows in $wallHash%.1f s = " +
      f"${nHashed / wallHash}%.0f rows/s")
    spark.stop()
  }
}
