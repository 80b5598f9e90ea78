package graft.tools

import org.apache.spark.sql.functions._
import graft.Parquet
import graft.operators.Iterate.MaterializeOps

/** Recall-vs-cost curves for the APPROXIMATE dedup tier — the
  * ScaleProof companion the parity oracles can't provide: oracles pin
  * fixed-parameter behavior, but a 100 TB operator chooses bands /
  * planes / tables against a measured trade between recall, candidate
  * volume, and wall clock. This tool measures that trade on corpora
  * with KNOWN planted ground truth:
  *
  *  - MinHash banding ([[graft.llm.MinHashDedup]]): the
  *    [[ScaleProof.synthesizeZipfDocs]] corpus plants a 1-in-10
  *    near-dup copy at Jaccard ≈ 0.75; ground truth = planted pairs
  *    whose EXACT Jaccard clears the 0.5 threshold. Bands sweep at
  *    fixed numHashes=32 (rows-per-band = 32/bands: more bands =
  *    looser = higher recall, more candidates).
  *  - Embedding LSH ([[graft.llm.EmbeddingKnn.nearDupPairsLsh]]):
  *    deterministic uniform vectors with a planted twin per even id
  *    (~2 of 64 dims sign-flipped); ground truth = twins whose exact
  *    cosine clears 0.9. (tables, planesPerTable) sweeps the
  *    recall-vs-bucket-size plane.
  *
  * Each row also carries the CLOSED-FORM predicted recall from the
  * banding theory — MinHash: E[1-(1-J^r)^b] over the true pairs'
  * exact Jaccards; hyperplane LSH: E[1-(1-(1-θ/π)^p)^t] over the true
  * pairs' angles — so the measurement validates the model the
  * parameter choice would actually be made with. Output: one JSON
  * line per configuration, `metric: "recall_curve"`; BASELINE.md
  * records the tables.
  */
object RecallCurves {

  private def num(d: Double, prec: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(d))

  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_RECALL_DOCS", "50000").toLong
    val nVecs = sys.env.getOrElse("SPARK_GRAFT_RECALL_VECS", "50000").toLong
    val spark = graft.GraftSession.local("graft-recallcurves", cores)
    val work = graft.queries.Scratch.dir("graft-recallcurves")

    // ---------------- MinHash banding ----------------
    ScaleProof.synthesizeZipfDocs(spark, s"$work/zipf", nDocs)
    val docs = Parquet.read(spark, s"$work/zipf/documents.parquet")
      .materialized
    val plantedIds = spark.range(nDocs)
      .filter(pmod(col("id"), lit(10)) === 9)
      .select((col("id") - 1).as("id_a"), col("id").as("id_b"))
    // ground truth: planted pairs whose EXACT Jaccard clears the
    // operating threshold (mutation is stochastic per pair; a planted
    // pair that mutated below 0.5 is NOT a miss the banding owes us)
    val truth = graft.llm.JaccardVerify
      .verify(plantedIds, docs, "doc_id", "text", threshold = 0.5)
      .materialized
    val nTruth = truth.count()
    System.err.println(s"[recall] minhash corpus=$nDocs docs, " +
      s"planted=${nDocs / 10}, true pairs (J>=0.5)=$nTruth")

    val mhRows = for (bands <- Seq(2, 4, 8, 16)) yield {
      val r = 32 / bands
      System.gc()
      val t0 = System.nanoTime()
      val cand = graft.llm.MinHashDedup
        .candidatePairs(docs, "doc_id", "text", numHashes = 32,
          bands = bands)
        .materialized
      val nCand = cand.count()
      val verified = graft.llm.JaccardVerify
        .verify(cand, docs, "doc_id", "text", threshold = 0.5)
        .materialized
      val nVer = verified.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val hits = truth.select("id_a", "id_b")
        .join(verified, Seq("id_a", "id_b"), "left_semi").count()
      val recall = if (nTruth == 0) 1.0 else hits.toDouble / nTruth
      // banding theory over the true pairs' own Jaccards
      val predicted = truth
        .agg(avg(lit(1.0) - pow(lit(1.0) - pow(col("jaccard"), lit(r.toDouble)),
          lit(bands.toDouble))))
        .head().getDouble(0)
      System.err.println(f"[recall] minhash bands=$bands r=$r " +
        f"recall=$recall%.4f predicted=$predicted%.4f cand=$nCand " +
        f"verified=$nVer wall=$wall%.1fs")
      s"""{"metric":"recall_curve","op":"minhash","n_docs":$nDocs,""" +
        s""""bands":$bands,"rows_per_band":$r,"true_pairs":$nTruth,""" +
        s""""recall":${num(recall, 4)},"predicted_recall":${num(predicted, 4)},""" +
        s""""candidates":$nCand,"verified":$nVer,"wall_sec":${num(wall, 2)}}"""
    }

    // ---------------- Embedding hyperplane LSH ----------------
    // even id: deterministic uniform[-1,1]^64; odd twin: same vector
    // with each dim sign-flipped w.p. 1/32 (E[2 flips] -> exact twin
    // cosine clusters just above 0.9, a non-trivial recall surface)
    val vecs = spark.range(nVecs).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (((pmod(xxhash64(shiftright(col("id"), 1), j), lit(2001))
            - 1000L) / 1000.0) *
            when(pmod(col("id"), lit(2)) === 1 &&
              pmod(xxhash64(lit(99L), shiftright(col("id"), 1), j),
                lit(32)) === 0, -1.0).otherwise(1.0))
            .cast("float")).as("embedding"))
      .materialized
    val twinIds = spark.range(nVecs / 2)
      .select((col("id") * 2).as("id_a"), (col("id") * 2 + 1).as("id_b"))
    val va = vecs.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val vb = vecs.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val vTruth = twinIds.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("sim", round(
        graft.functions.VectorFunctions.cosine(col("va"), col("vb")), 6))
      .filter(col("sim") >= 0.9)
      .select("id_a", "id_b", "sim")
      .materialized
    val nVTruth = vTruth.count()
    System.err.println(s"[recall] embed corpus=$nVecs vecs, " +
      s"planted=${nVecs / 2}, true twins (cos>=0.9)=$nVTruth")

    // the decade law gates the sweep: 8-plane signatures at >100k vecs
    // pack thousands per bucket and the candidate join goes quadratic
    // in occupancy (the q210 lesson) — the large-corpus sweep starts
    // at 12 planes, which is exactly what the law prescribes there
    val embConfigs =
      if (nVecs > 100000L) Seq((4, 16), (8, 12), (8, 16), (8, 20))
      else Seq((4, 12), (8, 8), (8, 12), (8, 16))
    val embRows = for ((tables, planes) <- embConfigs) yield {
      System.gc()
      val t0 = System.nanoTime()
      // threshold -1 keeps every candidate with its exact cosine: one
      // run yields both the candidate volume and the verified set
      val all = graft.llm.EmbeddingKnn.nearDupPairsLsh(vecs,
          threshold = -1.0, tables = tables, planesPerTable = planes)
        .materialized
      val nCand = all.count()
      val verified = all.filter(col("sim") >= 0.9)
      val nVer = verified.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val hits = vTruth.select("id_a", "id_b")
        .join(verified, Seq("id_a", "id_b"), "left_semi").count()
      val recall = if (nVTruth == 0) 1.0 else hits.toDouble / nVTruth
      // hyperplane-LSH theory over the true twins' own angles
      val predicted = vTruth
        .agg(avg(lit(1.0) - pow(
          lit(1.0) - pow(lit(1.0) - acos(least(col("sim"), lit(1.0)))
            / lit(math.Pi), lit(planes.toDouble)),
          lit(tables.toDouble))))
        .head().getDouble(0)
      System.err.println(f"[recall] embed tables=$tables planes=$planes " +
        f"recall=$recall%.4f predicted=$predicted%.4f cand=$nCand " +
        f"verified=$nVer wall=$wall%.1fs")
      s"""{"metric":"recall_curve","op":"embed_lsh","n_vecs":$nVecs,""" +
        s""""tables":$tables,"planes_per_table":$planes,""" +
        s""""true_pairs":$nVTruth,"recall":${num(recall, 4)},""" +
        s""""predicted_recall":${num(predicted, 4)},"candidates":$nCand,""" +
        s""""verified":$nVer,"wall_sec":${num(wall, 2)}}"""
    }

    (mhRows ++ embRows).foreach(println)
    println(s"""{"metric":"recall_curves","minhash_rows":${mhRows.size},""" +
      s""""embed_rows":${embRows.size}}""")
    spark.stop()
  }
}
