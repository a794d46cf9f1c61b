package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.SimilarityFunctions
import graft.util.Sessions

/** Dev probe for calibrating the approximate-operator gates: prints per-query
  * recall@10 of the ANN paths vs the brute-force exact answer, and which
  * exact cosine near-dup pairs the OR-amplified LSH finds, at a given SF dir.
  * Gate thresholds in Surface are set from (and documented against) these
  * numbers; the operators are seeded/deterministic so the numbers are stable.
  */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.start("local[8]")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q   = emb.filter(col("vec_id") < 5)
    val exact = SimilarityFunctions.bruteForceTopK(emb, q, "vec_id", "embedding", 10)

    def recall(ann: DataFrame, label: String): Unit = {
      // the SAME definition the gates use — calibration must not drift
      val r = SimilarityFunctions.recallAtK(exact, ann).orderBy("query_id").collect()
      println(s"[probe] $label: " + r.map(x => f"${x.getLong(0)}:${x.getDouble(1)}%.2f").mkString(" "))
    }

    for (planes <- Seq(6, 8); tables <- Seq(4, 8, 12))
      recall(SimilarityFunctions.lshTopK(emb, q, "vec_id", "embedding", 10,
        nPlanes = planes, nTables = tables), s"lsh p=$planes t=$tables")

    val centroids = SimilarityFunctions.leadingCentroids(emb, "embedding", "vec_id", 16)
    for (probeN <- Seq(2, 4))
      recall(SimilarityFunctions.ivfTopK(emb, q, "vec_id", "embedding", 10, centroids, probeN),
        s"ivf probe=$probeN")
    val km = SimilarityFunctions.kmeansCentroids(emb, "embedding", "vec_id", 16, iters = 2)
    for (probeN <- Seq(2, 4))
      recall(SimilarityFunctions.ivfTopK(emb, q, "vec_id", "embedding", 10, km, probeN),
        s"ivf-kmeans probe=$probeN")

    // clustered-corpus ANN gate (sim_ann_lsh_clustered): per-query recall on
    // the structured corpus, where the >= 0.8 floor must hold
    val clustered = SimilarityFunctions.clusteredCorpus(
      emb, "vec_id", "embedding", nClusters = 8, nMembers = 400, noiseScale = 0.15)
    val cq      = clustered.filter(col("vec_id") < 8 + 40)
    val cExact  = SimilarityFunctions.bruteForceTopK(clustered, cq, "vec_id", "embedding", 10)
    for (planes <- Seq(6, 8); tables <- Seq(8, 12)) {
      val ann = SimilarityFunctions.lshTopK(clustered, cq, "vec_id", "embedding", 10,
        nPlanes = planes, nTables = tables)
      val r = SimilarityFunctions.recallAtK(cExact, ann)
        .agg(min("recall").as("mn"), avg("recall").as("av")).collect().head
      println(f"[probe] clustered p=$planes t=$tables: minRecall=${r.getDouble(0)}%.2f avg=${r.getDouble(1)}%.2f")
    }

    // IVF×PQ composition (sim_ivfpq_topk): recall vs nProbe × shortlist
    val pqcb = SimilarityFunctions.pqTrain(emb, "embedding", "vec_id",
      m = 8, k = 16, dim = 64, iters = 2)
    for (probeN <- Seq(2, 3, 4); sl <- Seq(100, 200))
      recall(SimilarityFunctions.ivfpqTopK(emb, q, "vec_id", "embedding", 10,
        km, pqcb, nProbe = probeN, shortlist = sl), s"ivfpq probe=$probeN sl=$sl")

    // near-dup gate: which exact cos>=0.45 pairs (both ids < 300) does the
    // OR-LSH find, per nTables?
    val slice = emb.filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val ex = slice.as("a").join(slice.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        SimilarityFunctions.cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= 0.45)
    for (tables <- Seq(6, 10, 14)) {
      val lsh = SimilarityFunctions.cosineNearDups(emb, "vec_id", "embedding",
        threshold = 0.45, nPlanes = 4, nTables = tables)
      val miss = ex.join(lsh.select(col("id_a"), col("id_b"), lit(1).as("f")),
          Seq("id_a", "id_b"), "left_outer")
        .filter(col("f").isNull).count()
      println(s"[probe] neardup t=$tables: exact=${ex.count()} missed=$miss lshTotal=${lsh.count()}")
    }
    spark.stop()
  }
}
