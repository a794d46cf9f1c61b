package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Sessions

/** Build an N× replica of a driver testdata dir for SCALE benchmarking
  * (`ScaleData <srcDir> <dstDir> <copies>`): each fact table unions
  * `copies` key-shifted images of itself, so the replica has exactly N×
  * the rows with referential integrity preserved (copy i's orders
  * reference copy i's customers, etc. — key strides are shared across
  * tables). region/nation stay single-copy, the TPC-H convention for
  * fixed dims.
  *
  * Two tables get a per-copy CONTENT transform so duplicate-sensitive
  * operators scale the way genuinely-new data would, instead of
  * quadratically blowing up on 10 identical images of every row:
  *  - documents: every word is prefixed with the copy tag, so copies are
  *    NOT near-duplicates of each other (shingle/minhash/simhash spaces
  *    stay disjoint across copies) while lengths and token counts keep
  *    the original distribution;
  *  - embeddings: the vector rotates by `copy` positions — norms and the
  *    pairwise-cosine distribution survive, but a copy is not its
  *    original's nearest neighbor.
  *
  * Timestamps are left as-is: an N× replica then has N× the rows per
  * time bin — the realistic shape for a busier cluster over the same
  * window — and the parquet time encodings round-trip unchanged.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, copiesS) = args
    val copies = copiesS.toInt
    require(copies >= 1 && copies <= 100, s"copies out of range: $copies")
    val spark = Sessions.start(Sessions.builder(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      // fixed, not the core count: a replica's file layout must not depend on the host
      .config("spark.sql.shuffle.partitions", 32))

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")

    /** Smallest power of ten above the column's max — a shared, readable
      * id stride (copy i's keys live in [i·stride, (i+1)·stride)).
      */
    def stride(df: DataFrame, c: String): Long = {
      val m = df.agg(max(col(c).cast("long"))).head.getLong(0)
      var s = 1L; while (s <= m) s *= 10
      s
    }
    val custS  = stride(read("customer"), "c_custkey")
    val suppS  = stride(read("supplier"), "s_suppkey")
    val partS  = stride(read("part"), "p_partkey")
    val orderS = stride(read("orders"), "o_orderkey")
    val eventS = stride(read("events"), "event_id")
    val userS  = stride(read("events"), "user_id")
    val docS   = stride(read("documents"), "doc_id")
    val vecS   = stride(read("embeddings"), "vec_id")

    for (t <- Seq("region", "nation"))
      read(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    def replicate(t: String, shifts: Seq[(String, Long)],
        xform: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = read(t)
      (0 until copies).map { i =>
        xform(shifts.foldLeft(base) { case (d, (c, s)) =>
          d.withColumn(c, col(c) + lit(i * s)) }, i)
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scale] $t -> ${copies}x")
    }

    replicate("customer", Seq("c_custkey" -> custS))
    replicate("supplier", Seq("s_suppkey" -> suppS))
    replicate("part", Seq("p_partkey" -> partS))
    replicate("orders", Seq("o_orderkey" -> orderS, "o_custkey" -> custS))
    replicate("lineitem", Seq("l_orderkey" -> orderS, "l_partkey" -> partS,
      "l_suppkey" -> suppS))
    replicate("events", Seq("event_id" -> eventS, "user_id" -> userS))
    replicate("documents", Seq("doc_id" -> docS), (d, i) =>
      if (i == 0) d
      else d.withColumn("text",
        array_join(transform(split(col("text"), " "), w => concat(lit(s"c$i"), w)), " ")))
    // rotation wraps modulo the vector dimension (copies may exceed 64;
    // copy 64 would otherwise ask slice for a negative length)
    replicate("embeddings", Seq("vec_id" -> vecS), (d, i) => {
      val r = i % 64
      if (r == 0) d
      else d.withColumn("embedding",
        concat(slice(col("embedding"), r + 1, 64 - r), slice(col("embedding"), 1, r)))
    })

    spark.stop()
  }
}
