package graft.operators

import graft.SparkSuite

/** Physical-plan contract tests: the plans the 100 TB posture depends on are
  * asserted, not just eyeballed in PlanDump — a regression that drops a
  * pushed filter, turns a broadcast join into a shuffle join, or adds a
  * stray exchange fails CI.
  *
  * Plans are materialized first so AQE's FINAL plan is inspected (the
  * pre-execution AdaptiveSparkPlan placeholder hides codegen spans and
  * exchanges). Assertions are deliberately loose string checks — Catalyst is
  * free to improve the plan; only the load-bearing properties are pinned.
  */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Execute, then return the final (post-AQE) formatted plan — the tree is
    * sliced to the "== Final Plan ==" section so the Initial Plan AQE echoes
    * don't double-count nodes.
    */
  private def finalPlan(name: String): String = {
    val df = Surface.registry(name).fn(spark, sf)
    df.collect()
    val s     = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val start = s.indexOf("== Final Plan ==")
    if (start < 0) s
    else {
      val end  = s.indexOf("== Initial Plan ==", start)
      val tree = if (end < 0) s.substring(start) else s.substring(start, end)
      // keep node details (needed for PushedFilters/ReadSchema assertions)
      val details = s.indexOf("\n\n(1) ")
      tree + (if (details >= 0) s.substring(details) else "")
    }
  }

  /** Shuffle exchanges in the final-plan tree ("Exchange (n)";
    * BroadcastExchange is a different node name and is not counted).
    */
  private def countShuffles(s: String): Int =
    "\\bExchange \\(\\d+\\)".r.findAllIn(s).size

  test("q6: filters reach the parquet scan and the schema is pruned") {
    val s = finalPlan("q6_forecast_revenue")
    // predicate pushdown: shipdate/discount/quantity bounds in PushedFilters
    assert(s.contains("PushedFilters:"))
    assert(s.contains("GreaterThanOrEqual(l_shipdate"), s)
    assert(s.contains("LessThan(l_quantity"), s)
    // column pruning: a 16-column table read as only the referenced columns
    val readSchema = s.linesIterator.find(_.contains("ReadSchema:")).get
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q5: all five dimension joins broadcast — no shuffle join") {
    val s = finalPlan("q5_region_revenue")
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
    // the only shuffles serve the final aggregation/sort, not the joins
    assert(countShuffles(s) <= 2, s)
  }

  test("q1: single scan, map-side partial aggregation around one exchange") {
    val s = finalPlan("q1_pricing_summary")
    assert(countShuffles(s) == 1, s)
    assert("HashAggregate".r.findAllIn(s).size >= 2, s) // partial + final
  }

  test("text scans: embarrassingly parallel — zero shuffles") {
    Seq("text_token_stats", "text_langid", "text_quality").foreach { q =>
      assert(countShuffles(finalPlan(q)) == 0, s"$q should not shuffle")
    }
  }

  test("brute-force topk: query side broadcast, corpus never shuffle-joined") {
    val s = finalPlan("sim_cosine_topk")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("skew join: salted key appears in the join") {
    assert(finalPlan("q_skew_salted_join").contains("_salt"))
  }

  test("contamination: benchmark gram side broadcasts, corpus never shuffle-joined") {
    val s = finalPlan("curate_contamination")
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"), s)
  }

  test("KQL lookup: dimension side broadcasts — fact side never shuffles") {
    val s = finalPlan("q_kql_lookup")
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"), s)
  }

  test("source cap: the window's shuffle is the ONLY shuffle (groupBy reuses it)") {
    assert(countShuffles(finalPlan("curate_source_cap")) == 1)
  }

  test("grouped row-scans: key-partitioned window, filter pushed to the scan") {
    // partition by k (order by … | extend row_cumsum/prev) must stay a
    // WindowExec partitioned by the key — one shuffle for the window, one
    // for the output sort, and the price filter reaches the parquet scan
    val s = finalPlan("q_kql_partition_cumsum")
    assert(s.contains("Window"), s)
    assert(countShuffles(s) <= 2, s)
    assert(s.contains("PushedFilters:"), s)
    assert(s.contains("GreaterThan(o_totalprice"), s)
  }

  test("no unpartitioned WindowExec anywhere in the registry") {
    // a global window (Window.partitionBy() with no keys) moves every row to
    // ONE task — the canonical 100× scale-killer. Share-of-total shapes must
    // use a broadcast 1-row aggregate instead (q11/q14).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec

    def offenders(p: SparkPlan): Seq[String] = p.flatMap {
      case a: AdaptiveSparkPlanExec       => offenders(a.executedPlan)
      case q: QueryStageExec              => offenders(q.plan)
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w.simpleStringWithNodeId())
      case _                              => Nil
    }

    Surface.registry.foreach { case (name, q) =>
      val df = q.fn(spark, sf)
      df.collect()
      val bad = offenders(df.queryExecution.executedPlan)
      assert(bad.isEmpty, s"$name has unpartitioned window(s): ${bad.mkString(", ")}")
      graft.functions.DedupFunctions.releaseCaches() // minhash persists per run
    }
  }

  test("tdigest: TypedImperativeAggregate runs two-phase via ObjectHashAggregate") {
    // partial sketches build map-side and merge after the exchange — the
    // physical form of the "mergeable sketch" 100 TB claim; a SortAggregate
    // fallback (or a single-phase plan) would silently lose that shape
    val s = finalPlan("q_kql_tdigest")
    assert(s.contains("ObjectHashAggregate"), s)
    assert(s.contains("partial_tdigest") || s.contains("partial tdigest") ||
      s.toLowerCase.contains("tdigest"), s)
  }

  test("row_window_session: per-session fold + rid equi-join, never an NLJ") {
    // idle segmentation is the distributed scan pair; the max-duration
    // subdivision groups by session id and joins back on the exact row id —
    // both hash exchanges, no cartesian, no global window (the registry
    // sweep covers the window rule; this pins the join shape)
    val s = finalPlan("q_kql_row_window_session")
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("interval join: the range join is a HASH join on the bucket id") {
    val s = finalPlan("q_interval_join")
    // the point↔interval join must be an equi (hash) join — a bare non-equi
    // range predicate would plan as a nested-loop over the FACT side
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
    // at most the broadcast-1-row threshold scalar may nested-loop (the
    // registry's standard scalar-total shape) — never the events side;
    // count DISTINCT node ids (formatted plans repeat nodes in the details)
    val nlj = "BroadcastNestedLoopJoin \\((\\d+)\\)".r
      .findAllMatchIn(s).map(_.group(1)).toSet.size
    assert(nlj <= 1, s"unexpected nested-loop joins ($nlj):\n$s")
  }

  test("native expressions stay inside whole-stage codegen") {
    Seq("text_fingerprint_rolling" -> "rolling_hash",
        "sim_cosine_topk"          -> "vector_dot",
        "curate_contamination"     -> "bloom_contains",
        "q_kql_search"             -> "term_has").foreach { case (q, fn) =>
      val s = finalPlan(q)
      assert(s.contains("[codegen id :"), s"$q lost codegen")
      assert(s.contains(fn), s"$q lost $fn")
    }
  }

  test("broadcast-backed bloom probe compiles under whole-stage codegen (r15 verdict #1)") {
    // the >256KB bloom rides a Broadcast (DedupFunctions.bloomSemiPrefilter's
    // large path) — engaged only at the 100× replica, where its generated
    // init called BloomFilter.readFrom (throws IOException) uncaught: janino
    // rejected the class and Spark SILENTLY ran the whole dedup filter stage
    // interpreted (the dedup_substring_spans 31-70 s warm-up-curve variance).
    // fallback=false turns any such compile failure into a loud test failure.
    import org.apache.spark.sql.functions.col
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1000000, 0.02)
    (0L until 1000L).foreach(bf.putLong)
    val bytes = graft.functions.expressions.BloomContains.serialize(bf)
    assert(bytes.length > 256 * 1024, "bloom too small to exercise the broadcast path")
    val bc = spark.sparkContext.broadcast(bytes)
    val df = spark.range(0, 10000).toDF("h").filter(
      org.apache.spark.sql.graftbridge.GraftColumnBridge.column(
        graft.functions.expressions.BloomContainsBc(
          org.apache.spark.sql.graftbridge.GraftColumnBridge.expression(col("h")), bc)))
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val n = df.count() // throws on a codegen compile failure with fallback off
      assert(n >= 1000 && n <= 2000, s"bloom probe wrong: $n of 1000 members (+fpp)")
      df.collect()
      val s = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(s.contains("codegen id :"), s"bloom filter stage left codegen:\n$s")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None    => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("graph-match: edge predicates push through the pattern's join chain") {
    val s = finalPlan("q_kql_graph_match")
    // the e1.qty/e2.qty == 50 step predicates must reach every lineitem
    // scan — graph-match is plain Catalyst joins, so pushdown is the proof
    // the pattern scales by scanning ~2% of the edges, not all of them
    val pushed = s.linesIterator.filter(_.contains("EqualTo(l_quantity,50.0)")).size
    assert(pushed >= 2, s"edge predicate not pushed into lineitem scans:\n$s")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("basket: the itemset lattice is ONE cube (expand + single agg shuffle)") {
    val s = finalPlan("q_kql_basket")
    assert(s.contains("Expand"), s) // cube's lattice expansion operator
    assert(!s.contains("CartesianProduct"), s)
    // row total joins in as a broadcast scalar, never a shuffle join
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("sliding-window counts: explode-to-bins, never a range self-join") {
    val s = finalPlan("q_kql_sliding_window")
    // the rolling window is a bounded explode (Generate) over per-bin
    // partials — a range/theta join here would be the 100 TB scale-killer
    assert(s.contains("Generate"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("ipv4_lookup: CIDR match is a bucket HASH join, never a range NLJ") {
    val s = finalPlan("q_kql_ipv4_lookup")
    // the containment predicate must ride a bucket equi-join as a residual
    // filter — a raw BETWEEN join would plan as a nested loop over facts
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("ivfpq: cell routing and ADC table ride broadcast joins, no NLJ") {
    // pin the ANN path ALONE (the registry query also runs the brute-force
    // exact side of its recall gate, which is an NLJ by design)
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = graft.functions.SimilarityFunctions.kmeansCentroids(
      emb, "embedding", "vec_id", k = 4, iters = 1)
    val cb = graft.functions.SimilarityFunctions.pqTrain(
      emb, "embedding", "vec_id", m = 8, k = 16, dim = 64, iters = 1)
    val df = graft.functions.SimilarityFunctions.ivfpqTopK(
      emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = 5, centroids, cb, nProbe = 2, shortlist = 50)
    df.collect()
    val s = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // the candidate set must come from a broadcast equi-join on the probed
    // cell ids and the ADC table must broadcast — a shuffle join on either
    // tiny side, or any nested loop, breaks the one-corpus-shuffle story
    assert(s.contains("BroadcastHashJoin"), s.linesIterator.take(60).mkString("\n"))
    assert(!s.contains("CartesianProduct"), s.linesIterator.take(60).mkString("\n"))
    assert(!s.contains("BroadcastNestedLoopJoin"), s.linesIterator.take(60).mkString("\n"))
    assert(!s.contains("SortMergeJoin"), s.linesIterator.take(60).mkString("\n"))
  }

  test("diffpatterns: ONE conditional-count cube, totals broadcast") {
    val s = finalPlan("q_kql_diffpatterns")
    assert(s.contains("Expand"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("SortMergeJoin"), s) // cohort totals ride a broadcast
  }

  test("graph-match varlen: bounded union of fixed chains over ONE edge materialization") {
    val s = finalPlan("q_kql_graph_varlen_agg")
    // *1..2 must plan as a UNION of exactly the 2 fixed chains — the
    // documented path-enumeration contract (path multiplicity matters for
    // all(e.qty) folds); pair-reachability questions take the BFS operator
    // (see the graph-match scaladoc crossover note)
    assert(s.contains("Union"), s)
    // round 17: the edge frame (qty >= 48, filter pushed at materialization)
    // is localCheckpoint-ed ONCE and every chain leg reads the checkpoint —
    // the final plan must carry NO parquet re-scan (the pre-fix plan
    // re-derived the orders⋈lineitem edge subtree 13×: 78 parquet scans /
    // 52 exchanges), and under implicit-node elision NO distinct-endpoint
    // node aggregation survives either
    assert(!s.contains("Scan parquet"),
      s"edge subtree re-derived from parquet instead of the one checkpoint:\n$s")
    val rddScans = s.linesIterator.count(_.contains("Scan ExistingRDD"))
    assert(rddScans >= 3, s"expected >=3 checkpoint reads (1-hop leg + 2-hop leg x2):\n$s")
    assert(!s.contains("CartesianProduct"), s)
  }

  test("graph-match implicit-node elision returns exactly the node-join lowering's rows") {
    // the elision's correctness contract, pinned as an A/B: the SAME edges
    // matched with implicit nodes (elided — no node joins) and with an
    // explicit node table equal to the distinct endpoint set (join lowering)
    // must produce identical multisets, including a cycle-closing repeat
    // variable and a variable-length hop with an all() fold
    def kql(body: String) = graft.kql.KqlPipeline.run(
      Map.empty[String, org.apache.spark.sql.DataFrame], body)
    // NULL-endpoint edges (r17 advice, medium): the node-join lowering drops
    // them via its id equi-joins; the elided lowering must filter them up
    // front — without that, NULL-src-first-edge / NULL-dst-last-edge rows
    // survive only under elision and this A/B diverges. N stays {a,b,c}: a
    // NULL row in the node table could never equi-join anyway.
    val edges = """datatable (s:string, d:string, w:long) [
      |   'a', 'b', 1, 'b', 'c', 2, 'a', 'c', 3, 'c', 'a', 4, 'b', 'c', 5,
      |   null, 'b', 6, 'c', null, 7 ]""".stripMargin
    val nodesLet = """let N = datatable (node_id:string) [ 'a', 'b', 'c' ];"""
    for (pattern <- Seq(
      "(x)-[e*1..2]->(y)\n    project dst = y.node_id, hops = e_hops, ws = tolong(array_sum(all(e.w)))",
      "(x)-[e1]->(y)-[e2]->(x)\n    project x = x.node_id, y = y.node_id",
      // string literals stay verbatim under every lowering (r17 advice):
      // un-protected, elision rewrites 'x.node_id' to the bound edge column
      // and both lowerings rewrite 'all(e.w)' to (differing) alias arrays
      "(x)-[e*1..2]->(y)\n    project dst = y.node_id, tag = 'x.node_id', fold = 'all(e.w)'")) {
      val implicitRows = kql(
        s"$edges\n | make-graph s --> d\n | graph-match $pattern")
        .collect().map(_.toString).sorted.toSeq
      val explicitRows = kql(
        s"$nodesLet\n$edges\n | make-graph s --> d with N on node_id\n | graph-match $pattern")
        .collect().map(_.toString).sorted.toSeq
      assert(implicitRows == explicitRows, s"elision diverged for $pattern")
    }
  }

  test("graph-shortest-paths: seeded BFS with no node-frame distincts") {
    val s = finalPlan("q_kql_graph_shortest")
    // implicit-node fast path: the seed filter applies to the edge scan
    // and x/y substitute textually — the distinct-endpoint node frame
    // must never materialize, so the plan has no aggregate-based distinct
    // beyond the BFS's own per-level dedups and NO semi join for seeds
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("LeftSemi"), s"seed semi-join should be elided on implicit graphs:\n$s")
    // the startswith 'c' seed predicate reaches the plan as a filter on
    // the edge source, applied before any join (pushdown proof: it shows
    // up as a StartsWith/startswith condition in the tree)
    assert(s.toLowerCase.contains("startswith"), s)
  }

  test("rows_near: zero shuffles — distance scans are mapPartitions passes") {
    val s = finalPlan("q_kql_rows_near")
    // both distance scans are seeded re-walks over pinned partitions; the
    // only exchange allowed is the final order-by's range partitioning
    assert(countShuffles(s) <= 1, s"expected at most the order-by exchange:\n$s")
    assert(!s.contains("Window"), s"rows_near must not lower to a window:\n$s")
  }

  test("bottom-k sample: two-phase ObjectHashAggregate like the sketch family") {
    // partial samples build map-side, merge after the exchange — same
    // mergeable-sketch physical shape as hll/tdigest/theta/freq
    val s = finalPlan("q_kql_bottomk_sample")
    assert(s.contains("ObjectHashAggregate"), s)
    assert(s.toLowerCase.contains("sample_bottomk"), s)
  }

  test("dedup pipeline: no corpus-sided BroadcastExchange at the 64 MB bench threshold") {
    // the round-9 SF10 failure mode: at 100× a planning-time size
    // MISestimate on a cached corpus frame flipped a join-back to
    // broadcast and OOM'd the driver. The merge/shuffle_hash hints in
    // DedupFunctions must keep EVERY executed plan of the full pipeline —
    // including each connected-components round — broadcast-free, however
    // generous the threshold. Capture all executed plans via a listener.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
    spark.listenerManager.register(listener)
    try {
      Surface.registry("dedup_pipeline_full").fn(spark, sf).collect()
      // listener delivery is async — wait for the queue to quiesce
      var last = -1
      var same = 0
      while (same < 3) {
        Thread.sleep(200)
        if (plans.size == last) same += 1 else { same = 0; last = plans.size }
      }
      assert(!plans.isEmpty, "listener captured no plans")
      plans.forEach { p =>
        assert(!p.contains("BroadcastExchange"),
          s"corpus-sided broadcast leaked into the dedup pipeline:\n${p.take(4000)}")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.functions.DedupFunctions.releaseCaches()
    }
  }

  test("geo s2 join: cell-token equi-join — no cartesian, no NLJ") {
    // the geo scale story: same-cell pairing is ONE shuffle on the token
    // key; any distance-based pairing would surface as a nested-loop
    val s = finalPlan("q_kql_geo_s2join")
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("SortMergeJoin"), s"expected the pinned token equi-join:\n$s")
  }

  test("geo covering joins: the covering dim broadcasts — the point side never shuffles for the join") {
    // the polygon-covering and route-covering joins are the 100 TB geo
    // shapes: only the mv-expanded covering (a few hundred rows) may
    // broadcast; the fact side streams map-side through a BroadcastHashJoin
    Seq("q_kql_geo_s2cover_join", "q_kql_geo_s2line_join").foreach { q =>
      val s = finalPlan(q)
      assert(s.contains("BroadcastHashJoin"), s"$q: covering dim must broadcast:\n$s")
      assert(!s.contains("CartesianProduct"), s"$q cartesian:\n$s")
      assert(!s.contains("BroadcastNestedLoopJoin"), s"$q NLJ:\n$s")
      assert(!s.contains("SortMergeJoin"), s"$q: the cell equi-join must not sort-merge the fact side:\n$s")
    }
  }

  test("bm25: stats broadcast; only the 1-row cross rides an NLJ") {
    val s = finalPlan("text_bm25_topk")
    assert(s.contains("BroadcastExchange"), s"corpus stats must broadcast:\n$s")
    assert(!s.contains("CartesianProduct"), s"bm25 must never cartesian:\n$s")
    // the single NLJ allowed is the broadcast cross of the 1-row (nd, avgdl)
    // scalar — the registry-wide broadcast-total pattern; the dl join must
    // stay a broadcast HASH join. Count in the final-plan TREE only (the
    // details section also lists initial-plan nodes under other ids)
    val tree = s.substring(0, math.max(s.indexOf("\n\n(1) "), 0) match {
      case 0 => s.length; case i => i
    })
    val nljIds = "BroadcastNestedLoopJoin[^(]*\\((\\d+)\\)".r
      .findAllMatchIn(tree).map(_.group(1)).toSet
    assert(nljIds.size <= 1, s)
    assert(s.contains("BroadcastHashJoin"), s"dl join must broadcast-hash:\n$s")
  }

  test("manifest scans keep predicate pushdown and column pruning (r14)") {
    // the manifest-backed FileIndex replaces the listing, NOT the relation:
    // PushedFilters / ReadSchema must behave exactly as on a listed scan
    val dir = graft.SparkSuite.session.sparkContext.hadoopConfiguration
    val fsDir = tmpDir("plan-manifest")
    spark.range(1000).selectExpr("id", "id * 2 as v", "concat('s', id) as s")
      .repartition(2).write.mode("overwrite").parquet(fsDir)
    val p  = new org.apache.hadoop.fs.Path(fsDir)
    val fs = p.getFileSystem(dir)
    val stats = fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => org.apache.spark.sql.graftbridge.GraftManifestScan.status(
        f.getPath, f.getLen)).toSeq
    val df = org.apache.spark.sql.graftbridge.GraftManifestScan
      .parquet(spark, spark.read.parquet(fsDir).schema, stats)
      .filter(org.apache.spark.sql.functions.col("id") > 500)
      .select("id", "v")
    df.collect()
    val s = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(s.contains("PushedFilters:") && s.contains("GreaterThan(id"), s)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema:")).get
    assert(!readSchema.contains("s:string"), s"column pruning lost on manifest scan: $readSchema")
    assert(readSchema.contains("id:bigint") && readSchema.contains("v:bigint"), readSchema)
    // formatted mode marks codegen'd operators with a '*' prefix
    assert(s.contains("* Filter"), s"manifest scan fell out of codegen:\n$s")
  }

  test("mirror reads prune files by the query's own filters, current and time-travelled") {
    import org.apache.spark.sql.types._
    val src = new graft.deltalog.TestDelta(spark, tmpDir("plan-prune-src"), "plan_prune")
    src.init(StructType(Seq(StructField("id", LongType), StructField("part", StringType))), Seq("part"))
    def addAll(): Unit = (0 until 4).foreach { i =>
      src.addCommit(spark.range(i * 10, i * 10 + 10).toDF("id"), Map("part" -> s"p$i"))
    }
    val orch = new graft.engine.MirrorOrchestrator(spark, graft.engine.MirrorConfig(
      src.dir, tmpDir("plan-prune-mirror"), "plan_prune", tmpDir("plan-prune-state")))
    addAll()
    orch.runOnce()
    val v1     = orch.table.currentVersion()
    val files1 = orch.table.liveAdds().size
    addAll()
    orch.runOnce()
    val files2 = orch.table.liveAdds().size
    assert(files1 >= 4 && files1 % 4 == 0 && files2 > files1, s"$files1 then $files2 files")

    def read(t: org.apache.spark.sql.DataFrame): (Seq[Long], Long) = {
      val df = graft.kql.KqlPipeline.run(Map("T" -> t), "T | where part == 'p1' | project id")
      (df.collect().map(_.getLong(0)).sorted.toSeq,
        org.apache.spark.sql.graftbridge.GraftManifestScan.filesRead(df))
    }
    val p1 = ((10L until 20L) ++ (10L until 20L)).sorted
    assert(read(orch.table.snapshot()) == ((p1, files2 / 4L)))
    assert(read(orch.table.snapshotAt(v1)) == ((10L until 20L, files1 / 4L)))
  }
}
