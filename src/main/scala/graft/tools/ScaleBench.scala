package graft.tools

import scala.util.control.NonFatal
import graft.util.Sessions

/** Scale-proof bench (`ScaleBench <smallDir> <bigDir> [scale]`): times the
  * headline queries plus the registry's historically most expensive ones at
  * BOTH data scales in one JVM and prints one JSON line with the per-query
  * seconds and big/small ratios. With a 10× replica (tools.ScaleData) a
  * near-linear operator should land around ratio ≤ ~12 (10× data + shuffle
  * superlinearity + fixed overheads); a quadratic candidate-explosion or a
  * driver-side bottleneck shows up as a far larger ratio — the dynamic
  * check behind every "would survive 100×" plan claim.
  *
  * Same measurement discipline as [[graft.Bench]]: warm-up pass per scale
  * (codegen/JIT/footers), then min of two timed runs.
  */
object ScaleBench {
  // headline set + the top of BENCH_LOCAL_r07's cost ranking + the round-8
  // additions whose scale posture is newly claimed (graph cycle/branch/agg,
  // IVF×PQ)
  val Names: Seq[String] = Seq(
    // headline
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q_argmax_latest_event", "q_sessionization", "dedup_minhash_lsh",
    "sim_cosine_topk",
    // most expensive at sf0.1 (r7 record)
    "dedup_substring_spans", "q_kql_ipv4_lookup", "q_kql_graph_varlen",
    "curate_dedup_keep_best", "q_kql_graph_match", "dedup_clusters",
    "sim_cosine_neardup", "q18_large_orders", "q10_top_customers",
    "q_kql_hll_sketches",
    // round-8 scale-posture queries
    "q_kql_graph_branch", "q_kql_graph_cycle", "q_kql_graph_varlen_agg",
    "sim_ivfpq_topk",
    // round-8 batch 2: BFS shortest paths, Lloyd iterations, sketch
    // intersection, chunk lattice — each a newly-claimed scale shape
    "q_kql_graph_shortest", "embed_kmeans", "q_kql_dcount_intersect",
    "text_chunking", "embed_pca",
    // round-8 session 3: mergeable t-digest two-level rollup and the
    // per-session sequential fold + rid join-back — both newly claimed
    "q_kql_tdigest", "q_kql_row_window_session",
    // round-8 session 4: BPE vocabulary-frame merge rounds (sublinear
    // claim), BM25 filtered-explode retrieval, min-label component
    // propagation, bottom-k mergeable sample rollup
    "text_bpe_train", "text_bm25_topk", "q_kql_graph_components",
    "q_kql_bottomk_sample", "curate_quality_lr",
    // round-9 newly-claimed scale shapes: the full-corpus dedup
    // composition (LSH edges -> components -> keep-best as one plan) and
    // the lower-bounded BFS (unpruned sub-lo levels)
    "dedup_pipeline_full", "q_kql_graph_shortest_lo",
    // round-10: the bucketed geo join (S2 cell token as equi-join key)
    "q_kql_geo_s2join",
    // round-10 session 2: the covering-based polygon join (explode the S2
    // covering into a broadcast dim, equi-join points on their cell, exact
    // geodesic refine on candidates only; the fact side scales, the dim
    // does not — ratio should track the point count)
    "q_kql_geo_s2cover_join",
    // round-10 session 2: the radius-buffered line covering join ("points
    // near a route") and the trained-vocabulary corpus encode pass
    "q_kql_geo_s2line_join", "text_bpe_encode",
    // round-11: the offset-buffer contract — one corpus pass against a
    // broadcast 1-row ring, refined by the exact per-point distance; the
    // newly-claimed constructive-geo scale shape
    "q_kql_geo_buffer_contract")

  def main(args: Array[String]): Unit = {
    val small = args(0)
    val big   = args(1)
    val scale = if (args.length > 2) args(2).toDouble else 10.0
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.start(Sessions.builder(s"local[$cpus]")
      // STATIC broadcast threshold stays at Spark's 10 MB default: at the
      // 100× replica, planning-time size estimates on cached/derived frames
      // undercount by orders of magnitude, and a misestimated broadcast of
      // a corpus-sided frame is a driver OOM (the round-9 SF10 failure).
      // Runtime-measured broadcasts stay generous: AQE converts shuffle
      // joins to broadcast at up to 64 MB of ACTUAL size — safe by
      // construction, since the size is known before the build.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", 64L * 1024 * 1024))

    // SPARK_GRAFT_SCALE_ONLY=prefix1,prefix2 — targeted re-runs while
    // iterating on one query's scale posture (full suite for records)
    val names = sys.env.get("SPARK_GRAFT_SCALE_ONLY") match {
      case Some(ps) =>
        val prefixes = ps.split(",").map(_.trim).filter(_.nonEmpty)
        Names.filter(n => prefixes.exists(n.startsWith))
      case None => Names
    }
    if (names.isEmpty) {
      System.err.println(s"[scalebench] SPARK_GRAFT_SCALE_ONLY matched no query names " +
        s"(have: ${Names.mkString(", ")})")
      sys.exit(2)
    }
    val queries = names.map(n => n -> graft.operators.Surface.registry(n).fn)

    // between queries, drop EVERYTHING still pinned to executor memory:
    // the dedup shingle caches AND any localCheckpoint blocks iterative
    // operators left behind (mark-components, BPE) — accumulated blocks
    // are what made 100× suite membership differ run-to-run (GC-pressure
    // stage deaths on otherwise-healthy queries)
    def releaseAll(): Unit = graft.Bench.releaseAll(spark)
    // Between queries, also compact: the r11 double-run showed 25-95%
    // big-side spread on the heaviest iterative queries (pipeline_full,
    // graph_match, ipv4_lookup) that per-query min-of-two did NOT absorb —
    // the draw is old-gen state accumulated from WHICH queries ran before,
    // not noise within a query. An explicit collect between queries (never
    // inside a timed window) resets that state so each query starts from
    // the same heap.
    def resetHeap(): Unit = { releaseAll(); System.gc() }

    // GC seconds observed inside a timed window — the committed per-query
    // allocation-pressure evidence (sum over all collector beans).
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum

    // JIT code-cache occupancy (all CodeHeap segments, MB) — the r12
    // embed_kmeans 143% SF10 draw adjudicated to COMPILATION state, not
    // scheduling or GC (commit 7ea5596: rep-1 cold 11 s vs 4.1 s steady,
    // maxTask uniform, gc negligible; reproduce with `tools.QueryProfile
    // embed_kmeans <dir>`): a one-JVM 41-query suite
    // can exhaust the default 240 MB cache, disabling/evicting compiled
    // code for everything measured after, which min-of-two cannot absorb.
    // Recording usage per query makes that state visible in the record.
    def codeCacheMb(): Double =
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
        .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)

    // maxReps: the SMALL side gets up to 4 bounded reps when the first two
    // samples disagree >50% (round-16 verdict #2 — sub-second small times
    // are the noisiest and they sit in every ratio's denominator); the big
    // side stays min-of-two (a 27 s spans rep is too expensive to chase
    // sub-50% agreement, and the ratio numerator is far less noisy).
    def timeAt(dir: String, maxReps: Int): Map[String, (Double, Double, Double)] = {
      queries.foreach { case (name, fn) =>
        try fn(spark, dir).count()
        catch { case NonFatal(e) => System.err.println(s"[scalebench] warmup $name @ $dir failed: $e") }
        finally resetHeap()
      }
      queries.map { case (name, fn) =>
        def timed(): (Double, Double) =
          try {
            val g0 = gcMillis()
            val t0 = System.nanoTime()
            fn(spark, dir).count()
            ((System.nanoTime() - t0) / 1e9, (gcMillis() - g0) / 1e3)
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[scalebench] $name @ $dir failed: $e"); (-1.0, -1.0)
          } finally resetHeap()
        def twoSmallestGap(samples: List[(Double, Double)]): Double = {
          val sorted = samples.map(_._1).sorted
          (sorted(1) - sorted(0)) / math.max(sorted(0), 1e-9)
        }
        val a = timed()
        val best =
          if (a._1 < 0) (-1.0, -1.0)
          else {
            var samples = List(a)
            var hiccup  = false
            while (!hiccup && samples.size < maxReps &&
                   (samples.size < 2 || twoSmallestGap(samples) > 0.5)) {
              val s = timed()
              if (s._1 < 0) hiccup = true else samples = s :: samples
            }
            samples.minBy(_._1)
          }
        name -> (best._1, best._2, codeCacheMb())
      }.toMap
    }

    // calibration anchor (r14 verdict #2): fixed-work probe before and after
    // the measured sweeps, so the committed record carries host speed
    val calibStart1 = graft.util.Calibrate.singleThreadSec()
    val calibStartN = graft.util.Calibrate.multiThreadSec(cpus.toInt)
    val smallT = timeAt(small, maxReps = 4)
    val bigT   = timeAt(big, maxReps = 2)
    val calibEnd1 = graft.util.Calibrate.singleThreadSec()
    val calibEndN = graft.util.Calibrate.multiThreadSec(cpus.toInt)
    def d3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val per = names.map { n =>
      val (s, _, _)  = smallT(n); val (b, bg, cc) = bigT(n)
      val r = if (s > 0 && b > 0) b / s else -1.0
      s""""$n":{"small":${d3(s)},"big":${d3(b)},"ratio":${d3(r)},"gc_big":${d3(bg)},"cc_mb":${d3(cc)}}"""
    }.mkString("{", ",", "}")
    val ratios = names.map(n => (smallT(n)._1, bigT(n)._1))
      .collect { case (s, b) if s > 0 && b > 0 => b / s }
    // every selected query failing must still reach the failure JSON +
    // named-failure exit below, not die on an empty-median index
    val med = if (ratios.isEmpty) -1.0 else ratios.sorted.apply(ratios.size / 2)
    // a query that threw ANYWHERE is a named failure in the record and a
    // nonzero exit — a -1 must never again be summarizable as a success
    val failed = names.filter(n => smallT(n)._1 < 0 || bigT(n)._1 < 0)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    // `timed` names every query measured THIS run: the committed
    // BENCH_SF*_r{N}.json records must keep their `notes` keys a subset of
    // it (1:1, per-query) so a copy-pasted or stale note can't ride along
    val timedJson = names.map("\"" + _ + "\"").mkString("[", ",", "]")
    val calib = graft.util.Calibrate.recordJson(
      calibStart1, calibStartN, calibEnd1, calibEndN, cpus.toInt)
    println(s"""{"queries":$per,"metric":"median_ratio","value":${d3(med)},""" +
      s""""unit":"x","scale":$scale,"small":"$small","big":"$big",""" +
      s""""timed":$timedJson,"calib":$calib,""" +
      f""""failed":$failedJson,"driver_heap_gb":$heapGb%.1f}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[scalebench] FAILED queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
