package graft

import org.apache.spark.sql.SparkSession
import graft.util.Sessions

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, forcing full materialization via count(), and
  * prints ONE JSON line with per-query seconds.
  */
object Bench {
  /** Release every executor-memory hold between queries: the dedup shingle
    * caches AND any localCheckpoint blocks iterative operators left behind
    * (mark-components, BPE, connected components). Long suites otherwise
    * accumulate blocks until GC pressure fails unrelated stages — the
    * round-9 100× membership-instability lesson.
    */
  def releaseAll(spark: SparkSession): Unit = {
    graft.functions.DedupFunctions.releaseCaches()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.start(Sessions.builder(s"local[$cpus]")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024))

    // calibration anchor (r14 verdict #2): a fixed-work CPU probe stamped at
    // the start and end of the run lets bench_diff normalize per-query ratios
    // by measured host speed instead of adjudicating "host drift" per round
    val calibStart1 = graft.util.Calibrate.singleThreadSec()
    val calibStartN = graft.util.Calibrate.multiThreadSec(cpus.toInt)

    // SPARK_GRAFT_ONLY=prefix1,prefix2 → targeted timing while iterating
    // (driver never sets it; its runs always time the full registry)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty))
    def selected(name: String): Boolean = only.forall(_.exists(name.startsWith))
    val queries = SparkEntry.queries.filter(kv => selected(kv._1))

    // warm every query once against the measured dataset so timings measure
    // steady-state throughput (codegen compiled, parquet footers cached),
    // not first-touch JIT; warm-up failures are reported, not swallowed
    import scala.util.control.NonFatal
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).count()
      catch { case NonFatal(e) => System.err.println(s"[bench] warmup $name failed: $e") }
      finally graft.Bench.releaseAll(spark)
    }

    // min of up to four timed runs: a single sample is hostage to whatever
    // else the machine is doing; the min is the standard steady-state
    // throughput estimator (warm-up above already paid codegen/JIT).
    // SPREAD is the gap between the two SMALLEST samples relative to the
    // min — for a min estimator that is the meaningful agreement measure
    // (two independent samples near the floor ⇒ the floor is real). When
    // the first two samples disagree by >50% we pay up to two bounded
    // extra reps (round-16 verdict #2: 83/260 queries at >50% spread under
    // min-of-two made sub-second movers cost adjudication thought); the
    // committed spread is the final two-smallest gap.
    val results = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def timed(): Double =
        try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case NonFatal(e) => System.err.println(s"[bench] $name failed: $e"); -1.0
        } finally graft.Bench.releaseAll(spark)
      def twoSmallestGap(samples: List[Double]): Double = {
        val sorted = samples.sorted
        (sorted(1) - sorted(0)) / math.max(sorted(0), 1e-9)
      }
      val a = timed()
      if (a < 0) (name, -1.0, -1.0)
      else {
        // don't re-run a deterministic failure; keep the good samples if a
        // later attempt hiccups
        var samples = List(a)
        var hiccup  = false
        while (!hiccup && samples.size < 4 &&
               (samples.size < 2 || twoSmallestGap(samples) > 0.5)) {
          val s = timed()
          if (s < 0) hiccup = true else samples = s :: samples
        }
        val best   = samples.min
        val spread = if (samples.size < 2) -1.0 else twoSmallestGap(samples)
        (name, best, spread)
      }
    }
    // 3-decimal per-query values and summary fields LAST: the driver captures
    // a bounded tail of stdout, so a long line loses its HEAD — keep the line
    // short and put metric/value where truncation can't eat them (key order
    // is irrelevant to any JSON parser). `spread` goes FIRST for the same
    // reason: it is diagnostic context, the first thing truncation may eat.
    def d3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    def d2(v: Double): String = if (v < 0) "-1" else f"$v%.2f"
    val sp = results.map { case (k, _, s) => "\"" + k + "\":" + d2(s) }.mkString("{", ",", "}")
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + d3(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val calibEnd1 = graft.util.Calibrate.singleThreadSec()
    val calibEndN = graft.util.Calibrate.multiThreadSec(cpus.toInt)
    val calib = graft.util.Calibrate.recordJson(
      calibStart1, calibStartN, calibEnd1, calibEndN, cpus.toInt)
    // self-describing interference (round-15 verdict #7): when the START
    // probes sit >25% above the newest committed BENCH_LOCAL record's band,
    // the run's head was measured on a loaded host — say so IN the artifact
    // so the adjudication travels with the numbers instead of needing a rerun
    val warning = calibWarning(calibStart1, calibStartN)
      .map(w => s""","calib_warning":"$w"""").getOrElse("")
    println(s"""{"spread":$sp,"queries":$qs,"calib":$calib$warning,"metric":"total","value":${d3(total)},"unit":"sec","sf":"$sfDir"}""")
    spark.stop()
  }

  /** Candidate directories that may hold the committed BENCH_LOCAL band:
    * the cwd, plus the repo root derived from this class's code location
    * (…/target/scala-X/classes → three levels up) — a Bench launched from
    * any other cwd must still find the band or the warning silently
    * disarms in exactly the "driver runs it from elsewhere" case.
    */
  private def bandDirs(): Seq[java.io.File] = {
    val cwd = new java.io.File(sys.props.getOrElse("user.dir", "."))
    val fromClasspath = scala.util.Try {
      val loc = Bench.getClass.getProtectionDomain.getCodeSource.getLocation
      // …/repo/target/scala-2.13/classes → repo
      new java.io.File(loc.toURI).getParentFile.getParentFile.getParentFile
    }.toOption
    (Seq(cwd) ++ fromClasspath).distinct
  }

  /** Compare this run's start probes against the newest committed
    * BENCH_LOCAL_r*.json band (the repo's idle-machine record). Absent or
    * unparseable records → None (a fresh checkout must not warn).
    */
  private[graft] def calibWarning(s1: Double, sN: Double,
      dirs: Seq[java.io.File] = bandDirs()): Option[String] = {
    val recs = dirs.iterator.map { d =>
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.matches("BENCH_LOCAL_r\\d+\\.json"))
    }.find(_.nonEmpty).getOrElse(Array.empty[java.io.File])
    if (recs.isEmpty) return None
    val latest = recs.maxBy(f => f.getName.replaceAll("\\D", "").toInt)
    val calib = scala.util.Try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(latest)
      val c    = root.get("calib")
      (c.get("s1").asDouble, c.get("sN").asDouble)
    }.toOption
    calib.flatMap { case (b1, bN) =>
      if (b1 > 0 && bN > 0 && (s1 > 1.25 * b1 || sN > 1.25 * bN))
        Some(f"start probes s1=$s1%.3f sN=$sN%.3f exceed committed band " +
          f"s1=$b1%.3f sN=$bN%.3f (${latest.getName}) by >25%% - " +
          "head-of-run host interference likely")
      else None
    }
  }
}
