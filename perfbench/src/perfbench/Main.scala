package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: Path,
    record: Path,
    data: Path,
    cores: Int,
    tiny: Boolean,
    fault: String)

object Args {
  val Faults = Set("none", "throw", "mirror_file", "wrong_rows")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toInt,
      trace = get("trace") == "1",
      work = Paths.get(get("work")),
      record = Paths.get(get("record")),
      data = Paths.get(get("data")),
      cores = get("cores").toInt,
      tiny = kv.get("size").contains("tiny"),
      fault = kv.getOrElse("fault", "none"))
    require(Faults.contains(a.fault), s"unknown fault ${a.fault}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }
}

/** Attempted and failed ops, and the samples of the ones that succeeded. */
final class WorkLog(throwAt: Int) {
  val ops   = ArrayBuffer.empty[Sample]
  val names = ArrayBuffer.empty[String] // what each op ran, where it varies by seed
  val reads = ArrayBuffer.empty[Sample]
  var attempted = 0
  var failed    = 0
  val errors = ArrayBuffer.empty[String]

  /** Runs one op; a throw counts it as failed. `throwAt` injects one. */
  def attempt(what: String)(f: => Unit): Unit = {
    attempted += 1
    try {
      if (attempted == throwAt) throw new IllegalStateException("injected op failure")
      f
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$what: $e"
        System.err.println(s"[perfbench] $what failed: $e")
    }
  }
}

/** State left by one set-up, ready for one pass of the timed work. */
trait Prepared {

  /** The fixed timed work. */
  def work(log: WorkLog, tr: Tracer): Unit

  /** Output checks by name; each throws on a mismatch. */
  def checks: Seq[(String, () => Unit)]

  /** Deletes one live mirror data file behind the orchestrator's back. */
  def deleteMirrorFile(): Unit

  /** Sizes and counts at the end of the work, by per-layer metric name. */
  def counts(): Map[String, Double]
}

/** A workload makes its inputs when constructed; each set-up then prepares
  * its own state from them.
  */
trait Workload {
  def setup(rep: Int): Prepared
}

object Workload {
  /** Ops in the fixed timed work, in proportion to `--seconds`: the same
    * `--seconds` is the same work on every commit.
    */
  def ops(a: Args, perSecond: Double, tiny: Int): Int =
    if (a.tiny) tiny else math.max(3, math.round(a.seconds * perSecond).toInt)

  def apply(spark: SparkSession, a: Args): Workload = a.workload match {
    case "trickle"   => new Trickle(spark, a)
    case "backfill"  => new Backfill(spark, a)
    case "query_mix" => new QueryMix(spark, a)
    case other       => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

object Main {
  /** Set-ups per run; setup_s reports their median. The untraced pass runs
    * on the first, the traced pass on the second. Two keep a three-workload
    * run set inside its time budget.
    */
  val SetupReps = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftSessionExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private final case class Pass(log: WorkLog, wall: Double, cpu: Double, jit: Double, gc: Double)

  private def runPass(p: Prepared, tr: Tracer, throwAt: Int): Pass = {
    val log = new WorkLog(throwAt)
    val (jit0, gc0) = (Clock.jitSeconds(), Clock.gcSeconds())
    val (_, s) = Sample.of(tr("work", -1)(p.work(log, tr)))
    Pass(log, s.wall, s.cpu, Clock.jitSeconds() - jit0, Clock.gcSeconds() - gc0)
  }

  def main(argv: Array[String]): Unit = {
    val a      = Args.parse(argv)
    val steal0 = Host.stealSeconds()
    Files.createDirectories(a.work)
    val (spark, start) = Sample.of(session(a))
    val sc = spark.sparkContext
    val (wl, inputs) = Sample.of(Workload(spark, a))

    val reps = (0 until SetupReps).map(r => Sample.of(wl.setup(r)))
    val setupS = start.wall + inputs.wall + median(reps.map(_._2.wall))
    val throwAt = if (a.fault == "throw") 2 else -1

    // the end-to-end pass runs with tracing off; the traced pass, on its own
    // set-up of the same inputs, adds the per-layer numbers
    val plain = runPass(reps(0)._1, new Tracer(false, sc), throwAt)
    val traced = if (!a.trace) None else Some {
      val p        = reps(1)._1
      val counters = new SparkCounters(sc)
      sc.addSparkListener(counters)
      val tr     = new Tracer(true, sc)
      val phase0 = graft.util.PhaseTimer.snapshot()
      counters.settle()
      val pass = runPass(p, tr, throwAt)
      counters.settle()
      val phase1 = graft.util.PhaseTimer.snapshot()
      sc.removeSparkListener(counters)
      (p, pass, tr, counters, Layers.phaseDelta(phase0, phase1))
    }
    val checked = traced.map(_._1).getOrElse(reps(0)._1)
    val counts  = checked.counts()
    if (a.fault == "mirror_file") checked.deleteMirrorFile()

    val log = traced.map(_._2.log).getOrElse(plain.log)
    val (_, checkS) = Sample.of(
      checked.checks.foreach { case (name, check) => log.attempt(s"check $name")(check()) })
    traced.foreach { case (_, _, tr, _, _) =>
      log.attempt("check spans nest") {
        require(tr.nestingViolations == 0, s"${tr.nestingViolations} spans outside their parent")
      }
    }
    val calib = Host.calibSeconds()
    val steal = Host.stealSeconds() - steal0

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("work_s", plain.wall, "s"),
      ("work_cpu_s", plain.cpu, "s"),
      ("op_p50_s", median(plain.log.ops.map(_.wall).toSeq), "s"),
      ("op_cpu_p50_s", median(plain.log.ops.map(_.cpu).toSeq), "s"),
      ("read_p50_s", median(plain.log.reads.map(_.wall).toSeq), "s"))
    val host = Seq(("host.steal_s", steal, "s"), ("host.calib_s1", calib, "s"))
    val perLayer = traced.map { case (_, pass, tr, counters, phases) =>
      Layers.metrics(tr, counters, phases, counts) ++ host :+
        (("trace.overhead_s", pass.wall - plain.wall, "s"))
    }

    val logs      = (plain.log +: traced.map(_._2.log).toSeq).distinct
    val failed    = logs.map(_.failed).sum
    val attempted = logs.map(_.attempted).sum
    val correct   = failed == 0

    Record.write(a, endToEnd, perLayer.getOrElse(host), plain.log, correct, attempted, failed,
      logs.flatMap(_.errors), Seq(start.wall, inputs.wall) ++ reps.map(_._2.wall), checkS.wall,
      plain.jit, plain.gc)
    traced.foreach(_._3.writeJsonl(Paths.get(a.record.toString.stripSuffix(".json") + ".spans.jsonl")))

    println(f"perfbench workload=${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      f"ops=${plain.log.ops.size} reads=${plain.log.reads.size} host.steal_s=$steal%.2f " +
      f"host.calib_s1=$calib%.4f record=${a.record}")
    println(Record.result(correct, attempted, failed, perLayer.getOrElse(endToEnd)))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}

/** The per-layer metrics of a traced pass. */
object Layers {
  type Phases = Map[String, (Double, Long)]

  def phaseDelta(before: Phases, after: Phases): Phases =
    after.map { case (k, (s, n)) =>
      val (s0, n0) = before.getOrElse(k, (0.0, 0L))
      k -> (s - s0, n - n0)
    }

  def metrics(tr: Tracer, c: SparkCounters, ph: Phases,
      counts: Map[String, Double]): Seq[(String, Double, String)] = {
    def s(names: String*): Double = names.map(n => ph.get(n).fold(0.0)(_._1)).sum
    def n(name: String): Double = ph.get(name).fold(0.0)(_._2.toDouble)
    val compactS = s("store.compact") + ph.collect { case (k, (v, _)) if k.startsWith("compact.") => v }.sum
    def count(name: String) = (name, counts.getOrElse(name, 0.0), "count")
    def bytes(name: String) = (name, counts.getOrElse(name, 0.0), "bytes")
    Seq(
      ("deltalog.discover_s", s("orch.discover"), "s"),
      count("deltalog.source_commits"),
      ("state.read_s", s("store.read"), "s"),
      ("state.read_calls", n("store.read"), "count"),
      ("state.append_s", s("store.append"), "s"),
      ("state.append_calls", n("store.append"), "count"),
      ("state.compact_s", compactS, "s"),
      ("state.compactions", n("store.compact"), "count"),
      bytes("state.bytes"),
      count("state.segments"),
      ("engine.run_once_s", tr.seconds("run_once"), "s"),
      ("engine.analyze_s", s("orch.analyze"), "s"),
      ("engine.stage_s", s("orch.stage"), "s"),
      ("engine.load_s", s("orch.load"), "s"),
      ("engine.status_s", s("orch.status"), "s"),
      count("engine.batches"),
      ("sink.stage_s", s("mirror.stage"), "s"),
      ("sink.publish_s", s("mirror.publish", "publish.list", "publish.commit"), "s"),
      ("sink.lineage_s", s("publish.lineage"), "s"),
      ("sink.live_s", s("publish.live"), "s"),
      ("sink.snapshot_s", tr.seconds("snapshot"), "s"),
      count("sink.files"),
      bytes("sink.bytes"),
      count("sink.commits"),
      ("kql.lower_s", tr.seconds("lower"), "s"),
      ("kql.lower_jobs", c.lowerJobs.get.toDouble, "count"),
      ("spark.plan_s", tr.seconds("plan"), "s"),
      ("spark.exec_s", tr.seconds("exec"), "s"),
      ("spark.jobs", c.jobs.get.toDouble, "count"),
      ("spark.tasks", c.tasks.get.toDouble, "count"),
      ("spark.executor_cpu_s", c.cpuNs.get / 1e9, "s"),
      ("spark.shuffle_bytes", c.shuffleBytes.get.toDouble, "bytes"),
      ("spark.spill_bytes", c.spillBytes.get.toDouble, "bytes"),
      ("spark.input_bytes", c.inputBytes.get.toDouble, "bytes"))
  }
}

/** The result line and the per-run record file. */
object Record {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else new java.math.BigDecimal(x).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")

  def result(correct: Boolean, attempted: Int, failed: Int, ms: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${metricsJson(ms)}}"""

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def write(a: Args, endToEnd: Seq[(String, Double, String)], layers: Seq[(String, Double, String)],
      log: WorkLog, correct: Boolean, attempted: Int, failed: Int,
      errors: Seq[String], setupParts: Seq[Double], checkS: Double, jit: Double, gc: Double): Unit = {
    def arr(xs: Iterable[Double]) = xs.map(num).mkString("[", ",", "]")
    val json =
      s"""{"workload":"${a.workload}","seed":${a.seed},"seconds":${a.seconds},""" +
      s""""trace":${a.trace},"size":"${if (a.tiny) "tiny" else "full"}","cores":${a.cores},""" +
      s""""correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""end_to_end":${metricsJson(endToEnd)},"per_layer":${metricsJson(layers)},""" +
      s""""op_wall_s":${arr(log.ops.map(_.wall))},"op_cpu_s":${arr(log.ops.map(_.cpu))},""" +
      s""""read_wall_s":${arr(log.reads.map(_.wall))},""" +
      s""""op_names":${log.names.map(str).mkString("[", ",", "]")},""" +
      s""""setup_parts_s":${arr(setupParts)},"checks_s":${num(checkS)},""" +
      s""""work_jit_s":${num(jit)},"work_gc_s":${num(gc)},""" +
      s""""errors":${errors.map(str).mkString("[", ",", "]")}}"""
    Files.createDirectories(a.record.toAbsolutePath.getParent)
    Files.write(a.record, (json + "\n").getBytes("UTF-8"))
  }
}
