package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.engine.{MirrorConfig, MirrorOrchestrator}
import graft.sink.MirrorTable
import graft.state.CheckpointStore

/** Shared pieces of the two mirror workloads. */
object Mirror {

  /** The fixed KQL read that follows a poll or a backfill. */
  val ReadKql: String =
    """T
      || where v > 0.25
      || summarize n = count(), total = sum(v), top = max(id), keys = dcount(s) by part
      || order by part asc""".stripMargin

  /** One read op: snapshot, KQL lowering, planning, noop execution (which
    * computes every output column).
    */
  def read(tr: Tracer, op: Int, table: MirrorTable): Unit = {
    val snap = tr("snapshot", op)(table.snapshot())
    val df   = tr("lower", op)(graft.kql.KqlPipeline.run(Map("T" -> snap), ReadKql))
    tr("plan", op)(df.queryExecution.executedPlan)
    tr("exec", op)(df.write.format("noop").mode("overwrite").save())
  }

  def orchestrator(spark: SparkSession, src: DeltaSource, dir: Path, name: String,
      store: Option[CheckpointStore] = None): MirrorOrchestrator =
    new MirrorOrchestrator(spark, MirrorConfig(
      deltaTableUrl = src.dir.toString,
      mirrorDir = dir.resolve("mirror").toString,
      mirrorTableName = name,
      checkpointDir = dir.resolve("state").toString), store)

  /** The mirror must hold exactly the live source rows. */
  def checkEqual(src: DeltaSource, table: MirrorTable): Unit = {
    val want = src.digest()
    val got  = DeltaSource.digest(table.snapshot())
    require(got == want, s"mirror (rows, digest) $got != source $want")
  }

  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.iterator.asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally all.close()
  }

  /** Deletes one live mirror data file behind the orchestrator's back. */
  def deleteLiveFile(dir: Path, table: MirrorTable): Unit =
    Files.delete(dir.resolve("mirror").resolve(table.liveAdds().head.path))

  def counts(dir: Path, table: MirrorTable, sourceCommits: Long, batches: Long,
      mirrorCommits: Long): Map[String, Double] = {
    val listing = Files.list(dir.resolve("state"))
    val state   = try listing.iterator.asScala.toSeq finally listing.close()
    val live    = table.liveAdds()
    Map(
      "deltalog.source_commits" -> sourceCommits.toDouble,
      "engine.batches" -> batches.toDouble,
      "state.bytes" -> state.map(Files.size).sum.toDouble,
      "state.segments" -> state.count(_.getFileName.toString.startsWith("index.csv.seg-")).toDouble,
      "sink.files" -> live.size.toDouble,
      "sink.bytes" -> live.map(_.size).sum.toDouble,
      "sink.commits" -> mirrorCommits.toDouble)
  }
}

/** Continuous mirroring in steady state: each op is one small commit to a
  * 4-partition source, then one poll (`runOnce`), timed from the commit to
  * visibility; a fixed KQL read of the mirror follows each poll. The store
  * already holds a ballast of a second table's rows and the mirror a
  * history of commits, so the fixed per-poll costs show.
  */
final class Trickle(spark: SparkSession, a: Args) extends Workload {
  private val rowsPerFile = if (a.tiny) 50 else 400
  private val ballastRows = if (a.tiny) 2000 else 200000
  private val history     = if (a.tiny) 2 else 8 // commits of one file per partition
  private val warm        = 1
  private val ops         = Workload.ops(a, perSecond = 1.2, tiny = 3)

  /** One commit: the files it adds (with their partitions) and removes. */
  private final case class Step(adds: Seq[(Int, String)], removes: Seq[Int])

  // the same steps on every set-up, and the same shape for every seed: each
  // commit adds two files to two partitions, and every fourth commit also
  // removes a file an earlier step added; the seed picks the partitions and
  // the removed file (and the rows)
  private val (historyFids, steps) = {
    val rnd  = new Random(a.seed)
    val hist = 0 until history * 4
    var added = Vector.empty[Int]
    val st = (0 until warm + ops).map { i =>
      val removes = if (i % 4 == 3) Seq(added(rnd.nextInt(added.size))) else Nil
      val parts   = rnd.shuffle((0 until 4).toList).take(2)
      val adds    = parts.zipWithIndex.map { case (p, j) => (hist.size + 2 * i + j, s"p$p") }
      added = added.filterNot(removes.contains) ++ adds.map(_._1)
      Step(adds, removes)
    }
    (hist, st)
  }

  private def ballast(store: CheckpointStore): Unit = {
    import graft.txlog._
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
    (0 until ballastRows).grouped(50000).foreach { chunk =>
      store.append(chunk.map(i => TransactionItem(
        tableName = "ballast",
        startTxId = (i / 1000).toLong, endTxId = (i / 1000).toLong,
        action = TxAction.Add, state = TxState.Done,
        mirrorTimestamp = t0.plusSeconds(i.toLong),
        blobPath = Some(f"ballast-$i%08d.parquet"),
        size = Some(1000000L), recordCount = Some(100L))))
    }
    store.compact()
  }

  // the inputs, made once per run: the source with its history, and the
  // ballasted store; each set-up starts from its own copy of both
  private val template = Files.createDirectories(a.work.resolve("trickle-inputs"))
  private val source = {
    val src    = new DeltaSource(spark, template.resolve("source"), rowsPerFile, a.seed)
    val partOf = (steps.flatMap(_.adds) ++ historyFids.map(f => (f, s"p${f % 4}"))).toMap
    src.generate(0 until partOf.size, partOf)
    src.create()
    historyFids.grouped(4).foreach(g => src.commit(g, Nil))
    src
  }
  ballast(new CheckpointStore(spark, template.resolve("state").toString))

  def setup(rep: Int): Prepared = {
    val dir = a.work.resolve(s"trickle-$rep")
    Mirror.copyTree(template, dir)
    val src = source.copyTo(dir.resolve("source"))
    val orch = Mirror.orchestrator(spark, src, dir, "trickle")
    require(orch.runOnce() >= 1, "the history was not mirrored")

    val off = new Tracer(false, spark.sparkContext)
    steps.take(warm).foreach { st =>
      src.commit(st.adds.map(_._1), st.removes)
      orch.runOnce()
      Mirror.read(off, -1, orch.table)
    }

    new Prepared {
      private var batches = 0L
      private val v0      = orch.table.currentVersion()
      private val c0      = src.commits

      def work(log: WorkLog, tr: Tracer): Unit =
        steps.drop(warm).zipWithIndex.foreach { case (st, i) =>
          log.attempt(s"op $i") {
            val (_, s) = Sample.of(tr("op", i) {
              tr("commit", i)(src.commit(st.adds.map(_._1), st.removes))
              val b = tr("run_once", i)(orch.runOnce())
              require(b >= 1, "the poll mirrored no batch")
              batches += b
            })
            log.ops += s
          }
          log.attempt(s"read $i") {
            log.reads += Sample.of(tr("read", i)(Mirror.read(tr, i, orch.table)))._2
          }
        }

      def checks: Seq[(String, () => Unit)] =
        Seq("mirror equals source" -> (() => Mirror.checkEqual(src, orch.table)))

      def deleteMirrorFile(): Unit = Mirror.deleteLiveFile(dir, orch.table)

      def counts(): Map[String, Double] =
        Mirror.counts(dir, orch.table, src.commits - c0, batches,
          orch.table.currentVersion() - v0)
    }
  }
}

/** A cold first mirror: one op is one full backfill of a seeded source
  * (files over many commits, some of which remove older files) into a fresh
  * store and mirror, followed by the fixed KQL read of the result.
  */
final class Backfill(spark: SparkSession, a: Args) extends Workload {
  private val rowsPerFile = if (a.tiny) 50 else 1500
  private val files       = if (a.tiny) 24 else 160
  private val commits     = if (a.tiny) 6 else 8
  private val ops         = Workload.ops(a, perSecond = 0.4, tiny = 2)

  // the same shape for every seed: every commit adds files/commits files,
  // spread evenly over the partitions, and every fourth commit also removes
  // an older file; the seed picks which file goes to which partition and
  // which file is removed (and the rows)
  private val (partOf, plan) = {
    val rnd   = new Random(a.seed)
    val per   = files / commits
    val parts = (0 until commits).flatMap { c =>
      rnd.shuffle(List.tabulate(per)(j => s"p${j % 4}")).zipWithIndex.map { case (p, j) => (c * per + j) -> p }
    }.toMap
    var live = Vector.empty[Int]
    val cs = (0 until commits).map { c =>
      val removes = if (c % 4 == 3) Seq(live(rnd.nextInt(live.size))) else Nil
      val adds    = c * per until (c + 1) * per
      live = live.filterNot(removes.contains) ++ adds
      (adds, removes)
    }
    (parts, cs)
  }

  // the source, made once per run and only read by the backfills; the
  // output check after the work is the one commit made to it afterwards
  private val src = {
    val src = new DeltaSource(spark, a.work.resolve("backfill-source"), rowsPerFile, a.seed)
    src.generate(0 until files, partOf)
    src.create()
    plan.foreach { case (adds, removes) => src.commit(adds, removes) }
    src
  }

  def setup(rep: Int): Prepared = {
    val dir = a.work.resolve(s"backfill-$rep")
    val off  = new Tracer(false, spark.sparkContext)
    val warm = Mirror.orchestrator(spark, src, dir.resolve("warm"), "backfill")
    warm.runOnce()
    Mirror.read(off, -1, warm.table)

    new Prepared {
      private var last: Option[MirrorOrchestrator] = None
      private var batches = 0L
      private var mirrorCommits = 0L

      def work(log: WorkLog, tr: Tracer): Unit =
        (0 until ops).foreach { i =>
          val orch = Mirror.orchestrator(spark, src, dir.resolve(s"op-$i"), "backfill")
          log.attempt(s"op $i") {
            val (_, s) = Sample.of(tr("op", i) {
              val b = tr("run_once", i)(orch.runOnce())
              require(b >= 1, "the backfill mirrored no batch")
              batches += b
            })
            log.ops += s
            last = Some(orch)
            mirrorCommits += orch.table.currentVersion() + 1
          }
          log.attempt(s"read $i") {
            log.reads += Sample.of(tr("read", i)(Mirror.read(tr, i, orch.table)))._2
          }
        }

      private def orch    = last.getOrElse(throw new IllegalStateException("no backfill completed"))
      private def lastDir = dir.resolve(s"op-${ops - 1}")

      def checks: Seq[(String, () => Unit)] = Seq(
        "mirror equals source" -> (() => Mirror.checkEqual(src, orch.table)),
        "mirror equals source after removing 10% of files" -> { () =>
          val live = src.live
          src.commit(Nil, new Random(a.seed + 1).shuffle(live).take(math.max(1, live.size / 10)))
          orch.runOnce()
          Mirror.checkEqual(src, orch.table)
        })

      def deleteMirrorFile(): Unit = Mirror.deleteLiveFile(lastDir, orch.table)

      def counts(): Map[String, Double] =
        Mirror.counts(lastDir, orch.table, src.commits * ops, batches,
          mirrorCommits)
    }
  }
}
