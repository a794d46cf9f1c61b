package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A seeded sample of registry queries over the committed sf0.01 fixture.
  * One op is one query, measured over `Reps` reps of lowering, planning and
  * noop execution; its latency is the median rep. Every rep is a read.
  *
  * `query_pool.tsv` groups candidate queries into strata of one family and
  * similar cost; the j-th query of a sample comes from stratum j mod S, so
  * every seed runs about the same amount of work, and the strata sit well
  * apart around the middle one, so the median op comes from the same
  * stratum on every seed. `rows` is the oracle row count from the
  * repository's correctness record at sf0.01.
  */
final class QueryMix(spark: SparkSession, a: Args) extends Workload {
  import QueryMix._

  private val reps = if (a.tiny) 1 else Reps
  private val dir  = a.data.resolve("sf0.01").toString

  private val pool: Seq[Entry] =
    Files.readAllLines(a.data.resolve("query_pool.tsv")).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(f => Entry(f(0), f(1), f(2), f(3).toLong))

  private val sample: Seq[Entry] = {
    val rnd    = new Random(a.seed)
    val strata = pool.groupBy(_.stratum).toSeq.sortBy(_._1).map { case (_, es) => rnd.shuffle(es.sortBy(_.name)) }
    val n      = Workload.ops(a, perSecond = 1.5, tiny = 3)
    val picks  = (0 until n).map(j => strata(j % strata.size)(j / strata.size % strata(j % strata.size).size))
    rnd.shuffle(picks)
  }

  private val fns = graft.SparkEntry.queries

  /** Drops every cache a query left behind (as the program's own bench does
    * between queries), so no rep reads another rep's cached frames.
    */
  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** One rep: lower, plan, noop-execute; returns the lowered frame. */
  private def rep(tr: Tracer, op: Int, e: Entry): DataFrame = {
    val df = tr("lower", op)(fns(e.name)(spark, dir))
    tr("plan", op)(df.queryExecution.executedPlan)
    tr("exec", op)(df.write.format("noop").mode("overwrite").save())
    df
  }

  def setup(rep0: Int): Prepared = {
    val off = new Tracer(false, spark.sparkContext)
    sample.foreach { e => try rep(off, -1, e) finally release() }

    new Prepared {
      def work(log: WorkLog, tr: Tracer): Unit =
        sample.zipWithIndex.foreach { case (e, i) =>
          log.attempt(s"op $i ${e.name}") {
            val samples = tr("op", i) {
              (0 until reps).map { _ =>
                try Sample.of(tr("read", i)(rep(tr, i, e)))._2 finally release()
              }
            }
            log.reads ++= samples
            log.ops += Sample(Main.median(samples.map(_.wall)), Main.median(samples.map(_.cpu)))
            log.names += e.name
          }
        }

      // a fresh lowering per check: a released frame may have lost the
      // local checkpoints its plan reads
      def checks: Seq[(String, () => Unit)] =
        sample.distinct.zipWithIndex.map { case (e, i) =>
          s"${e.name} rows" -> { () =>
            val want = if (a.fault == "wrong_rows" && i == 0) e.rows + 1 else e.rows
            val got  = try fns(e.name)(spark, dir).count() finally release()
            require(got == want, s"${e.name}: $got rows, oracle has $want")
          }
        }

      def deleteMirrorFile(): Unit =
        throw new IllegalArgumentException("query_mix has no mirror")

      def counts(): Map[String, Double] = Map.empty
    }
  }
}

object QueryMix {
  val Reps = 3
  final case class Entry(name: String, family: String, stratum: String, rows: Long)
}
