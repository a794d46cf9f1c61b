package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.util.Sessions

/** Generic per-query adjudication instrument for ANY registry query, so a
  * bench watch item costs one command instead of a new tool per round (the
  * one-off profilers it replaced are in git history: the spans spread
  * adjudication in commit 26543de / BENCH_SF10_r14, the embed_kmeans one in
  * 7ea5596): run the exact gated query `reps` times in one JVM against `dir`
  * and print per-rep wall/gc/lowering plus per-JOB wall / task time / max task
  * / task count; `lower` tags a job the lowering launched.
  *
  * Reads: a straggler task (maxTask ≫ run/tasks) names skew; wall ≫ execRun
  * names scheduling gaps or I/O waits; rep-1-only cost names warm-up; uniform
  * variation across reps with stable per-job shape names host/JIT variance.
  * The summary line reports min / median / max / spread over the warm reps
  * (rep 1 excluded) — the number the round record can quote directly.
  *
  * Usage: runMain graft.tools.QueryProfile <query> <dir> [reps=6]
  */
object QueryProfile {

  private class JobTimer extends SparkListener {
    case class StageAgg(var tasks: Int = 0, var runMs: Long = 0L, var maxTaskMs: Long = 0L)
    val stageOfJob = new java.util.concurrent.ConcurrentHashMap[Int, java.util.Set[Int]]()
    val stageAgg   = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    val jobWallMs  = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobSite    = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val execDesc = new java.util.concurrent.ConcurrentHashMap[String, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => execDesc.put(x.executionId.toString, x.description)
      case _                                 =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      // name the job: the result stage's name carries the short call site
      // ("count at Surface.scala:6620", "localCheckpoint at
      // DedupFunctions.scala:423", "isEmpty at …", a broadcast exchange, …)
      // — how a per-job line maps back to the operator stage it belongs to;
      // without it every adjudication had to reconstruct job identity from
      // position and task counts (job properties carry no callSite here)
      val result = e.stageInfos.sortBy(_.stageId).lastOption
      val stage  = result.map(_.name).getOrElse("")
      jobSite.put(e.jobId, if (!stage.contains("CompletableFuture.java")) stage else {
        // AQE query stages, broadcasts and subqueries run on a thread pool, so
        // their stage name is a pool frame: name them by the SQL execution
        // that launched them and the first and last operator of the stage
        // ("exec 3 count at …: AQEShuffleRead -> Exchange")
        val ops = result.toSeq.flatMap(_.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name.trim))).distinct
        val opSpan = if (ops.isEmpty) "" else s": ${Seq(ops.head, ops.last).distinct.mkString(" -> ")}"
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .fold(stage)(id => s"exec $id ${execDesc.getOrDefault(id, "?")}$opSpan")
      })
      val set = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      e.stageIds.foreach(set.add)
      stageOfJob.put(e.jobId, set)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.get(e.jobId)).foreach(s => jobWallMs.put(e.jobId, e.time - s))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val agg = stageAgg.computeIfAbsent(e.stageId, _ => StageAgg())
      agg.synchronized {
        agg.tasks += 1
        val ms = e.taskInfo.duration
        agg.runMs += ms
        if (ms > agg.maxTaskMs) agg.maxTaskMs = ms
      }
    }
    def drainJobs(): Seq[(Int, Long, Long, Int, Long, Long, String)] = {
      import scala.jdk.CollectionConverters._
      val out = jobWallMs.asScala.toSeq.sortBy(_._1).map { case (job, wall) =>
        val stages = Option(stageOfJob.get(job)).map(_.asScala.toSeq).getOrElse(Nil)
        val aggs = stages.flatMap(s => Option(stageAgg.get(s)))
        (job, jobStart.getOrDefault(job, 0L), wall,
          aggs.map(_.tasks).sum, aggs.map(_.runMs).sum,
          aggs.map(_.maxTaskMs).maxOption.getOrElse(0L),
          Option(jobSite.get(job)).getOrElse(""))
      }
      jobWallMs.clear(); stageOfJob.clear(); stageAgg.clear(); jobSite.clear()
      jobStart.clear()
      out
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir  = args(1)
    val reps = if (args.length > 2) args(2).toInt else 6
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.start(Sessions.builder(s"local[$cpus]")
      // same broadcast posture as the committed Bench/ScaleBench records
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024))
    val timer = new JobTimer
    spark.sparkContext.addSparkListener(timer)

    import scala.jdk.CollectionConverters._
    def gcMillis(): Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum

    val fn    = graft.operators.Surface.registry(name).fn
    val walls = Seq.newBuilder[Double]
    for (rep <- 1 to reps) {
      graft.Bench.releaseAll(spark)
      System.gc()
      Thread.sleep(300)
      timer.drainJobs()
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      val t0Ms = System.currentTimeMillis()
      val df = fn(spark, dir)
      val loweredMs = System.currentTimeMillis()
      val n  = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val gc   = (gcMillis() - g0) / 1e3
      walls += wall
      Thread.sleep(300) // listener bus drain
      val jobs = timer.drainJobs()
      println(f"[rep $rep] wall=$wall%.3f s lower=${(loweredMs - t0Ms) / 1e3}%.3f s " +
        f"lowerJobs=${jobs.count(_._2 < loweredMs)} gc=$gc%.3f s rows=$n")
      jobs.foreach { case (job, start, w, tasks, run, maxT, site) =>
        println(f"  ${if (start < loweredMs) "lower" else "     "} job=$job%3d t0=${(start - t0Ms) / 1e3}%7.3f wall=${w / 1e3}%7.3f s  " +
          f"tasks=$tasks%4d  execRun=${run / 1e3}%8.3f s  maxTask=${maxT / 1e3}%7.3f s  $site")
      }
    }
    val warmByTime = walls.result().drop(1)
    if (warmByTime.nonEmpty) {
      val warm   = warmByTime.sorted
      val spread = (warm.last - warm.head) / warm.head
      // trailing-3 spread: the LAST reps in execution order are the most
      // JIT-converged, so their spread separates residual noise from a long
      // convergence curve (q_kql_graph_components fell across SEVEN warm
      // reps — its full-warm spread was mostly curve, not noise)
      val t3 = warmByTime.takeRight(3).sorted
      val t3Spread = if (t3.size >= 2) (t3.last - t3.head) / t3.head else 0.0
      println(f"[summary] $name warm reps=${warm.size} min=${warm.head}%.3f " +
        f"median=${warm(warm.size / 2)}%.3f max=${warm.last}%.3f spread=$spread%.2f " +
        f"trailing3_spread=$t3Spread%.2f")
    }
    spark.stop()
  }
}
