package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, `Test / fork := true`). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** `f`'s result and the number of Spark jobs it started. Listener events
    * arrive asynchronously, so two marker jobs fence the count: jobs are
    * counted between the begin marker's start event and the end marker's.
    */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc    = spark.sparkContext
    val fence = s"jobs-fence-${java.util.UUID.randomUUID()}"
    val jobs  = new AtomicInteger
    val open  = new AtomicBoolean
    val done  = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")).orNull match {
          case d if d == s"$fence-begin" => open.set(true)
          case d if d == s"$fence-end"   => open.set(false); done.countDown()
          case _                         => if (open.get) jobs.incrementAndGet()
        }
    }
    def marker(tag: String): Unit = {
      sc.setJobDescription(s"$fence-$tag")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("begin")
      val out = f
      marker("end")
      assert(done.await(60, TimeUnit.SECONDS), "end marker job never reached the listener")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  override protected def afterAll(): Unit = {
    // minHashNearDups persists shingle-set frames; the shared session lives
    // for the whole test JVM, so release per suite to bound executor memory
    graft.functions.DedupFunctions.releaseCaches()
    super.afterAll()
  }
}

object SparkSuite {
  lazy val session: SparkSession = graft.util.Sessions.start("local[4]")
}
