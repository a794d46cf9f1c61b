package graft.util

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkSuite

/** `Sessions` is the only session builder: its rules (UTC, the graft
  * extensions, NANOS-as-long reads, N shuffle partitions for `local[N]`)
  * hold on what it builds, and no other source file builds a session of its
  * own, so no entry point can drift from the configuration the tests run.
  */
class SessionsSpec extends SparkSuite {

  test("a local[3] session is UTC, has the extensions, reads NANOS as long and shuffles into 3") {
    spark // the suite's shared session owns the SparkContext; this one joins it
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = try Sessions.start("local[3]") finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(s ne spark)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.extensions") == "graft.GraftSessionExtensions")
    assert(s.sql("SELECT rolling_hash('abcdef') AS h").schema.fieldNames.toSeq == Seq("h"))
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
  }

  test("no source file but Sessions.scala builds a SparkSession") {
    val self   = Paths.get("src/main/scala/graft/util/Sessions.scala")
    val needle = "SparkSession" + ".builder(" // split so this file does not match itself
    val scala  = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(scala.contains(self))
    val builders = for {
      p <- scala if p != self
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex if line.contains(needle)
    } yield s"$p:${i + 1}"
    assert(builders.isEmpty, s"build sessions with graft.util.Sessions: ${builders.mkString(", ")}")
  }
}
