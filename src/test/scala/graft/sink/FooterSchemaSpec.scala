package graft.sink

import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.graftbridge.GraftManifestScan
import org.apache.spark.sql.types.LongType

import graft.SparkSuite
import graft.state.IndexStore

/** `GraftManifestScan.footerSchema` is the schema every fixture and
  * externaldata parquet read runs with, so it must be exactly what Spark's
  * non-merging inference would have given — field metadata included, under
  * either `nanosAsLong` setting — and it must fail loudly, naming the path,
  * where inference cannot answer. Lowering a registry query then starts no
  * Spark job, and loading a persisted index artifact starts only its collect.
  */
class FooterSchemaSpec extends SparkSuite {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val TestData    = "/root/testdata" // the fixture root (TESTDATA.md)

  private def footer(p: String) = GraftManifestScan.footerSchema(spark, p)

  private def withNanosAsLong[T](on: Boolean)(f: => T): T = {
    val prev = spark.conf.get(NanosAsLong)
    spark.conf.set(NanosAsLong, on.toString)
    try f finally spark.conf.set(NanosAsLong, prev)
  }

  private def assertLoud(p: String)(f: => Any): Unit = {
    val e = intercept[IllegalArgumentException](f)
    assert(e.getMessage.contains(p), e.getMessage)
  }

  /** Footer schema == inferred schema where inference succeeds; where it
    * fails, the footer read fails too (no silent schema of its own).
    */
  private def assertMatchesInference(p: String): Unit =
    Try(spark.read.parquet(p).schema) match {
      case Success(inferred) => assert(footer(p).json == inferred.json, p)
      case Failure(_)        => assertLoud(p)(footer(p))
    }

  private val fixtures: Seq[String] = for {
    sf <- Seq("sf0.001", "sf0.01", "sf0.1")
    f  <- Option(new java.io.File(s"$TestData/$sf").listFiles).toSeq.flatten.sortBy(_.getName)
    if f.getName.endsWith(".parquet")
  } yield f.getPath

  test("footer schema equals Spark's inference on every fixture table, nanosAsLong on and off") {
    assert(fixtures.size == 30, fixtures)
    for (on <- Seq(true, false)) withNanosAsLong(on)(fixtures.foreach(assertMatchesInference))
  }

  test("TIMESTAMP(NANOS) and (MICROS) encodings read the same as inference") {
    val file = s"${tmpDir("footer-nanos")}/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 ts_us (TIMESTAMP(MICROS,true));
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts", 1700000000123456789L).append("ts_us", 1700000000123456L))
    finally w.close()
    withNanosAsLong(true) {
      assert(footer(file)("ts").dataType == LongType)
      assertMatchesInference(file)
      val df = spark.read.schema(footer(file)).parquet(file)
      assert(df.head().getLong(df.schema.fieldIndex("ts")) == 1700000000123456789L)
    }
    withNanosAsLong(false)(assertMatchesInference(file))
  }

  test("a multi-part directory uses its first data file; _SUCCESS and .crc are skipped") {
    val dir = tmpDir("footer-dir")
    spark.range(0, 300, 1, 3).selectExpr("id", "cast(id as string) as s", "id * 0.5 as d")
      .write.mode("overwrite").parquet(dir)
    val names = new java.io.File(dir).list().toSet
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 3)
    assertMatchesInference(dir)
    assert(spark.read.schema(footer(dir)).parquet(dir).count() == 300L)
  }

  test("missing path, directory without data files and a non-parquet file fail naming the path") {
    val dir = tmpDir("footer-bad")
    val missing = s"$dir/absent.parquet"
    assertLoud(missing)(footer(missing))

    val empty = s"$dir/empty"
    Files.createDirectories(Paths.get(empty))
    Files.write(Paths.get(empty, "_SUCCESS"), Array.emptyByteArray)
    Files.write(Paths.get(empty, ".part-0.parquet.crc"), Array[Byte](1, 2, 3))
    assertLoud(empty)(footer(empty))

    val text = s"$dir/text.parquet"
    Files.write(Paths.get(text), "id,name\n1,a\n".getBytes("UTF-8"))
    assertLoud(text)(footer(text))
  }

  test("lowering a one-table and a two-table registry query starts no Spark job") {
    val sf = s"$TestData/sf0.01"
    for (q <- Seq("mm_audio_decode", "q4_late_orders")) {
      val (df, jobs) = jobsDuring(graft.SparkEntry.queries(q)(spark, sf))
      assert(jobs == 0, s"$q launched $jobs job(s) while lowering")
      assert(df.columns.nonEmpty)
    }
  }

  test("loading a persisted index artifact starts only its collect job, no schema inference") {
    val art   = s"${tmpDir("footer-index")}/ivf_k2"
    val cents = Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))
    assert(IndexStore.loadOrTrainCentroids(spark, art)(cents) == cents)
    val (loaded, jobs) = jobsDuring(
      IndexStore.loadOrTrainCentroids(spark, art)(fail("retrained a persisted artifact")))
    assert(loaded == cents)
    assert(jobs == 1, s"loading $art launched $jobs job(s); only the collect belongs")
  }
}
