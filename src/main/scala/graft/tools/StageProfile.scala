package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.util.Sessions

/** Sub-phase decomposition of the staged-read floor (`StageProfile
  * <workDir> [nBlobs]`, default 100,000 — round-14 verdict ask #7:
  * mirror.stage is ~93% of the 10⁶-blob E2E; name where the per-file cost
  * actually goes). The phases are isolated with controlled reps over the
  * SAME manifest-backed scan a staging group runs, each phase a superset of
  * the previous, so the diffs attribute the cost:
  *
  *   1. `footer_only`   — count(*) on the scan: parquet answers from file
  *                        metadata, so this pays open + footer decode ONLY.
  *   2. `read_noop`     — full column scan into the noop sink: adds page
  *                        decode + row materialization, no output.
  *   3. `decorated_noop`— adds the lineage decoration (input_file_name
  *                        normalize + broadcast join + constants), no output.
  *   4. `staged_write`  — the real thing: decorated scan written as parquet
  *                        (the openCostInBytes=64k staging session packing).
  *
  * open+footer dominating would argue for a coalesced multi-group scan
  * (fewer, larger jobs); decode/write dominating names the floor as real
  * per-byte work that only fewer-bigger source files can reduce.
  */
object StageProfile {

  private def timed[T](f: => T): Double = graft.util.Timed.timed(f)._2

  def main(args: Array[String]): Unit = {
    val workDir = args(0)
    val nBlobs  = if (args.length > 1) args(1).toInt else 100000
    val cpus    = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.start(Sessions.builder(s"local[$cpus]")
      .config("spark.sql.files.openCostInBytes", (64L * 1024).toString))

    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(workDir), true)
    val table = s"$workDir/blobs"
    val genSec = timed(MetaScale.writeBlobTable(spark, table, nBlobs))

    val root = new Path(table)
    val seedLen = fs.getFileStatus(new Path(root, "blob-0000000.parquet")).getLen
    val physicalSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))

    def scan(): DataFrame =
      org.apache.spark.sql.graftbridge.GraftManifestScan.parquet(
        spark, physicalSchema,
        (0 until nBlobs).map(i => org.apache.spark.sql.graftbridge.GraftManifestScan
          .status(new Path(root, f"blob-$i%07d.parquet"), seedLen)))

    def decorated(): DataFrame = {
      import spark.implicits._
      val mapping = (0 until nBlobs).map { i =>
        val rel = f"blob-$i%07d.parquet"
        (graft.sink.MirrorTable.normalizePath(new Path(root, rel).toString), rel)
      }.toDF("_abs", "MLK_BlobPath")
      scan()
        .withColumn("_abs", graft.sink.MirrorTable.normalizePathCol(input_file_name()))
        .join(broadcast(mapping), Seq("_abs"), "left")
        .drop("_abs")
        .withColumn("p", lit("0"))
        .withColumn("MLK_IngestTs", lit(new java.sql.Timestamp(0L)))
    }

    // two reps per phase, min — first rep also warms the FS cache, which is
    // the honest steady-state for a profile isolating CPU-side cost
    def best(f: => Unit): Double = math.min(timed(f), timed(f))

    // global warm-up: one full decorated pass BEFORE any phase is timed, so
    // JIT/classloading of the whole read stack lands on no phase's clock
    // (the 30k shakedown run attributed all warm-up to whichever phase ran
    // first and went nonsensically negative on the diffs)
    decorated().write.format("noop").mode("overwrite").save()

    val footerSec = best { require(scan().count() == nBlobs * 10L) }
    val noopSec = best {
      scan().write.format("noop").mode("overwrite").save()
    }
    val decoSec = best {
      decorated().write.format("noop").mode("overwrite").save()
    }
    val outDir = s"$workDir/staged"
    val writeSec = best {
      fs.delete(new Path(outDir), true)
      decorated().write.mode("overwrite").parquet(outDir)
    }
    println(
      f"""{"metric":"stage_floor_sec","value":$writeSec%.3f,"unit":"sec","n_blobs":$nBlobs,""" +
      f""""gen_sec":$genSec%.3f,""" +
      f""""phases":{"footer_only":$footerSec%.3f,""" +
      f""""read_noop":$noopSec%.3f,""" +
      f""""decorated_noop":$decoSec%.3f,""" +
      f""""staged_write":$writeSec%.3f},""" +
      f""""attribution":{"open_footer":$footerSec%.3f,""" +
      f""""page_decode_materialize":${noopSec - footerSec}%.3f,""" +
      f""""lineage_decoration":${decoSec - noopSec}%.3f,""" +
      f""""output_write":${writeSec - decoSec}%.3f}}""")
    spark.stop()
  }
}
