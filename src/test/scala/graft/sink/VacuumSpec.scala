package graft.sink

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSuite
import graft.types.KustoTypes

/** Vacuum cost + safety contract: the default (targeted) mode works off the
  * log's remove actions behind a persisted watermark — it never lists the
  * data directory, each run reads only commits the previous run hasn't seen,
  * and crash orphans are out of scope; `vacuum(full = true)` is the explicit
  * recursive sweep that reclaims them.
  */
class VacuumSpec extends SparkSuite {

  private val schema = StructType(Seq(StructField("id", LongType)))
  private val ts     = new Timestamp(1700000000000L)

  private def stageDf(i: Int) =
    spark.range(i * 10L, i * 10L + 5).toDF("id")
      .withColumn(KustoTypes.BlobPathColumn, lit(s"blob-$i"))
      .withColumn(KustoTypes.IngestTsColumn, lit(ts))
      .repartition(1)

  test("targeted vacuum reclaims log-named tombstones only, incrementally; full sweep catches orphans") {
    val dir = tmpDir("vacuum")
    val t   = new MirrorTable(spark, dir, "t")
    t.ensureSchema(schema, Nil)
    (1 to 3).foreach { i => t.stage(s"b$i", "g0", stageDf(i)); t.publishStaged(s"b$i", Seq("g0")) }

    // a crash orphan: staged but never published, old enough to be past any
    // retention window
    t.stage("crashed", "g0", stageDf(9))
    val orphan = new java.io.File(s"$dir/data/crashed")
    assert(orphan.exists)
    def orphanParquets() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(orphan).filter(_.getName.endsWith(".parquet"))
    }
    assert(orphanParquets().nonEmpty)

    // tombstone blob-2's file via a lineage delete
    val delV = t.deleteByLineage(Seq(("blob-2", None)))
    assert(delV > 0)

    // targeted vacuum: reclaims the tombstoned file, leaves the orphan —
    // proof it derives candidates from remove actions, not a data listing
    assert(t.vacuum(0L) == 1)
    assert(orphanParquets().nonEmpty, "targeted vacuum must not touch crash orphans")

    // incremental: a second run reads only commits past the watermark (none)
    val reads = t.logReader.commitFilesRead.get
    assert(t.vacuum(0L) == 0)
    assert(t.logReader.commitFilesRead.get == reads,
      "second targeted vacuum re-read commits below the watermark")

    // retention honored: a fresh tombstone younger than the window survives,
    // and the watermark does NOT advance past it
    t.deleteByLineage(Seq(("blob-1", None)))
    assert(t.vacuum(retainMs = 60_000L) == 0)
    assert(t.vacuum(0L) == 1, "watermark skipped a still-retained tombstone")

    // the explicit full sweep reclaims the crash orphan
    assert(t.vacuum(0L, full = true) >= 1)
    assert(orphanParquets().isEmpty)

    // live data intact throughout
    assert(t.snapshot().filter(col(KustoTypes.BlobPathColumn).isin("blob-1", "blob-2")).count() == 0)
    assert(t.snapshot().count() == 5)
  }

  test("remove without deletionTimestamp fails safe: retained, watermark stops") {
    val dir = tmpDir("vacuum-nots")
    val t   = new MirrorTable(spark, dir, "t")
    t.ensureSchema(schema, Nil)
    t.stage("b1", "g0", stageDf(1)); t.publishStaged("b1", Seq("g0"))

    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val dataFile = walk(new java.io.File(s"$dir/data"))
      .filter(_.getName.endsWith(".parquet")).head
    val rel = new java.io.File(dir).toPath.relativize(dataFile.toPath).toString

    // a foreign-log-style remove: no deletionTimestamp (this engine always
    // stamps one; Delta writers in the wild may not)
    val logDir = new java.io.File(s"$dir/_delta_log")
    val next = logDir.listFiles().map(_.getName)
      .flatMap(graft.deltalog.DeltaLogReader.extractTxId).max + 1
    val commit = new java.io.File(logDir, f"$next%020d.json")
    java.nio.file.Files.write(commit.toPath,
      s"""{"remove":{"path":"$rel","dataChange":true}}""".getBytes("UTF-8"))

    // fail-safe: the remove ages by its COMMIT FILE's modification time, so
    // inside the retention window the file survives
    assert(t.vacuum(60_000L) == 0)
    assert(dataFile.exists, "vacuum deleted a remove with no deletionTimestamp")

    // ...but it must NOT wedge the watermark forever: once the commit ages
    // past the window, the tombstone is reclaimed like any other
    assert(commit.setLastModified(System.currentTimeMillis() - 120_000L))
    assert(t.vacuum(60_000L) == 1, "aged timestamp-less remove was never reclaimed")
    assert(!dataFile.exists)
  }
}
