package graft.deltalog

import java.time.Instant

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.txlog.{InternalState, TransactionItem, TxAction, TxLog, TxState}

class DeltaLogReaderSpec extends SparkSuite {
  import spark.implicits._

  private val idSchema = StructType(Seq(StructField("id", LongType)))

  test("commit write → read round-trip: metadata, adds, stats, partition values") {
    val dir = tmpDir("delta")
    val fx  = new TestDelta(spark, dir, "roundtrip")
    fx.init(idSchema, Seq("year"))
    val rel = fx.addCommit(spark.range(5).toDF("id"), Map("year" -> "1994"))

    val reader  = new DeltaLogReader(spark, dir, "roundtrip")
    val commits = reader.listCommits()
    assert(commits.map(_._1) == Seq(0L, 1L))
    val logs = reader.readCommits(commits)
    assert(logs.size == 2)

    val m = logs.head.metadata.get
    assert(m.schema.get.map(_.name) == Seq("id"))
    assert(m.partitionColumns.contains(Seq("year")))
    assert(m.internalState.deltaTableName.contains("roundtrip"))

    val add = logs(1).adds.head
    assert(add.blobPath.contains(rel))
    assert(add.recordCount.contains(5L))
    assert(add.partitionValues.contains(Map("year" -> "1994")))
    assert(add.size.exists(_ > 0))
    assert(add.state == TxState.Initial && add.action == TxAction.Add)
  }

  test("checkpoint parquet bootstrap (O1) folds to the live set") {
    val dir = tmpDir("delta")
    val fx  = new TestDelta(spark, dir, "ckpt")
    fx.init(idSchema)
    val f0 = fx.addCommit(spark.range(3).toDF("id"))
    fx.addCommit(spark.range(3, 6).toDF("id"))
    fx.replaceCommit(f0, spark.range(1, 3).toDF("id")) // delete id=0
    val v = fx.checkpoint()
    assert(v == 3L)

    val reader = new DeltaLogReader(spark, dir, "ckpt")
    assert(reader.readLastCheckpoint().map(_.version).contains(3L))
    val cum = reader.readCheckpoint(3L, startTxId = 0L)
    assert(cum.metadata.nonEmpty)
    assert(cum.adds.size == 2)                 // f1 + rewritten f0'
    assert(!cum.adds.exists(_.blobPath.contains(f0)))

    // cold-start nextBatch goes through the checkpoint, not 4 commits
    val batch = reader.nextBatch(None).get
    assert(batch.adds.size == 2)
    assert(batch.endTxId == 3L)
  }

  test("multi-part checkpoint (the 100 TB form) bootstraps identically") {
    val dir = tmpDir("delta")
    val fx  = new TestDelta(spark, dir, "ckpt_mp")
    fx.init(idSchema)
    val f0 = fx.addCommit(spark.range(3).toDF("id"))
    fx.addCommit(spark.range(3, 6).toDF("id"))
    fx.replaceCommit(f0, spark.range(1, 3).toDF("id"))
    val v = fx.checkpoint(numParts = 3)
    assert(v == 3L)

    // protocol naming: <v>.checkpoint.<i>.<n>.parquet, one file per part
    val fs    = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new Path(dir, "_delta_log")).map(_.getPath.getName)
    val partNames = names.filter(_.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
    assert(partNames.length == 3)
    assert(!names.contains(f"${3L}%020d.checkpoint.parquet"))

    val reader = new DeltaLogReader(spark, dir, "ckpt_mp")
    assert(reader.readLastCheckpoint().map(_.version).contains(3L))
    val cum = reader.readCheckpoint(3L, startTxId = 0L)
    assert(cum.metadata.nonEmpty)
    assert(cum.adds.size == 2)
    assert(!cum.adds.exists(_.blobPath.contains(f0)))
    val batch = reader.nextBatch(None).get
    assert(batch.adds.size == 2 && batch.endTxId == 3L)

    // a PARTIAL multi-part set (crash mid-rename, or a concurrent poll) must
    // be refused, not silently read as the whole table
    val firstPart = partNames.sorted.head
    val victim    = new Path(new Path(dir, "_delta_log"), firstPart)
    val bytes     = org.apache.commons.io.IOUtils.toByteArray(fs.open(victim))
    fs.delete(victim, false)
    val e = intercept[IllegalArgumentException](reader.readCheckpoint(3L, startTxId = 0L))
    assert(e.getMessage.contains("Incomplete or mixed checkpoint"), e.getMessage)
    val out = fs.create(victim, true)
    try out.write(bytes) finally out.close()

    // re-checkpointing the same version with a different part count must
    // not leave both naming forms behind (the prefix glob would then
    // double-count every action)
    assert(fx.checkpoint(numParts = 1) == 3L)
    val after = fs.listStatus(new Path(dir, "_delta_log")).map(_.getPath.getName)
      .filter(n => n.contains(".checkpoint") && n.endsWith(".parquet"))
    assert(after.toSeq == Seq(f"${3L}%020d.checkpoint.parquet"), after.toSeq)
    assert(reader.readCheckpoint(3L, startTxId = 0L).adds.size == 2)
  }

  test("mixed single-file + multi-part checkpoint set is refused") {
    val dir = tmpDir("delta")
    val fx  = new TestDelta(spark, dir, "ckpt_mix")
    fx.init(idSchema)
    fx.addCommit(spark.range(2).toDF("id"))
    fx.addCommit(spark.range(2, 4).toDF("id"))
    assert(fx.checkpoint(numParts = 3) == 2L)
    val logDir = new Path(dir, "_delta_log")
    val fs     = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partNames = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(_.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet")).sorted
    val saved = partNames.map { n =>
      n -> org.apache.commons.io.IOUtils.toByteArray(fs.open(new Path(logDir, n)))
    }
    // re-checkpoint to the single-file form, then resurrect parts 2..3 of 3:
    // {v.checkpoint.parquet, part2/3, part3/3} = 3 files with declared n=3 —
    // a COUNT-only integrity check would read this and double-count actions
    assert(fx.checkpoint(numParts = 1) == 2L)
    saved.drop(1).foreach { case (n, bytes) =>
      val out = fs.create(new Path(logDir, n), true)
      try out.write(bytes) finally out.close()
    }
    val reader = new DeltaLogReader(spark, dir, "ckpt_mix")
    val e = intercept[IllegalArgumentException](reader.readCheckpoint(2L, startTxId = 0L))
    assert(e.getMessage.contains("Incomplete or mixed checkpoint"), e.getMessage)
  }

  test("fullSnapshot survives log-retention cleanup (checkpoint, zero commit JSONs)") {
    val dir = tmpDir("delta")
    val fx  = new TestDelta(spark, dir, "ckpt_ret")
    fx.init(idSchema)
    fx.addCommit(spark.range(3).toDF("id"))
    fx.addCommit(spark.range(3, 5).toDF("id"))
    fx.checkpoint()
    // real Delta log retention: expired commit JSONs removed, checkpoint kept
    val logDir = new Path(dir, "_delta_log")
    val fs     = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.matches("\\d{20}\\.json"))
      .foreach(p => fs.delete(p, false))
    val reader = new DeltaLogReader(spark, dir, "ckpt_ret")
    val snap = reader.fullSnapshot()
    assert(snap.nonEmpty, "table with a checkpoint but no commit JSONs is not empty")
    assert(snap.get.adds.size == 2)
  }

  test("corrupt and zero-record commit files are refused, not read as empty") {
    val dir = tmpDir("delta")
    val fx  = new TestDelta(spark, dir, "torn")
    fx.init(idSchema)
    fx.addCommit(spark.range(3).toDF("id"))
    val logDir = new Path(dir, "_delta_log")
    val fs     = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // malformed JSON line → corrupt-record refusal
    val badJson = new Path(logDir, f"${2L}%020d.json")
    val o1 = fs.create(badJson, true)
    try o1.write("{not json at all".getBytes) finally o1.close()
    val reader = new DeltaLogReader(spark, dir, "torn")
    val e1 = intercept[IllegalStateException](reader.nextBatch(None))
    assert(e1.getMessage.contains("Corrupt Delta commit JSON"), e1.getMessage)

    // zero-byte commit (torn write) → zero-record refusal; with an explicit
    // schema this would otherwise silently fold to "no engine actions"
    fs.delete(badJson, false)
    val o2 = fs.create(badJson, true)
    o2.close()
    val e2 = intercept[IllegalStateException](reader.nextBatch(None))
    assert(e2.getMessage.contains("contains no JSON records"), e2.getMessage)
  }

  test("gap in the commit log fails loudly") {
    val dir = tmpDir("delta")
    val fx  = new TestDelta(spark, dir, "gap")
    fx.init(idSchema)
    fx.addCommit(spark.range(1).toDF("id"))
    fx.addCommit(spark.range(1, 2).toDF("id"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(dir, "_delta_log/" + f"${1L}%020d" + ".json"), false))
    val reader = new DeltaLogReader(spark, dir, "gap")
    val e = intercept[IllegalArgumentException](reader.nextBatch(None))
    assert(e.getMessage.contains("gap"))
  }

  test("protocol gate: reader version 1 accepted, deletion-vector era refused") {
    val dir = tmpDir("delta")
    val fx  = new TestDelta(spark, dir, "proto")
    fx.init(idSchema)
    val w = new DeltaLogWriter(spark, dir)
    w.commit(Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""))
    val reader = new DeltaLogReader(spark, dir, "proto")
    // v1 protocol action is benign
    reader.readCommits(reader.listCommits())

    w.commit(Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}"""))
    val e = intercept[Exception] {
      reader.readCommits(reader.listCommits())
    }
    assert(e.getMessage.contains("minReaderVersion=3"), e.getMessage)
  }

  test("non-parquet provider is rejected") {
    val dir = tmpDir("delta")
    val w   = new DeltaLogWriter(spark, dir)
    val bad = w.metaDataAction("id0", "bad", idSchema, Nil)
      .replace("\"provider\":\"parquet\"", "\"provider\":\"csv\"")
    w.commit(Seq(bad))
    val reader = new DeltaLogReader(spark, dir, "bad")
    val e = intercept[Exception](reader.readCommits(reader.listCommits()))
    assert(e.getMessage.contains("parquet"))
  }

  test("optimistic concurrency: losing a commit race fails, retry lands on next version") {
    val dir = tmpDir("delta")
    val fx  = new TestDelta(spark, dir, "race")
    fx.init(idSchema)
    // simulate a concurrent writer owning version 1
    val w2 = new DeltaLogWriter(spark, dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stolen = new Path(dir, "_delta_log/" + f"${1L}%020d" + ".json")
    val out = fs.create(stolen, false)
    out.write("""{"commitInfo":{"operation":"CONCURRENT"}}""".getBytes); out.close()
    // our writer computes nextVersion=2 (sees the stolen commit) — no clash
    val v = fx.writer.commit(Seq(fx.writer.addAction("x.parquet", 1L, Map.empty, Some(1L))))
    assert(v == 2L)
    // but a rename onto an existing version must fail, not overwrite
    intercept[Exception] {
      val name = f"${2L}%020d.json"
      val tmp  = new Path(dir, s"_delta_log/.$name.tmp-test")
      val o2   = fs.create(tmp, false)
      o2.write("{}".getBytes); o2.close()
      if (!fs.rename(tmp, new Path(dir, s"_delta_log/$name")))
        throw new IllegalStateException("Commit conflict")
    }
  }

  test("commitInfo-only commits are skipped but the batch still advances") {
    // one more input: a streaming writer's txn, alone and beside the adds,
    // changes no batch and reaches the snapshot
    val runs = Seq(false, true).map { withTxn =>
      val fx = new TestDelta(spark, tmpDir("delta"), "noop")
      fx.init(idSchema)
      def txn(v: Long) = if (withTxn) Seq(fx.writer.txnAction("writer", v)) else Nil
      fx.writer.commit("""{"commitInfo":{"operation":"VACUUM START"}}""" +: txn(1))
      fx.writer.commit(fx.writer.addAction("a.parquet", 1L, Map.empty, Some(2L)) +: txn(2))
      val reader = new DeltaLogReader(spark, fx.dir, "noop")
      val batch  = reader.nextBatch(None).get
      assert(batch.adds.size == 1)
      assert(batch.startTxId == 0L && batch.endTxId == 2L)
      // the two logs differ only in table id and write times
      val items = stable(batch.allItems).map(_.copy(deltaTimestamp = None, internalState = InternalState.empty))
      (items, reader.fullSnapshot().get.txns)
    }
    assert(runs(1)._1 == runs(0)._1)
    assert(runs.map(_._2) == Seq(Map.empty, Map("writer" -> 2L)))
  }

  // ---- driver-side commit parse ------------------------------------------
  //
  // The oracle is the job-based reader the driver parse replaced:
  // `spark.read.json` with the action schema and a PERMISSIVE corrupt-record
  // column, rows mapped through the checkpoint path's row mapping. Every
  // commit of every log must yield the same items; every record the JSON
  // source marks corrupt must be refused.

  private def oracle(reader: DeltaLogReader, commits: Seq[(Long, Path)]): Map[Long, Seq[TransactionItem]] = {
    val byFile = commits.map { case (tx, p) => p.getName -> tx }.toMap
    val rows = spark.read
      .schema(DeltaLogReader.ActionSchema.add("_corrupt", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(commits.map(_._2.toUri.toString): _*)
      .withColumn("_file", input_file_name())
      .collect()
    assert(rows.forall(_.isNullAt(rows.head.fieldIndex("_corrupt"))))
    rows.toSeq
      .groupBy(r => byFile(new Path(r.getAs[String]("_file")).getName))
      .map { case (tx, rs) => tx -> rs.flatMap(reader.rowItems(_, tx, tx)) }
  }

  private def stable(items: Seq[TransactionItem]) = items.map(_.copy(mirrorTimestamp = Instant.EPOCH))

  private def assertMatchesOracle(dir: String, name: String): Int = {
    val reader  = new DeltaLogReader(spark, dir, name)
    val commits = reader.listCommits()
    val want    = oracle(reader, commits)
    val got     = reader.readCommits(commits)
    assert(got.map(_.startTxId) == commits.map(_._1).filter(tx => want(tx).nonEmpty))
    got.foreach(l => assert(stable(l.allItems) == stable(TxLog(want(l.startTxId)).allItems)))
    got.size
  }

  test("driver parse equals the spark.read.json oracle on fixture and sink logs") {
    // source fixture: partitioned metadata, adds with stats, a remove with
    // and one without partition values, non-engine action lines
    val src = tmpDir("parse-src")
    val fx  = new TestDelta(spark, src, "src")
    fx.init(idSchema, Seq("year"))
    val f0 = fx.addCommit(spark.range(5).toDF("id"), Map("year" -> "1994"))
    val f1 = fx.addCommit(spark.range(5, 8).toDF("id"), Map("year" -> "1995"))
    fx.replaceCommit(f0, spark.range(1, 5).toDF("id"), Map("year" -> "1994"))
    fx.removeCommit(f1)
    fx.writer.commit(Seq(
      """{"commitInfo":{"operation":"WRITE","operationParameters":{"mode":"Append"}}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"txn":{"appId":"app","version":3,"lastUpdated":1700000000000}}""",
      """{"add":{"path":"x.parquet","partitionValues":{"year":null},"size":7,""" +
        """"modificationTime":1,"dataChange":true,"stats":"{\"numRecords\":2}",""" +
        """"tags":{"k":"v","n":3}}}"""))
    fx.writer.commit(Seq("""{"commitInfo":{"operation":"VACUUM END"}}"""))
    assert(assertMatchesOracle(src, "src") == 6)

    // the mirror sink's own log: lineage + stats tags, delete rewrites
    val sinkDir = tmpDir("parse-sink")
    val t = new graft.sink.MirrorTable(spark, sinkDir, "sink")
    t.ensureSchema(idSchema, Nil)
    (1 to 3).foreach { i =>
      t.stage(s"b$i", "g0", spark.range(i * 10L, i * 10L + 4).toDF("id")
        .withColumn(graft.types.KustoTypes.BlobPathColumn,
          org.apache.spark.sql.functions.lit(s"blob-$i"))
        .withColumn(graft.types.KustoTypes.IngestTsColumn,
          org.apache.spark.sql.functions.lit(new java.sql.Timestamp(0L))), statsColumns = Seq("id"))
      t.publishStaged(s"b$i", Seq("g0"), "test", i)
    }
    t.deleteByLineage(Seq(("blob-2", None)), statsColumns = Seq("id"))
    assert(assertMatchesOracle(sinkDir, "sink") == 5)

    // the synthetic 10⁶-scale layout's trailing commits
    val ms = tmpDir("parse-ms")
    graft.tools.MetaScale.writeSyntheticLog(spark, ms, n = 10, trailingCommits = 3, addsPerCommit = 7)
    assert(assertMatchesOracle(ms, "ms") == 3)
  }

  test("wrong-typed fields, non-object lines and blank files are refused") {
    val dir    = tmpDir("parse-bad")
    val fx     = new TestDelta(spark, dir, "bad")
    fx.init(idSchema)
    val logDir = new Path(dir, "_delta_log")
    val fs     = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commit = new Path(logDir, f"${1L}%020d.json")
    def put(body: String): Unit = {
      val out = fs.create(commit, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val reader = new DeltaLogReader(spark, dir, "bad")
    def refusal(body: String): String = {
      put(body)
      intercept[IllegalStateException](reader.readCommits(reader.listCommits())).getMessage
    }
    def corruptInOracle(body: String): Boolean = {
      put(body)
      spark.read.schema(DeltaLogReader.ActionSchema.add("_corrupt", StringType))
        .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
        .json(commit.toString).collect().exists(r => !r.isNullAt(r.fieldIndex("_corrupt")))
    }

    // a string where add.size holds a long: the JSON source marks the
    // record corrupt, so the driver parse must refuse it too
    val badSize = """{"add":{"path":"a.parquet","partitionValues":{},"size":"12",""" +
      """"modificationTime":1,"dataChange":true}}"""
    assert(corruptInOracle(badSize))
    val e1 = refusal(badSize)
    assert(e1.contains("Corrupt Delta commit JSON") && e1.contains("size"), e1)
    // a string where txn.version holds a long
    val badTxn = """{"txn":{"appId":"app","version":"3","lastUpdated":1}}"""
    assert(corruptInOracle(badTxn))
    val e2 = refusal(badTxn)
    assert(e2.contains("Corrupt Delta commit JSON") && e2.contains("version"), e2)
    val badStruct = """{"add":5}"""
    assert(corruptInOracle(badStruct))
    assert(refusal(badStruct).contains("Corrupt Delta commit JSON"))

    // lines that are not JSON objects
    Seq("42", "\"add\"", "[1,2]", "{\"add\":").foreach { line =>
      val e = refusal(s"""{"commitInfo":{}}\n$line\n""")
      assert(e.contains("Corrupt Delta commit JSON"), s"$line: $e")
    }

    // blank and whitespace-only files are torn writes, not empty commits
    Seq("", "\n", "  \n\t\n").foreach { body =>
      val e = refusal(body)
      assert(e.contains("contains no JSON records"), s"'$body': $e")
    }
  }

  test("a one-commit poll parses the log without a Spark job") {
    val dir = tmpDir("parse-jobs")
    val fx  = new TestDelta(spark, dir, "jobs")
    fx.init(idSchema)
    fx.addCommit(spark.range(3).toDF("id"))
    val reader  = new DeltaLogReader(spark, dir, "jobs")
    val applied = reader.nextBatch(None).get
    fx.addCommit(spark.range(3, 6).toDF("id"))
    val (batch, jobs) = jobsDuring(reader.nextBatch(Some(applied)))
    assert(batch.exists(b => b.startTxId == 2L && b.adds.size == 1))
    assert(jobs == 0, s"nextBatch launched $jobs Spark job(s)")
  }
}
