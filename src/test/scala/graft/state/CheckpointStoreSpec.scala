package graft.state

import java.time.Instant

import graft.SparkSuite
import graft.txlog._

class CheckpointStoreSpec extends SparkSuite {

  private val T0 = Instant.parse("2026-02-03T04:05:06.789Z")

  private def fullItem: TransactionItem = TransactionItem(
    tableName = "t,with\"nasty\nname",
    startTxId = 3, endTxId = 7,
    action = TxAction.Add, state = TxState.Staged,
    mirrorTimestamp = T0,
    deltaTimestamp = Some(T0.plusSeconds(1)),
    blobPath = Some("""part-00000,"quoted".parquet"""),
    partitionValues = Some(Map("year" -> "1994", "evil" -> "a,\"b\"\nc")),
    size = Some(12345L), recordCount = Some(678L),
    partitionColumns = Some(Seq("year", "evil")),
    schema = Some(Seq(ColumnSpec("id", "BIGINT"), ColumnSpec("s", "STRING"))),
    internalState = InternalState(
      creationTime = Some(T0), ingestionTime = Some("2026-02-03T04:05:06Z"),
      stagingTableName = Some("stg-1"), deltaTableId = Some("uuid-1"),
      deltaTableName = Some("src")))

  test("CSV round-trip survives commas, quotes and newlines (JSON-in-CSV)") {
    val store = new CheckpointStore(spark, tmpDir("ckpt"))
    store.append(Seq(fullItem))
    val back = store.readAll()
    assert(back == Seq(fullItem))
  }

  test("last-wins dedup and compaction") {
    val store = new CheckpointStore(spark, tmpDir("ckpt"))
    val a = fullItem
    val a2 = a.withState(TxState.Done, T0.plusSeconds(60))
    val b = a.copy(blobPath = Some("other.parquet"))
    store.append(Seq(a))
    store.append(Seq(b, a2))
    assert(store.readRaw().size == 3)
    assert(store.readAll().toSet == Set(a2, b))
    store.compact()
    assert(store.readRaw().size == 2)
    assert(store.readAll().toSet == Set(a2, b))
  }

  test("append hands back each table's folded view, None when the store changed under it") {
    val dir   = tmpDir("ckpt-appendview")
    val store = new CheckpointStore(spark, dir)
    val a  = fullItem.copy(tableName = "t1", blobPath = Some("a.parquet"))
    val b  = fullItem.copy(tableName = "t2", blobPath = Some("b.parquet"))
    val a2 = a.withState(TxState.Done, T0.plusSeconds(5))
    assert(store.append(Seq(a, b)).contains(Map("t1" -> Vector(a), "t2" -> Vector(b))))
    val view = store.append(Seq(a2, a.copy(blobPath = Some("c.parquet")))).get
    CheckpointStore.invalidateCache() // the view must equal a fresh parse
    assert(view.keySet == Set("t1", "t2"))
    view.foreach { case (t, items) => assert(items == store.readTable(t), t) }

    // a segment this store's cache never saw: the append cannot extend the
    // cached parse, so it hands back nothing and the caller re-reads
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "index.csv.seg-000099-elsewhere"),
      (CheckpointStore.Header + "\n" + CheckpointStore.toCsvLine(b.withState(TxState.Done, T0)) +
        "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(store.append(Seq(a.withState(TxState.Skipped, T0))).isEmpty)
    assert(store.readTable("t2") == Seq(b.withState(TxState.Done, T0)))
  }

  test("concurrent appenders/compactors through two store instances lose nothing") {
    // the multi-table + parallel-staging write pattern: several threads,
    // SEPARATE CheckpointStore instances on one index path (the JVM-global
    // per-path lock is what makes this safe — instance locks would not be)
    val dir    = tmpDir("ckpt-conc")
    val storeA = new CheckpointStore(spark, dir)
    val storeB = new CheckpointStore(spark, dir)
    val base   = fullItem
    val items = for (t <- 0 until 8; i <- 0 until 25) yield base.copy(
      tableName = s"tbl$t", startTxId = i.toLong, endTxId = i.toLong,
      blobPath = Some(s"blob-$t-$i.parquet"))
    graft.util.BoundedPar.run(items.grouped(25).toSeq.zipWithIndex, 8) {
      case (group, gi) =>
        val store = if (gi % 2 == 0) storeA else storeB
        group.foreach { it =>
          store.append(Seq(it))
          if (it.startTxId % 10 == 0) store.compact() // racing compactions
        }
    }
    val all = storeA.readAll()
    assert(all.size == 200, s"lost updates: ${all.size} of 200 rows survived")
    assert(all.map(_.blobPath.get).toSet.size == 200)
  }

  test("cache detects an external same-length same-mtime rewrite (fingerprint)") {
    val dir   = tmpDir("ckpt-fp")
    val store = new CheckpointStore(spark, dir)
    val a = fullItem.copy(tableName = "t", blobPath = Some("aaaa.parquet"))
    store.append(Seq(a))
    store.compact() // fold the segment into the BASE the rewrite targets
    assert(store.readAll() == Seq(a)) // warm the cache

    // out-of-process rewrite: same byte length, different content, and the
    // mtime pinned back to the cached tick — (len, mtime) alone would serve
    // the stale parse; the head/tail fingerprint must not
    val idx   = java.nio.file.Paths.get(dir, "index.csv")
    val mtime = java.nio.file.Files.getLastModifiedTime(idx)
    val text  = new String(java.nio.file.Files.readAllBytes(idx),
      java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(idx, text.replace("aaaa.parquet", "bbbb.parquet")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.setLastModifiedTime(idx, mtime)
    // a non-Hadoop external writer leaves no CRC sidecar — drop the stale
    // one so the checksum layer skips and the FINGERPRINT is what detects
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, ".index.csv.crc"))

    assert(store.readAll().head.blobPath.contains("bbbb.parquet"),
      "cache served stale state past an external rewrite")
  }

  test("fingerprint covers the BASE too, not just the newest segment (r14 review)") {
    val dir   = tmpDir("ckpt-fp-base")
    val store = new CheckpointStore(spark, dir)
    val a = fullItem.copy(tableName = "t", blobPath = Some("aaaa.parquet"))
    val b = fullItem.copy(tableName = "t", blobPath = Some("bbbb.parquet"))
    store.append(Seq(a))
    store.compact()          // a → BASE
    store.append(Seq(b))     // b → a newer SEGMENT after the base
    assert(store.readAll().toSet == Set(a, b)) // warm the cache

    // external same-length same-mtime rewrite of the BASE while the newest
    // file (the segment) is untouched — a newest-file-only probe would miss it
    val idx   = java.nio.file.Paths.get(dir, "index.csv")
    val mtime = java.nio.file.Files.getLastModifiedTime(idx)
    val text  = new String(java.nio.file.Files.readAllBytes(idx),
      java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(idx, text.replace("aaaa.parquet", "cccc.parquet")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.setLastModifiedTime(idx, mtime)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".index.csv.crc"))

    assert(store.readAll().map(_.blobPath.get).toSet == Set("cccc.parquet", "bbbb.parquet"),
      "cache served a stale BASE past an external rewrite")
  }

  test("compactIfNeeded folds only past the garbage ratio (r14 verdict #1)") {
    val store = new CheckpointStore(spark, tmpDir("ckpt-gc"))
    assert(!store.compactIfNeeded(), "empty store must be a no-op")

    val adds = (0 until 100).map(i => fullItem.copy(tableName = "t",
      startTxId = i.toLong, endTxId = i.toLong, blobPath = Some(s"b-$i.parquet")))
    store.append(adds)
    store.compact() // base = 100 live rows
    assert(!store.compactIfNeeded(), "segment-free store must not rewrite")

    // 50 key overwrites: raw 150 < 2.0 × base 100 → segment retained
    store.append(adds.take(50).map(_.withState(TxState.QueuedForIngestion, T0.plusSeconds(10))))
    assert(!store.compactIfNeeded(), "compacted below the garbage ratio")
    assert(store.readRaw().size == 150, "premature base rewrite")

    // 60 more overwrites: raw 210 ≥ 2.0 × 100 → trigger fires, garbage gone
    store.append(adds.take(60).map(_.withState(TxState.Done, T0.plusSeconds(20))))
    assert(store.compactIfNeeded(), "garbage ratio exceeded but not compacted")
    assert(store.readRaw().size == 100)
    assert(store.readAll().count(_.state == TxState.Done) == 60)
    assert(!store.compactIfNeeded(), "fresh base must reset the trigger")
  }

  test("foreign-writer stamp turns interleaved cross-process writes loud (r14 verdict #3)") {
    val dir   = tmpDir("ckpt-owner")
    val store = new CheckpointStore(spark, dir)
    val a = fullItem.copy(tableName = "t", blobPath = Some("own-a.parquet"))
    val b = fullItem.copy(tableName = "t", blobPath = Some("own-b.parquet"))
    store.append(Seq(a)) // this process takes ownership

    // another PROCESS writes the store: on disk that is exactly an owner
    // marker carrying a different process id (plus whatever state it wrote)
    val owner = java.nio.file.Paths.get(dir, "index.csv.owner")
    assert(java.nio.file.Files.exists(owner), "first write must stamp ownership")
    java.nio.file.Files.write(owner,
      "deadbeef@99999,7".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, ".index.csv.owner.crc"))

    // interleaved write from this process → LOUD, nothing silently lost
    val e = intercept[java.util.ConcurrentModificationException](store.append(Seq(b)))
    assert(e.getMessage.contains("another process"), e.getMessage)
    intercept[java.util.ConcurrentModificationException](store.compact())

    // reads stay available (the marker only guards mutation)
    assert(store.readAll() == Seq(a))

    // a FRESH process (never wrote this path) takes over silently — restart/
    // failover handover is legal; simulate by reopening under a new path id
    // is impossible in-JVM, so assert the complement: a torn/unparseable
    // marker must not brick writes either (treated as absent, re-stamped)
    java.nio.file.Files.write(owner,
      "torn".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, ".index.csv.owner.crc"))
    store.append(Seq(b))
    assert(store.readAll().toSet == Set(a, b))
  }

  test("same-number segment collision is non-destructive (r15 verdict #5)") {
    val dir   = tmpDir("ckpt-segcollide")
    val store = new CheckpointStore(spark, dir)
    val a = fullItem.copy(tableName = "t", blobPath = Some("col-a.parquet"))
    val b = fullItem.copy(tableName = "t", blobPath = Some("col-b.parquet"))
    val c = fullItem.copy(tableName = "t", blobPath = Some("col-c.parquet"))
    store.append(Seq(a)) // → index.csv.seg-000001-<thisProcessUid>

    // a FOREIGN process racing this one computes the SAME next number and
    // commits its own segment + owner stamp. Before the writer-uid suffix
    // the name was exactly `seg-000001` for both and local-FS rename
    // REPLACED this process's file — rows silently lost; now the names
    // differ by construction and both files survive.
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "index.csv.seg-000001-feign-99999"),
      (CheckpointStore.Header + "\n" + CheckpointStore.toCsvLine(b) + "\n").getBytes(utf8))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "index.csv.owner"), "feign@99999,2".getBytes(utf8))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, ".index.csv.owner.crc"))

    // BOTH same-number segments assemble on read (readers never stamp) —
    // deterministic (number, mtime, name) order, distinct keys here
    assert(store.readAll().toSet == Set(a, b), "a same-number segment was lost")

    // and the interleave is STILL detected loudly on this process's next write
    intercept[java.util.ConcurrentModificationException](store.append(Seq(c)))
  }

  test("a stray non-numeric seg-prefixed file is skipped, not a read-bricking parse error (r16 advice)") {
    val dir   = tmpDir("ckpt-straysegname")
    val store = new CheckpointStore(spark, dir)
    val a = fullItem.copy(tableName = "t", blobPath = Some("stray-a.parquet"))
    val b = fullItem.copy(tableName = "t", blobPath = Some("stray-b.parquet"))
    store.append(Seq(a))
    // a hand-dropped file outside the writer contract (`seg-NNNNNN-<uid>`):
    // before the digit filter this threw NumberFormatException from every
    // storeFiles() sort, bricking ALL reads until hand-removed
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "index.csv.seg-foo"),
      "junk".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(store.readAll() == Seq(a), "stray seg name broke reads")
    store.append(Seq(b)) // appends keep numbering from the VALID segments
    assert(store.readAll().toSet == Set(a, b))
    store.compact()
    assert(store.readAll().toSet == Set(a, b))
  }

  test("readTable equals readAll filtered under interleaved appends/compactions (r15 per-table index)") {
    val store = new CheckpointStore(spark, tmpDir("ckpt-bytable"))
    val rnd   = new scala.util.Random(15L)
    val tables = Seq("ta", "tb", "tc")
    def check(): Unit = {
      val all = store.readAll()
      tables.foreach { t =>
        assert(store.readTable(t) == all.filter(_.tableName == t),
          s"per-table view diverged for $t")
      }
      assert(store.readTable("absent").isEmpty)
    }
    (0 until 30).foreach { i =>
      val t = tables(rnd.nextInt(tables.size))
      // mix of new keys and overwrites of earlier keys within the table
      val id = if (rnd.nextBoolean() && i > 3) rnd.nextInt(i) else i
      store.append(Seq(fullItem.copy(tableName = t,
        startTxId = id.toLong, endTxId = id.toLong,
        state = if (id == i) TxState.Initial else TxState.Done,
        blobPath = Some(s"bt-$id.parquet"))))
      if (i % 7 == 3) store.compact()
      if (i % 11 == 5) { CheckpointStore.invalidateCache(); () } // cold-path parity
      check()
    }
    store.compact()
    check()
  }

  test("statusView is the arg_max dedup of the raw CSV (MLK_DeltaStatus, A1)") {
    val store = new CheckpointStore(spark, tmpDir("ckpt"))
    val a  = fullItem
    val a2 = a.withState(TxState.Done, T0.plusSeconds(60))
    val b  = a.copy(blobPath = Some("other.parquet"))
    store.append(Seq(a))
    store.append(Seq(b, a2))

    val rows = store.statusView().collect()
    assert(rows.length == 2) // 3 raw rows, last-wins per item key
    val aRow = rows.find(_.getAs[String]("BlobPath") == a.blobPath.orNull).get
    assert(aRow.getAs[String]("State") == "Done") // a2 won over a
    assert(store.statusView().columns.toSeq.take(4) ==
      Seq("KustoTableName", "StartTxId", "EndTxId", "Action"))
  }

  test("TableStatus queries: incomplete, earliest, batch, historical, schema arg_max") {
    val m0 = TransactionItem("t", 0, 0, TxAction.Schema, TxState.Done, T0,
      partitionColumns = Some(Nil), schema = Some(Seq(ColumnSpec("id", "BIGINT"))))
    val a0 = TransactionItem("t", 0, 0, TxAction.Add, TxState.Done, T0, blobPath = Some("f0"))
    val m5 = m0.copy(startTxId = 5, endTxId = 5,
      schema = Some(Seq(ColumnSpec("id", "BIGINT"), ColumnSpec("x", "STRING"))))
    val a5 = TransactionItem("t", 5, 6, TxAction.Add, TxState.Staged, T0, blobPath = Some("f5"))
    val r5 = TransactionItem("t", 5, 6, TxAction.Remove, TxState.Initial, T0, blobPath = Some("f0"))
    val st = TableStatus("t", Seq(m0, a0, m5, a5, r5))

    assert(st.isBatchIncomplete)
    assert(st.earliestIncompleteBatchTxId.contains(5L))
    assert(st.getBatch(5).adds.map(_.blobPath.get) == Seq("f5"))
    val hist = st.getHistorical(5).get
    assert(hist.adds.map(_.blobPath.get) == Seq("f0"))
    assert(st.getTableDefinition(4).get._1.fieldNames.toSeq == Seq("id"))
    assert(st.getTableDefinition(5).get._1.fieldNames.toSeq == Seq("id", "x"))
  }
}
