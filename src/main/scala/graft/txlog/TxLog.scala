package graft.txlog

/** An in-memory batch of transaction items spanning one tx-id range:
  * optional schema metadata, optional staging-table marker, adds, removes,
  * and the latest Delta `txn` version per application id (`TxnData`,
  * TransactionLogEntry.cs:101-108).
  *
  * Reference: Storage/TransactionLog.cs:9-70. The algebra below
  * (`coalesce`, `delta`) is the reference's core incremental-view-maintenance
  * logic (TransactionLog.cs:72-196), re-expressed as pure Scala. It is pure
  * metadata — item counts are O(files touched), never O(rows) — so it runs on
  * the driver; the data plane (parquet bytes) never passes through it.
  */
final case class TxLog(
    metadata: Option[TransactionItem],
    stagingTable: Option[TransactionItem],
    adds: Seq[TransactionItem],
    removes: Seq[TransactionItem],
    txns: Map[String, Long] = Map.empty
) {
  require(
    metadata.nonEmpty || stagingTable.nonEmpty || adds.nonEmpty || removes.nonEmpty,
    "There are no items"
  )

  def allItems: Seq[TransactionItem] = adds ++ removes ++ metadata ++ stagingTable

  // O(1), NOT allItems.head: allItems concatenates every stream, so an
  // accessor built on it copies O(n) items PER CALL — at 10⁶ add-files the
  // checkpoint-delta's per-item tx-range stamp turned that into 10¹¹
  // element copies (261 s measured, tools.TxProfile round 12). All three
  // fields are range-constant across the log's items by construction.
  private def firstItem: TransactionItem =
    adds.headOption.orElse(removes.headOption).orElse(metadata).orElse(stagingTable)
      .getOrElse(throw new IllegalStateException("There are no items"))

  def tableName: String = firstItem.tableName
  def startTxId: Long   = firstItem.startTxId
  def endTxId: Long     = firstItem.endTxId

  /** Fold a later log into this one (J1: add⋉remove annihilation).
    *
    * A blob both added and removed within the coalesced range is dead work —
    * it is dropped from both sides and never ingested
    * (TransactionLog.cs:84-98, optimization O2 in SURVEY §4).
    *
    * Deviation from the reference: TransactionLog.cs:101-102 computes
    * `remainingRemoves` but then keeps only the *first* log's removes,
    * silently dropping `second`'s removes of blobs added before the batch.
    * We keep all non-annihilated removes — the semantically correct form
    * (a delete commit arriving in the same poll as unrelated appends must
    * still delete). A later `txn` of an application id replaces the earlier.
    */
  def coalesce(second: TxLog): TxLog = {
    val mergedMetadata = (metadata, second.metadata) match {
      case (Some(m), Some(m2)) =>
        TxLog.requireCompatibleSchema(m, m2)
        Some(m2) // later metadata wins; additive merge happens at the sink
      case (a, b) => b.orElse(a)
    }
    val allAdds     = adds ++ second.adds
    val allRemoves  = removes ++ second.removes
    val addIndex    = allAdds.flatMap(_.blobPath).toSet
    val removeIndex = allRemoves.flatMap(_.blobPath).toSet
    val newStart    = math.min(startTxId, second.startTxId)
    val newEnd      = math.max(endTxId, second.endTxId)

    val remainingAdds    = allAdds.filterNot(a => a.blobPath.exists(removeIndex))
    val remainingRemoves = allRemoves.filterNot(r => r.blobPath.exists(addIndex))
    val stagingTables = Seq(stagingTable, second.stagingTable).flatten
      .filter(_.state != TxState.Done)
    if (stagingTables.size > 1)
      throw new IllegalStateException("More than one live staging table in coalesced batch")

    TxLog(
      mergedMetadata.map(_.withTxRange(newStart, newEnd)),
      stagingTables.headOption.map(_.withTxRange(newStart, newEnd)),
      remainingAdds.map(_.withTxRange(newStart, newEnd)),
      remainingRemoves.map(_.withTxRange(newStart, newEnd)),
      txns ++ second.txns
    )
  }

  /** Incremental diff of a *cumulative* checkpoint log (`this` = C) against
    * the previously applied state (`previousLog` = P) — J2 / optimization O3.
    *
    * Reference: TransactionLog.cs:116-164.
    *   newAdds    = C.adds ∖ P.adds                      (by blob path)
    *   newRemoves = (P.adds ∖ C.adds ∖ C.removes) ∪ C.removes,
    *                resolved to P's add items (so the remove carries the
    *                original add's partition values / internal state).
    * Integrity: every P.remove must reappear in newRemoves, else the log has
    * lost history ("Log-delta missing past removes", :148-152). Schema or
    * partition-column change between P and C is refused (:153-157).
    *
    * C.removes of blobs never present in P.adds (added *and* removed entirely
    * within the checkpointed span, i.e. tombstones of dead work) are dropped —
    * there is nothing mirrored to delete.
    *
    * Returns None when the applied state is already identical to the
    * checkpoint (no new work).
    */
  def delta(previousLog: TxLog): Option[TxLog] = {
    def byPath(items: Seq[TransactionItem]): Map[String, TransactionItem] =
      items.flatMap(i => i.blobPath.map(_ -> i)).toMap

    val currentAdds     = byPath(adds)
    val previousAdds    = byPath(previousLog.adds)
    val currentRemoves  = byPath(removes)
    val previousRemoves = byPath(previousLog.removes)

    val newAdds = adds.filter(a => a.blobPath.exists(p => !previousAdds.contains(p)))
    val newRemovePaths: Set[String] =
      previousAdds.keySet.filter(p => !currentAdds.contains(p) && !currentRemoves.contains(p)) ++
        currentRemoves.keySet
    // a remove of a path never applied (added+removed entirely within the
    // checkpointed span) has nothing mirrored to delete — dropped by the
    // flatMap. Surviving removes become FRESH Remove items (state Initial);
    // resolution back to the historical add (J3) happens at load time.
    val newRemoves = newRemovePaths.toSeq.sorted.flatMap(previousAdds.get).map(a =>
      a.copy(action = TxAction.Remove, state = TxState.Initial,
        internalState = InternalState.empty))

    val broken = previousRemoves.keySet -- newRemovePaths
    if (broken.nonEmpty)
      throw new IllegalStateException(
        "Log-delta missing past removes: " + broken.toSeq.sorted.mkString(", "))

    for (pm <- previousLog.metadata; cm <- metadata)
      TxLog.requireCompatibleSchema(pm, cm)

    val stagingTables = Seq(stagingTable, previousLog.stagingTable).flatten
      .filter(_.state != TxState.Done)
    val at = (i: TransactionItem) => i.withTxRange(startTxId, endTxId)

    if (newAdds.isEmpty && newRemoves.isEmpty && stagingTables.isEmpty) None
    else Some(TxLog(None, stagingTables.headOption.map(at), newAdds.map(at), newRemoves.map(at)))
  }
}

object TxLog {

  /** Partition a flat item list into the four action streams (P10,
    * TransactionLog.cs:30-37).
    */
  def apply(items: Seq[TransactionItem]): TxLog =
    TxLog(
      items.find(_.action == TxAction.Schema),
      items.find(_.action == TxAction.StagingTable),
      items.filter(_.action == TxAction.Add),
      items.filter(_.action == TxAction.Remove)
    )

  /** n-ary fold in tx order (U2, TransactionLog.cs:166-196). */
  def coalesce(logs: Seq[TxLog]): TxLog = {
    require(logs.nonEmpty, "Should contain at least one log")
    logs.reduceLeft(_.coalesce(_))
  }

  /** Schema-change policy (TransactionLog.cs:153-157, relaxed): the
    * reference refuses ANY change; we allow *additive* evolution (every
    * previous column kept with its type) since the sink's create-merge
    * handles it (S14), and refuse repartitioning or type changes.
    */
  private[txlog] def requireCompatibleSchema(
      prev: TransactionItem, cur: TransactionItem): Unit = {
    if (prev.partitionColumns != cur.partitionColumns)
      throw new IllegalStateException(
        s"Schema changed unsupported: partition columns ${prev.partitionColumns} -> ${cur.partitionColumns}")
    val curCols = cur.schema.getOrElse(Seq.empty).map(c => c.name -> c.dataType).toMap
    prev.schema.getOrElse(Seq.empty).foreach { c =>
      if (!curCols.get(c.name).contains(c.dataType))
        throw new IllegalStateException(
          s"Schema changed unsupported: column ${c.name}:${c.dataType} dropped or retyped")
    }
  }

  /** Last-write-wins dedup by item key, preserving arrival order (A2,
    * GlobalTableStatus.cs:72-76).
    */
  def lastWins(items: Seq[TransactionItem]): Seq[TransactionItem] = {
    val out = new scala.collection.mutable.LinkedHashMap[ItemKey, TransactionItem]
    items.foreach(i => out.update(i.itemKey, i))
    out.values.toSeq
  }
}
