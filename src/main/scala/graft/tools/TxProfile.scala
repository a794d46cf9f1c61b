package graft.tools

import graft.txlog._
import java.time.Instant

/** Scratch profiler for TxLog algebra hot paths (round-12 chase of the
  * 1M-item delta). Mode 1: synthetic items. Mode 2 (path arg): the real
  * checkpoint snapshot, timing each delta sub-step inline.
  */
object TxProfile {
  def t[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime(); val r = f
    println(f"[txprofile] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
  }

  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0).startsWith("/")) { real(args(0)); return }
    val now = Instant.now()
    def item(i: Int): TransactionItem =
      TransactionItem(
        tableName = "t", startTxId = 0L, endTxId = 10L, action = TxAction.Add,
        state = TxState.Initial, mirrorTimestamp = now,
        blobPath = Some(f"part-$i%09d.parquet"),
        partitionValues = Some(Map("p" -> (i % 16).toString)),
        size = Some(1000L), recordCount = Some(10L))
    val n = if (args.nonEmpty) args(0).toInt else 1000000
    val all = (0 until n).map(item(_)).toVector
    val cur = TxLog(None, None, all, Nil)
    val prev = TxLog(None, None, all.take((n * 0.9).toInt), Nil)
    t("delta run1")(cur.delta(prev))
    t("delta run2")(cur.delta(prev))
  }

  def real(table: String): Unit = {
    val spark = graft.util.Sessions.start("local[8]")
    val reader = new graft.deltalog.DeltaLogReader(spark, table, "prof")
    val snap = t("fullSnapshot")(reader.fullSnapshot().get)
    val nAdds = snap.adds.size
    println(s"[txprofile] adds=$nAdds class=${snap.adds.getClass.getName}")
    val prev = t("build prev")(TxLog(None, None, snap.adds.take((nAdds * 0.9).toInt), Nil))
    // inline delta sub-steps
    def byPath(items: Seq[TransactionItem]): Map[String, TransactionItem] =
      items.flatMap(i => i.blobPath.map(_ -> i)).toMap
    val currentAdds    = t("byPath cur")(byPath(snap.adds))
    val previousAdds   = t("byPath prev")(byPath(prev.adds))
    val currentRemoves = t("byPath curRem")(byPath(snap.removes))
    val newAdds = t("newAdds filter")(
      snap.adds.filter(a => a.blobPath.exists(p => !previousAdds.contains(p))))
    println(s"[txprofile] newAdds=${newAdds.size}")
    val newRemovePaths = t("newRemovePaths")(
      previousAdds.keySet.filter(p => !currentAdds.contains(p) && !currentRemoves.contains(p)) ++
        currentRemoves.keySet)
    println(s"[txprofile] newRemovePaths=${newRemovePaths.size}")
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum
    }
    val g0 = gcMs()
    t("full delta run1")(snap.delta(prev))
    println(s"[txprofile] gc during run1: ${(gcMs() - g0) / 1e3} s")
    val g1 = gcMs()
    t("full delta run2")(snap.delta(prev))
    println(s"[txprofile] gc during run2: ${(gcMs() - g1) / 1e3} s")
    spark.stop()
  }
}
