package graft

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStream
import graft.util.Sessions

/** Runnable streaming demo: drains the events table through the watermarked
  * window aggregation and the stateful sessionizer with
  * `Trigger.AvailableNow` (the reference's one-shot mode) and prints what
  * each emitted. `runMain graft.StreamDemo [eventsDir]`.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.start("local[4]")

    val dir  = java.nio.file.Files.createTempDirectory("stream-demo").toString
    graft.util.EventTicks.toNanos(spark.read.parquet(s"$src/events.parquet"))
      .write.mode("append").parquet(s"$dir/in")

    val win = EventStream.windowedCounts(EventStream.readEvents(spark, s"$dir/in"))
      .writeStream.format("memory").queryName("win").outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt-win").trigger(Trigger.AvailableNow()).start()
    win.awaitTermination(120000)
    println(s"[stream-demo] closed windows emitted: ${spark.table("win").count()}")
    spark.table("win").orderBy("window_start", "event_type").show(6, truncate = false)

    val sess = EventStream.sessionize(EventStream.readEvents(spark, s"$dir/in"))
      .writeStream.format("memory").queryName("sess").outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt-sess").trigger(Trigger.AvailableNow()).start()
    sess.awaitTermination(120000)
    println(s"[stream-demo] closed sessions emitted: ${spark.table("sess").count()}")
    spark.stop()
  }
}
