package graft.util

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every session is UTC, carries
  * [[graft.GraftSessionExtensions]] (`rolling_hash`, `vector_dot`) and reads
  * TIMESTAMP(NANOS) parquet as epoch-nanos longs (`EventTicks.toNanos` covers
  * the MICROS encoding at load). A `local[N]` master also gets N shuffle
  * partitions and no UI; any other master (spark-submit) keeps Spark's
  * defaults. Callers chain their own settings onto the returned builder.
  */
object Sessions {

  private val LocalN = """local\[(\d+)\]""".r

  def builder(master: String): SparkSession.Builder = {
    val b = SparkSession.builder().master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftSessionExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    master match {
      case LocalN(n) => b.config("spark.sql.shuffle.partitions", n).config("spark.ui.enabled", "false")
      case _         => b
    }
  }

  /** `b.getOrCreate()` with Spark's logging at WARN. */
  def start(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A session with the rules above and nothing else. */
  def start(master: String): SparkSession = start(builder(master))
}
