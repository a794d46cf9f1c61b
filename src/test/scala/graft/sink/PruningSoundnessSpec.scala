package graft.sink

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.GraftManifestScan
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Soundness of the mirror's file pruning: a filtered `snapshot()` returns
  * exactly the rows the same filter returns over an unpruned read of the same
  * live files. Each seed builds its own mirror and draws random `=`, `<`,
  * `<=`, `>`, `>=`, `IN`, `AND` and `OR` predicates, built both as a KQL
  * `where` and with `DataFrame.where`, and runs each under the default
  * session, with AQE off, and with parquet filter pushdown off (so row-group
  * skipping cannot hide a file that was wrongly dropped).
  *
  * The mirror holds the values pruning is easiest to get wrong: longs beyond
  * 2^53 (their stats are doubles), doubles with NaN and ±Inf rows (their stats
  * are dropped), ASCII strings past the 64-character truncation and non-ASCII
  * strings (dropped), an int partition column with a null and an uncastable
  * partition value, null column values, and files published without stats.
  */
class PruningSoundnessSpec extends SparkSuite {
  import PruningSoundnessSpec._

  private val Seeds      = Seq(1L, 2L, 3L)
  private val Predicates = 30
  private val StatsCols  = Seq("l", "d", "s")

  private val LongCenters = Seq(-1000L, 0L, (1L << 53) - 2, 1L << 53, (1L << 53) + 3,
    Long.MaxValue - 10, Long.MinValue + 10)
  private val DoubleCenters = Seq(-1e6, 0.0, 1.5, 1e300)
  private val StrPrefixes   = Seq("a" * 70, "a" * 69 + "b", "m", "q" * 65 + "r", "zz")

  /** One mirror file per draw: its partition value, whether its publish
    * records stats, and rows of (id, l, d, s) clustered so bounds can prune.
    */
  private def build(seed: Long): Fixture = {
    val rnd   = new Random(seed)
    val dir   = tmpDir(s"prune-sound-$seed")
    val table = new MirrorTable(spark, dir, s"prune_sound_$seed")
    table.ensureSchema(StructType(Seq(StructField("id", LongType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("s", StringType), StructField("p", IntegerType))), Seq("p"))
    val schema = table.currentMeta().get._1
    val ts     = new java.sql.Timestamp(0L)
    var nextId = 0L
    // 10 orders below 2 as a string: a partition compared uncast would show
    val pvs    = Seq(null, "oops") ++ Seq.fill(6)(Seq("1", "2", "10")(rnd.nextInt(3)))
    pvs.zipWithIndex.foreach { case (pv, i) =>
      val (lc, dc, sc) = (LongCenters(rnd.nextInt(LongCenters.size)),
        DoubleCenters(rnd.nextInt(DoubleCenters.size)), StrPrefixes(rnd.nextInt(StrPrefixes.size)))
      val special = rnd.nextInt(6)
      val rows = (0 until 3 + rnd.nextInt(5)).map { r =>
        nextId += 1
        val l = if (rnd.nextInt(10) == 0) null else lc + rnd.between(-3, 4)
        val d = (special, r) match {
          case (0, 0) => Double.NaN
          case (1, 0) => Double.PositiveInfinity
          case (2, 0) => Double.NegativeInfinity
          case _      => dc + rnd.nextInt(4) * 0.5
        }
        val s = if (special == 3 && r == 0) "é" + sc else if (special == 4 && r == 0) "😀"
                else sc + ('a' + rnd.nextInt(3)).toChar
        val p = Option(pv).flatMap(_.toIntOption).map(Int.box).orNull
        Row(nextId, l, d, s, p, s"blob-$i", ts)
      }
      table.stage(s"stage-$i", "g", spark.createDataFrame(rows.asJava, schema).coalesce(1),
        Map("p" -> pv), if (i % 3 == 2) Nil else StatsCols)
      table.publishStaged(s"stage-$i", Seq("g"))
    }
    val unpruned = GraftManifestScan.parquet(spark, schema, table.liveAdds().map(a =>
      GraftManifestScan.status(new Path(dir, a.path), a.size)))
    val rows = unpruned.collect()
    val values = Seq("l", "d", "s", "p").map(c => c -> rows.map(_.getAs[Any](c)).filter(_ != null).toSeq).toMap
    Fixture(table, unpruned, values)
  }

  /** A literal near the data: a stored value, or one step beside it. */
  private def literal(rnd: Random, f: Fixture, c: String): Any = {
    val seen = f.values(c)
    val v    = seen(rnd.nextInt(seen.size))
    val step = rnd.nextInt(3) - 1
    v match {
      case l: Long   => l + step // stored longs stay 7 away from the extremes
      case d: Double => if (d.isNaN || d.isInfinite) DoubleCenters(rnd.nextInt(DoubleCenters.size)) else d + step * 0.5
      case s: String => Seq(s, s.take(64), s.take(65), s + "a", "é")(rnd.nextInt(5))
      case i: Int    => i + step
    }
  }

  private def pred(rnd: Random, f: Fixture, depth: Int): Pred = {
    val c = Seq("l", "d", "s", "p")(rnd.nextInt(4))
    rnd.nextInt(if (depth == 0) 2 else 4) match {
      case 0 => Cmp(c, Seq("==", "<", "<=", ">", ">=")(rnd.nextInt(5)), literal(rnd, f, c), rnd.nextInt(4) == 0)
      // past 10 values Spark plans the list as an InSet
      case 1 => InList(c, Seq.fill(if (rnd.nextInt(4) == 0) 11 + rnd.nextInt(3) else 1 + rnd.nextInt(3))(
        literal(rnd, f, c)))
      case 2 => AllOf(pred(rnd, f, depth - 1), pred(rnd, f, depth - 1))
      case _ => AnyOf(pred(rnd, f, depth - 1), pred(rnd, f, depth - 1))
    }
  }

  private def kqlLit(v: Any): String = v match {
    case s: String => s"'$s'"
    case other     => other.toString
  }

  private def kql(p: Pred): String = p match {
    case Cmp(c, op, v, false) => s"$c $op ${kqlLit(v)}"
    case Cmp(c, op, v, true)  => s"${kqlLit(v)} ${Flipped(op)} $c"
    case InList(c, vs)        => s"$c in (${vs.map(kqlLit).mkString(", ")})"
    case AllOf(a, b)          => s"(${kql(a)}) and (${kql(b)})"
    case AnyOf(a, b)          => s"(${kql(a)}) or (${kql(b)})"
  }

  private def column(p: Pred): Column = p match {
    case Cmp(c, op, v, true) => compare(Flipped(op), lit(v), col(c))
    case Cmp(c, op, v, _)    => compare(op, col(c), lit(v))
    case InList(c, vs)       => col(c).isin(vs: _*)
    case AllOf(a, b)         => column(a) && column(b)
    case AnyOf(a, b)         => column(a) || column(b)
  }

  private val Flipped = Map("==" -> "==", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  private def compare(op: String, l: Column, r: Column): Column = op match {
    case "==" => l === r
    case "<"  => l < r
    case "<=" => l <= r
    case ">"  => l > r
    case _    => l >= r
  }

  /** Sorted ids of `df` and the files its scan read. */
  private def read(df: DataFrame): (Seq[Long], Long) = {
    val ids = df.select("id")
    (ids.collect().map(_.getLong(0)).sorted.toSeq, GraftManifestScan.filesRead(ids))
  }

  private def withConf[T](conf: Map[String, String])(f: => T): T = {
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private val Confs = Seq(
    Map.empty[String, String],
    Map("spark.sql.adaptive.enabled" -> "false"),
    Map("spark.sql.parquet.filterPushdown" -> "false"))

  test("a file holding only non-ASCII strings is skipped by a string filter that excludes it") {
    val table = new MirrorTable(spark, tmpDir("prune-utf8"), "prune_utf8")
    table.ensureSchema(StructType(Seq(StructField("id", LongType), StructField("s", StringType))), Nil)
    val schema = table.currentMeta().get._1
    val ts     = new java.sql.Timestamp(0L)
    Seq(Seq("é" * 70, "ö😀"), Seq("apple", "mango")).zipWithIndex.foreach { case (vs, i) =>
      val rows = vs.zipWithIndex.map { case (v, j) => Row((10 * i + j).toLong, v, s"blob-$i", ts) }
      table.stage(s"stage-$i", "g", spark.createDataFrame(rows.asJava, schema).coalesce(1), Map.empty, Seq("s"))
      table.publishStaged(s"stage-$i", Seq("g"))
    }
    assert(read(table.snapshot().where(col("s") <= "zebra")) == ((Seq(10L, 11L), 1L)))
    assert(read(table.snapshot().where(col("s") === "ö😀")) == ((Seq(1L), 1L)))
    assert(read(table.snapshot().where(col("s") > "ö😀")) == ((Nil, 0L)))
  }

  Seeds.foreach { seed =>
    test(s"pruned mirror reads return the unpruned rows (seed $seed)") {
      val f     = build(seed)
      val rnd   = new Random(seed)
      val files = f.table.liveAdds().size.toLong
      var filesRead = 0L
      (0 until Predicates).foreach { i =>
        val p = pred(rnd, f, rnd.nextInt(3))
        val byKql: DataFrame => DataFrame =
          t => graft.kql.KqlPipeline.run(Map("T" -> t), s"T | where ${kql(p)}")
        val byWhere: DataFrame => DataFrame = _.where(column(p))
        Seq("kql" -> byKql, "where" -> byWhere).foreach { case (how, filter) =>
          val (want, _) = read(filter(f.unpruned))
          Confs.foreach { conf =>
            withClue(s"seed=$seed predicate #$i ($how, conf $conf): ${kql(p)}\n") {
              val (got, n) = withConf(conf)(read(filter(f.table.snapshot())))
              assert(got == want)
              assert(n <= files)
              filesRead += n
            }
          }
        }
      }
      // not vacuous: some predicate must have skipped a file
      assert(filesRead < files * Predicates * 2 * Confs.size, s"seed=$seed: no file was ever pruned")
    }
  }
}

object PruningSoundnessSpec {
  private final case class Fixture(table: MirrorTable, unpruned: DataFrame, values: Map[String, Seq[Any]])

  private sealed trait Pred
  // `flip` writes the literal on the left: `v > c` for `c < v`
  private final case class Cmp(c: String, op: String, v: Any, flip: Boolean) extends Pred
  private final case class InList(c: String, vs: Seq[Any]) extends Pred
  private final case class AllOf(a: Pred, b: Pred) extends Pred
  private final case class AnyOf(a: Pred, b: Pred) extends Pred
}
