package graft.state

import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.GraftManifestScan

/** Persistent store for ANN index artifacts — PQ codebooks and IVF
  * (k-means) centroids.
  *
  * An index artifact is BUILT ONCE and queried many times, and on a real
  * cluster a rebuild is not even bit-stable (float partial-sum merge order
  * differs in ULPs run-to-run — see
  * [[graft.functions.SimilarityFunctions.kmeansCentroids]]). So the
  * artifact must outlive the JVM that trained it: this store writes the
  * nested centroid matrices as small parquet tables (m×k×dsub doubles —
  * kilobytes, bounded by construction) and loads them back on first use in
  * any later session.
  *
  * Staleness safety: artifact paths embed a FINGERPRINT of the corpus
  * directory (file names, sizes, modification times — a driver-side
  * metadata listing, no data read). Changed data ⇒ changed fingerprint ⇒
  * different artifact path ⇒ retrain; a stale index can never serve a
  * changed corpus.
  *
  * Publish is atomic via the same tmp-dir + rename idiom as
  * [[CheckpointStore]]: a concurrent trainer loses the rename race, drops
  * its tmp dir, and reads the winner — readers never observe a
  * half-written artifact.
  */
object IndexStore {

  /** Root for persisted artifacts: `spark.graft.index.dir`, defaulting to
    * a `graft-index` dir under the JVM temp dir.
    */
  def baseDir(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.index.dir").getOrElse(
      sys.props.getOrElse("java.io.tmpdir", "/tmp").stripSuffix("/") + "/graft-index")

  /** Content-version fingerprint of `path` from its file metadata listing
    * (name:length:mtime per entry, MD5-hashed). Works for any Hadoop
    * filesystem; an absent path fingerprints on the literal string, so
    * non-path cache keys still partition the artifact space.
    */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val desc =
      if (!fs.exists(p)) s"absent:$path"
      else if (fs.getFileStatus(p).isFile) {
        val s = fs.getFileStatus(p)
        s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}"
      } else fs.listStatus(p)
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString("|")
    MessageDigest.getInstance("MD5").digest(desc.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  /** Load the PQ codebook at `dir` if published, else run `train`, persist
    * the result, and return it. Stored as (sub, cell, pos, v) quadruples —
    * order-free, schema-checked on load.
    */
  def loadOrTrainPq(spark: SparkSession, dir: String)(
      train: => Seq[Seq[Seq[Double]]]): Seq[Seq[Seq[Double]]] = {
    loadNested(spark, dir, keyCols = 3) match {
      case Some(rows) =>
        rows.groupBy(_._1(0)).toSeq.sortBy(_._1).map { case (_, subRows) =>
          subRows.groupBy(_._1(1)).toSeq.sortBy(_._1).map { case (_, cellRows) =>
            cellRows.sortBy(_._1(2)).map(_._2)
          }
        }
      case None =>
        val cb = train
        val rows = for {
          (sub, i) <- cb.zipWithIndex
          (cent, c) <- sub.zipWithIndex
          (v, p) <- cent.zipWithIndex
        } yield (i, c, p, v)
        publish(spark, dir, rows.map { case (a, b, c, v) => (Seq(a, b, c), v) })
        cb
    }
  }

  /** Load the centroid matrix at `dir` if published, else run `train`,
    * persist, return. Stored as (cell, pos, v) triples.
    */
  def loadOrTrainCentroids(spark: SparkSession, dir: String)(
      train: => Seq[Seq[Double]]): Seq[Seq[Double]] = {
    loadNested(spark, dir, keyCols = 2) match {
      case Some(rows) =>
        rows.groupBy(_._1(0)).toSeq.sortBy(_._1).map { case (_, cellRows) =>
          cellRows.sortBy(_._1(1)).map(_._2)
        }
      case None =>
        val cents = train
        val rows = for {
          (cent, c) <- cents.zipWithIndex
          (v, p) <- cent.zipWithIndex
        } yield (Seq(c, p), v)
        publish(spark, dir, rows)
        cents
    }
  }

  /** Drop every published artifact under [[baseDir]] — test hook and
    * operational reset (e.g. after deliberately retraining).
    */
  def clear(spark: SparkSession): Unit = {
    val p = new Path(baseDir(spark))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  // ---- storage ------------------------------------------------------------

  /** Read an artifact's (int keys…, double value) rows, or None if the dir
    * was never published. Index positions travel as data, so row order on
    * disk is irrelevant. The schema comes from the footer on the driver:
    * inference would add a Spark job per artifact load.
    */
  private def loadNested(
      spark: SparkSession, dir: String, keyCols: Int): Option[Seq[(Seq[Int], Double)]] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val df = spark.read.schema(GraftManifestScan.footerSchema(spark, dir)).parquet(dir)
      require(df.columns.length == keyCols + 1,
        s"index artifact at $dir has ${df.columns.length} columns, expected ${keyCols + 1}")
      Some(df.collect().toSeq.map { r =>
        ((0 until keyCols).map(r.getInt), r.getDouble(keyCols))
      })
    }
  }

  /** Write rows to `dir.tmp-<uuid>` then rename into place; losing a
    * publish race is fine — the winner's artifact is equivalent (or the
    * corpus changed, in which case the fingerprint already split the path).
    */
  private def publish(
      spark: SparkSession, dir: String, rows: Seq[(Seq[Int], Double)]): Unit = {
    import spark.implicits._
    val keyCols = rows.head._1.length
    val names = (if (keyCols == 3) Seq("sub", "cell", "pos") else Seq("cell", "pos")) :+ "v"
    val df =
      if (keyCols == 3) rows.map { case (k, v) => (k(0), k(1), k(2), v) }.toDF(names: _*)
      else rows.map { case (k, v) => (k(0), k(1), v) }.toDF(names: _*)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    fs.mkdirs(p.getParent)
    if (!fs.rename(tmp, p)) {
      // lost the race (or a previous publish already exists): keep the winner
      fs.delete(tmp, true)
      require(fs.exists(p), s"index publish failed and no artifact exists at $dir")
    }
  }
}
