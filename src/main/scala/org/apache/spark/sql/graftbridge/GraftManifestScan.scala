package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet scan over an EXPLICIT file manifest — no filesystem listing.
  *
  * `spark.read.parquet(paths: _*)` builds an InMemoryFileIndex: one
  * glob-status per path at resolution plus a bulk leaf listing that goes
  * DISTRIBUTED past 32 paths (`parallelPartitionDiscovery.threshold`) with
  * up to 10,000 tasks — measured at 380 s summed across one 10⁵-file mirror
  * batch whose file lengths the Delta log already records exactly. A
  * transaction-log engine never needs to re-list what its log knows (the
  * point of the log — same reason upstream Delta ships its own FileIndex),
  * so this index serves the statuses straight from the manifest: zero
  * filesystem calls at plan time.
  *
  * Bin-packing, filter pushdown, column pruning and `input_file_name()`
  * behave exactly as with a listed index — the relation below IS the
  * `HadoopFsRelation` a `spark.read` produces, only with the listing
  * replaced. Like every manifest read (Delta, Iceberg), correctness rests
  * on the recorded lengths being true: a manifest length LONGER than the
  * physical file fails the read loudly; stale-shorter manifests are the
  * log writer's contract to prevent.
  *
  * This file and [[GraftColumnBridge]] are the only internal-API touchpoints:
  * `FileIndex`/`HadoopFsRelation`/`Dataset.ofRows` and the parquet footer
  * reader of [[footerSchema]] are `private[sql]`-adjacent.
  */
object GraftManifestScan {

  private final class ManifestFileIndex(files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_.getPath)
    override def listFiles(
        partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = StructType(Nil)
  }

  /** One manifest entry → FileStatus (block size only seeds split math;
    * mtime is carried for completeness — nothing in the scan reads it).
    */
  def status(path: Path, len: Long, mtimeMs: Long = 0L): FileStatus =
    new FileStatus(len, false, 1, 128L * 1024 * 1024, mtimeMs, path)

  /** DataFrame over exactly `files`, read as parquet with `dataSchema`.
    * Options pass through to the format (e.g. mergeSchema is NOT supported
    * here — the schema is explicit by design, like every manifest reader).
    *
    * Duplicate paths are deduplicated (last entry wins). This is an ENGINE
    * guarantee, deliberately stronger than `spark.read.parquet(p, p)` —
    * which scans p twice (pinned in ManifestScanSpec): a manifest carrying
    * the same blob twice (e.g. one coalesced source batch re-adding a path
    * at a later txId) must not double the blob's rows in the mirror.
    */
  def parquet(
      spark: SparkSession,
      dataSchema: StructType,
      files: Seq[FileStatus],
      options: Map[String, String] = Map.empty): DataFrame = {
    val session = spark.asInstanceOf[ClassicSession]
    val byPath = new java.util.LinkedHashMap[Path, FileStatus]()
    files.foreach(f => byPath.put(f.getPath, f))
    val deduped = {
      import scala.jdk.CollectionConverters._
      byPath.values.asScala.toSeq
    }
    val relation = HadoopFsRelation(
      location = new ManifestFileIndex(deduped),
      partitionSchema = StructType(Nil),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = options)(session)
    Dataset.ofRows(session, LogicalRelation(relation))
  }

  /** The schema `spark.read.parquet(path)` infers, from Spark's own footer read
    * on the DRIVER, no job: a file's footer or a directory's first data file by
    * name (`_`/`.` skipped). Fails naming `path`; never falls back to inference.
    */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val state = spark.asInstanceOf[ClassicSession].sessionState
    val conf  = state.newHadoopConf()
    try {
      val fs   = new Path(path).getFileSystem(conf)
      val top  = fs.getFileStatus(new Path(path))
      val file = if (!top.isDirectory) top else fs.listStatus(top.getPath)
        .filter(f => f.isFile && !f.getPath.getName.matches("[_.].*")).minByOption(_.getPath.getName)
        .getOrElse(throw new java.io.FileNotFoundException("directory holds no data file"))
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter( // relations read every field as nullable
        new Footer(file.getPath, meta), new ParquetToSparkSchemaConverter(state.conf)).asNullable
    } catch { case scala.util.control.NonFatal(e) => throw new IllegalArgumentException(
      s"no parquet schema for '$path': ${e.getMessage}", e) }
  }
}
