package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, NumericType, StringType, StructType}
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
  * A caller that knows per-file value bounds (the mirror's partition values
  * and recorded min/max) passes them, and `listFiles` then skips the files
  * whose bounds rule out the pushed data filters — Delta's data skipping
  * (Armbrust et al., VLDB 2020). Pruning shows in the scan's "number of files
  * read" metric; `Dataset.inputFiles` still reports the whole manifest,
  * because it asks the index for every file, not for the filtered listing.
  *
  * This file and [[GraftColumnBridge]] are the only internal-API touchpoints:
  * `FileIndex`/`HadoopFsRelation`/`Dataset.ofRows` and the parquet footer
  * reader of [[footerSchema]] are `private[sql]`-adjacent.
  */
object GraftManifestScan {

  /** One file's bounds: for the columns asked, the (min, max) that hold every
    * non-null value of the column in the file, in the column's bound type.
    * A column left out of the answer is unbounded in that file.
    */
  type FileBounds = Seq[String] => Map[String, (Any, Any)]

  private final class ManifestFileIndex(
      files: Seq[(FileStatus, FileBounds)],
      boundTypes: Map[String, DataType]) extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_._1.getPath)
    override def inputFiles: Array[String] = files.map(_._1.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_._1.getLen).sum
    override def partitionSchema: StructType = StructType(Nil)

    /** Every file whose bounds may satisfy the data filters: a file is dropped
      * only when its test is false, and unknown bounds make the test null.
      */
    override def listFiles(
        partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val (test, cols) = skippingTest(dataFilters, boundTypes)
      val kept = if (cols.isEmpty) files else {
        val keep = Predicate.createInterpreted(Coalesce(Seq(test, Literal.TrueLiteral)))
        files.filter { case (_, bounds) =>
          val known = bounds(cols)
          keep.eval(InternalRow.fromSeq(cols.flatMap(c => known.get(c).fold(Seq[Any](null, null)) {
            case (mn, mx) => Seq(mn, mx).map(CatalystTypeConverters.convertToCatalyst)
          })))
        }
      }
      Seq(PartitionDirectory(InternalRow.empty, kept.map(_._1).toArray))
    }
  }

  /** Delta's data-skipping rewrite of the pushed filters into one test over a
    * bounds row, which holds (min, max) of each returned column in turn:
    *  - `a = l` is `min <= l <= max`; `a < l`, `a <= l` test min; `a > l`,
    *    `a >= l` test max; `IN` and `InSet` are an OR of equalities;
    *  - `And` and `Or` recurse;
    *  - anything else, and any column without a bound type or of a type other
    *    than numeric or UTF8_BINARY string, is true.
    * A literal is cast to the bound type. When that type is not the column's
    * own (numeric stats kept as doubles) the cast may round onto a bound, so
    * strict comparisons are tested non-strictly.
    */
  private def skippingTest(
      filters: Seq[Expression], boundTypes: Map[String, DataType]): (Expression, Seq[String]) = {
    val ordinal = scala.collection.mutable.LinkedHashMap[String, Int]()
    def anyOf(tests: Seq[Expression]): Expression = // balanced: one Or per value would nest deep
      if (tests.size == 1) tests.head
      else { val (l, r) = tests.splitAt(tests.size / 2); Or(anyOf(l), anyOf(r)) }
    def compare(c: BinaryComparison, a: AttributeReference, l: Literal): Expression = {
      val supported = a.dataType match { case s: StringType => s.isUTF8BinaryCollation; case t => t.isInstanceOf[NumericType] }
      boundTypes.get(a.name).filter(_ => supported)
        .flatMap(t => scala.util.Try(Literal(Cast(l, t).eval(), t)).toOption).fold[Expression](Literal.TrueLiteral) { v =>
          val i     = 2 * ordinal.getOrElseUpdate(a.name, ordinal.size)
          val mn    = BoundReference(i, v.dataType, nullable = true)
          val mx    = BoundReference(i + 1, v.dataType, nullable = true)
          val exact = v.dataType == a.dataType
          c match {
            case _: EqualTo                             => And(LessThanOrEqual(mn, v), GreaterThanOrEqual(mx, v))
            case _: LessThan if exact                   => LessThan(mn, v)
            case _: LessThan | _: LessThanOrEqual       => LessThanOrEqual(mn, v)
            case _: GreaterThan if exact                => GreaterThan(mx, v)
            case _: GreaterThan | _: GreaterThanOrEqual => GreaterThanOrEqual(mx, v)
            case _                                      => Literal.TrueLiteral
          }
        }
    }
    def rewrite(e: Expression): Expression = e match {
      case And(l, r) => And(rewrite(l), rewrite(r))
      case Or(l, r)  => Or(rewrite(l), rewrite(r))
      case In(a, list) if list.nonEmpty && list.forall(_.isInstanceOf[Literal]) =>
        anyOf(list.map(l => rewrite(EqualTo(a, l))))
      case InSet(a, set) if set.nonEmpty => anyOf(set.toSeq.map(v => rewrite(EqualTo(a, Literal(v, a.dataType)))))
      case c @ BinaryComparison(a: AttributeReference, l: Literal) => compare(c, a, l)
      case c @ BinaryComparison(l: Literal, a: AttributeReference) => compare(c match {
          case LessThan(_, _)           => GreaterThan(a, l)
          case LessThanOrEqual(_, _)    => GreaterThanOrEqual(a, l)
          case GreaterThan(_, _)        => LessThan(a, l)
          case GreaterThanOrEqual(_, _) => LessThanOrEqual(a, l)
          case symmetric                => symmetric
        }, a, l)
      case _ => Literal.TrueLiteral
    }
    (filters.map(rewrite).foldLeft[Expression](Literal.TrueLiteral)(And), ordinal.keys.toSeq)
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
    * `bounds`, when given, holds one [[FileBounds]] per file, and
    * `boundTypes` the type each bounded column's bounds are compared in: the
    * column's own type, or DoubleType for numeric min/max kept as doubles.
    * Without them every file is read.
    *
    * A non-positive length (a log that did not record one) makes the whole
    * read a listed one, unpruned.
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
      options: Map[String, String] = Map.empty,
      boundTypes: Map[String, DataType] = Map.empty,
      bounds: Seq[FileBounds] = Nil): DataFrame = {
    require(bounds.isEmpty || bounds.size == files.size, "one FileBounds per manifest file")
    val session = spark.asInstanceOf[ClassicSession]
    val byPath = new java.util.LinkedHashMap[Path, (FileStatus, FileBounds)]()
    files.zipAll(bounds, null, Unbounded).foreach(e => byPath.put(e._1.getPath, e))
    val deduped = {
      import scala.jdk.CollectionConverters._
      byPath.values.asScala.toSeq
    }
    if (deduped.exists(_._1.getLen <= 0L)) // an unrecorded length is listed, never guessed
      return spark.read.schema(dataSchema).options(options).parquet(deduped.map(_._1.getPath.toString): _*)
    val relation = HadoopFsRelation(
      location = new ManifestFileIndex(deduped, boundTypes),
      partitionSchema = StructType(Nil),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = options)(session)
    Dataset.ofRows(session, LogicalRelation(relation))
  }

  private val Unbounded: FileBounds = _ => Map.empty

  private object Plans extends AdaptiveSparkPlanHelper

  /** The "number of files read" metric summed over every file scan of `df`'s
    * executed plan, adaptive stages and subqueries included — how pruning is
    * measured. `df` must have run through an action on its own plan (e.g.
    * `collect`).
    */
  def filesRead(df: DataFrame): Long =
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum

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
