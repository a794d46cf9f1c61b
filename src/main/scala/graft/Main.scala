package graft

import java.time.{Instant, LocalDate, ZoneOffset}

import graft.engine.{MirrorConfig, MirrorOrchestration}
import graft.util.Sessions

/** CLI entry point — the Spark restatement of the reference's invocation
  * (README.md:12-14):
  *
  * {{{
  * runMain graft.Main -s <DeltaTableURL> -m <MirrorTableURL> -t <TableName>
  *                    -c <CheckpointFolderURL> [--continuous]
  *                    [--go-back d-m-y] [--creation-time <expr>]
  * }}}
  *
  * Repeating `-s <url> -m <url> -t <name>` declares ADDITIONAL tables; all
  * tables share the one `-c` checkpoint store and drain concurrently (the
  * reference's per-database orchestration, MirrorOrchestration.cs:44-52,
  * 127-132).
  *
  * Arg validation mirrors Program.cs:146-180 (P11); `--go-back` accepts the
  * reference's `d-m-y` / `d/m/y` forms (P12, MainParameterization.cs:63-106);
  * `--creation-time` accepts Spark SQL or KQL spellings (§2.i).
  */
object Main {

  final case class TableSpec(
      source: String = "",
      mirror: String = "",
      table: String = "mirror")

  final case class Options(
      specs: Vector[TableSpec] = Vector.empty,
      checkpoint: String = "",
      continuous: Boolean = false,
      goBack: Option[Instant] = None,
      creationTime: Option[String] = None,
      optimizeEvery: Option[Int] = None,
      optimizeSmallFiles: Option[Int] = None) {
    // single-table conveniences (first spec)
    def source: String = specs.headOption.fold("")(_.source)
    def table: String  = specs.headOption.fold("mirror")(_.table)
  }

  /** P12: 3-segment day-month-year with `-` or `/` separators. */
  def parseGoBack(s: String): Instant = {
    val parts = s.split("[-/]")
    require(parts.length == 3, s"--go-back must be d-m-y or d/m/y, got '$s'")
    LocalDate.of(parts(2).toInt, parts(1).toInt, parts(0).toInt)
      .atStartOfDay(ZoneOffset.UTC).toInstant
  }

  def parseArgs(args: Seq[String]): Options = {
    // `-s` opens a new table spec (or completes one started by a leading
    // -m/-t — single-table flag order stays free, as before); `-m`/`-t`
    // modify the spec being built
    def patchLast(o: Options)(f: TableSpec => TableSpec): Options = {
      val specs = if (o.specs.isEmpty) Vector(TableSpec()) else o.specs
      o.copy(specs = specs.init :+ f(specs.last))
    }
    def loop(rest: List[String], o: Options): Options = rest match {
      case Nil => o
      case ("-s" | "--source") :: v :: t        =>
        if (o.specs.lastOption.exists(_.source.isEmpty))
          loop(t, patchLast(o)(_.copy(source = v)))
        else loop(t, o.copy(specs = o.specs :+ TableSpec(source = v)))
      case ("-m" | "--mirror") :: v :: t        => loop(t, patchLast(o)(_.copy(mirror = v)))
      case ("-t" | "--table") :: v :: t         => loop(t, patchLast(o)(_.copy(table = v)))
      case ("-c" | "--checkpoint") :: v :: t    => loop(t, o.copy(checkpoint = v))
      case "--continuous" :: t                  => loop(t, o.copy(continuous = true))
      case ("-g" | "--go-back") :: v :: t       => loop(t, o.copy(goBack = Some(parseGoBack(v))))
      case ("-k" | "--creation-time") :: v :: t => loop(t, o.copy(creationTime = Some(v)))
      case "--optimize-every" :: v :: t         => loop(t, o.copy(optimizeEvery = Some(v.toInt)))
      case "--optimize-small-files" :: v :: t   => loop(t, o.copy(optimizeSmallFiles = Some(v.toInt)))
      case other :: _ =>
        throw new IllegalArgumentException(s"Unknown or incomplete argument: $other")
    }
    val o = loop(args.toList, Options())
    // P11: required-argument validation, per table spec
    require(o.specs.nonEmpty && o.specs.forall(_.source.nonEmpty),
      "Missing required -s <DeltaTableURL>")
    o.specs.foreach { s =>
      require(s.mirror.nonEmpty, s"Missing required -m <MirrorTableURL> for source ${s.source}")
    }
    require(o.checkpoint.nonEmpty, "Missing required -c <CheckpointFolderURL>")
    require(o.specs.map(_.table).distinct.size == o.specs.size,
      "Each table needs a unique -t <TableName> when mirroring several tables")
    require(o.optimizeEvery.forall(_ > 0),
      "--optimize-every must be positive (omit the flag to disable auto-OPTIMIZE)")
    require(o.optimizeSmallFiles.forall(_ > 0),
      "--optimize-small-files must be positive (omit the flag to disable auto-OPTIMIZE)")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = try parseArgs(args.toIndexedSeq) catch {
      case e: Exception =>
        System.err.println(s"error: ${e.getMessage}")
        System.err.println(
          "usage: graft.Main -s <DeltaTableURL> -m <MirrorTableURL> -c <CheckpointFolderURL> " +
            "[-t name] [--continuous] [--go-back d-m-y] [--creation-time <expr>] " +
            "[--optimize-every N] [--optimize-small-files M]")
        sys.exit(2)
    }
    val spark = Sessions.start(Sessions.builder(
      // spark-submit injects the real master; default for bare runMain
      sys.props.getOrElse("spark.master", sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]")))
      .appName(s"graft-mirror-${o.table}"))

    val cfgs = o.specs.map { s =>
      MirrorConfig(
        deltaTableUrl = s.source,
        mirrorDir = s.mirror,
        mirrorTableName = s.table,
        checkpointDir = o.checkpoint,
        creationTimeExpr = o.creationTime,
        goBack = o.goBack,
        continuous = o.continuous,
        // retention-policy analog (DeltaTableOrchestration.cs:310-318): a
        // go-back horizon doubles as the mirror's vacuum retention window
        vacuumRetain = o.goBack.map { g =>
          val d = java.time.Duration.between(g, Instant.now())
          if (d.isNegative) java.time.Duration.ZERO else d
        },
        optimizeEveryBatches = o.optimizeEvery,
        optimizeSmallFileCount = o.optimizeSmallFiles)
    }
    val orch = new MirrorOrchestration(spark, cfgs)
    orch.run()
    cfgs.foreach { c =>
      println(s"[graft] mirror '${c.mirrorTableName}' rows=${orch.table(c.mirrorTableName).snapshot().count()}")
    }
    spark.stop()
  }
}
