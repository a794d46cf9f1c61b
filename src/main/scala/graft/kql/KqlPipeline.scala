package graft.kql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftManifestScan
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.functions.KqlCompat
import graft.operators.ActivityMetrics

/** KQL *tabular* pipeline over registered tables — the reference's outward
  * query surface (its status view is a full `externaldata | summarize
  * arg_max(...) by ... | order by` pipeline, Kusto/DatabaseGateway.cs:85-96,
  * and its tests assert with tabular KQL: `<table> | count`
  * MirrorLakeKustoTest/Electric/LoadTest.cs:22-27, `… | where ModelYear ==
  * 1994 | count` LoadTest.cs:74-89).
  *
  * Spark-first design: the pipeline is parsed into a plain DataFrame program
  * (filter/withColumn/select/groupBy.agg/orderBy/limit) so Catalyst sees one
  * declarative plan — pushdown, pruning and join strategy work exactly as if
  * the user had written the DataFrame calls by hand. Scalar expressions
  * inside operators are rewritten by [[KqlCompat.rewrite]] (KQL spellings →
  * Spark SQL) and handed to `expr()` — no interpreter, no per-row closures.
  *
  * Supported operators (the practical subset the reference's generated and
  * test queries use):
  * {{{
  *   T
  *   | where <expr>                      // also: filter
  *   | extend name = <expr>, …
  *   | project col, name = <expr>, …
  *   | project-away col, … | project-keep col, … | project-rename new = old, …
  *   | summarize [name =] agg(…), … [by key, name = <expr>, …]
  *   | order by <expr> [asc|desc], …     // also: sort by; KQL default = desc
  *   | top N by <expr> [asc|desc], …
  *   | take N                            // also: limit
  *   | distinct col, … | distinct *
  *   | count                             // → single column `Count`
  *   | getschema                         // ColumnName/ColumnOrdinal/ColumnType
  *   | join [kind=inner|innerunique|leftouter|rightouter|fullouter|
  *           leftsemi|leftanti|rightsemi|rightanti] (T2 | …) on key, …
  *     // or $left.a == $right.b; right-semi/anti emulate by side swap
  *   | lookup [kind=leftouter|inner] (Dim) on key    // broadcast dim join
  *   | union T2, (T3 | where …)          // by-name, null-padding
  *   | mv-expand arrayCol, …
  *   | parse Col with "lit" name "lit2" name2 …
  *   | make-series n = agg(…) [default = d] on t from a to b step s [by k]
  *     // dense gap-filled series over the NUMERIC [a,b) axis (epoch-nanos
  *     // works directly); axis + value arrays per group
  *   | mv-apply e = arrayCol on (where … | extend … | summarize … [by k])
  *     // per-row subquery: explode → stages → ONE groupBy(rowId) — no
  *     // self-join; rows with no qualifying elements drop, as in ADX
  *   | parse-where Col with "lit" name …     // parse + keep matching rows
  *   | search 'term'                     // whole-term across all string cols
  *   | serialize                         // identity (see row_number)
  *   | extend rn = row_number([start])   // global index in current order —
  *     // zipWithIndex over the range-partitioned sort, no 1-partition window
  *   | extend c = row_cumsum(x[, rst])   // running sum, two-pass scan
  *     // (per-partition partials + offset walk) — same no-global-window rule
  *   | extend p = prev(x), n = next(x)   // row shifts via boundary exchange
  *   | top-nested N of k by agg(…) [, top-nested M of k2 by agg2(…)]
  *   | evaluate pivot(col, agg(value))
  *   | top-hitters N of k [by sumExpr]   // EXACT here (ADX approximates)
  *   | sample N | sample-distinct N of k // deterministic hash sample here
  *   | as name                           // bind frame-so-far for operands
  *   | join [kind=…] [hint.strategy=broadcast|shuffle] (…) on …
  *   | partition by k (top N by expr)    // per-group top-k via key window
  *   | partition by k (order by c | extend …) // grouped row fns via windows
  *   | partition by k (where … | summarize … | top …) // general sub-pipeline,
  *     // each stage lowered key-aware (summarize adds k to group-by)
  *   | evaluate bag_unpack(dynCol)       // JSON bag → typed columns
  *   | scan [with_match_id = M] [declare (v = lit, …)] partition by k
  *       order by c with (step s1 [output=all|last|none]: cond
  *       [=> v = v + e, …]; …)              // single-instance-per-step scan
  *   | project-reorder c1, c2             // listed first, rest keep order
  *   | invoke f(args)                     // let-bound lambda, macro-expanded
  *   | parse-kv e as (k:type, …) with (pair_delimiter=';', kv_delimiter='=')
  *   | render <chart>                     // client directive — identity
  * }}}
  * Source form (first segment): {{{
  *   find [withsource=Col] in (T1, T2, …) where pred [project c1, …]
  * }}}
  * `let x = toscalar(T | …);` binds the 1×1 subquery result as a literal
  * (ADX semantics: first column of the first row). Evaluation is LAZY and
  * MEMOIZED: the subquery job runs when the first statement that actually
  * consumes the binding is compiled — never for a let no consumed branch
  * references — and a given subquery text runs at most once per query.
  * Management: `.show tables [| …]` via the Map-catalog entry point.
  *
  * `invoke` applies a `let`-bound lambda (`let f = (T:(*), p:long = 5)
  * { T | where v > p };` → `T2 | invoke f(9)`): scalar arguments
  * macro-substitute into the body, the tabular parameter binds to the
  * frame-so-far through a fresh `as` name (so join/union operands may
  * reference it too), and lambdas may call lambdas (depth-capped).
  * `facet`/`fork` return MULTIPLE result tables — incompatible with
  * [[run]]'s one-DataFrame contract, so they fail loudly there; use
  * [[runMulti]], which returns named (leg, DataFrame) pairs for a final
  * `fork (…) (…)` or `facet by c1, c2 [with (…)]`. `scan` implements the
  * one-active-sequence-per-step ADX state machine (declared state
  * variables, per-step assignments, `output=all|last|none` modes,
  * `with_match_id` — see [[graft.operators.ScanSteps]] for the pinned
  * semantics, including the `output=last` completion-scoped edge ADX
  * leaves unspecified); sessionization / as-of attribution also exist as
  * dedicated operators.
  * Statements: `let x = <scalar>;` (macro-substituted) and
  * `let T2 = T | where …;` (catalog extension) precede the query.
  * Sources (first segment): a table name, or
  * {{{
  *   externaldata (c:type, …) ['path', …] with (format='parquet'|'csv'|'json')
  *   datatable (c:type, …) [v1, v2, …]
  *   range x from a to b step s          // stop-inclusive numeric axis
  *   print [name =] expr, …
  *   union [withsource=Col] T1, T2, …    // multi-table source, null-padded
  * }}}
  * Predicates: `has`/`!has`/`hasprefix`/`hassuffix`/`contains`/`startswith`/
  * `endswith`/`=~`/`!~`/`matches regex`/`in~`/`!in`/`between (a .. b)`/
  * `has_any (…)`/`has_all (…)`, plus the case-SENSITIVE family
  * `has_cs`/`contains_cs`/`startswith_cs`/`endswith_cs`/`hasprefix_cs`/
  * `hassuffix_cs` (and their `!` negations) — same term-boundary contracts,
  * no case fold.
  * Join semantics: bare `| join` defaults to `innerunique` (left deduped on
  * the keys, surviving row unspecified) exactly as in ADX; `kind=inner`
  * opts into the plain non-deduplicating join. Divergence: bare-key `on k`
  * outputs ONE key column (Spark using-columns) where KQL emits the right
  * copy as `k1`.
  *
  * Aggregates: count, countif, dcount (exact distinct here — KQL's is HLL;
  * documented divergence), sum/avg/min/max (+ their *if masked forms),
  * dcountif, stdev, variance, percentile (exact here — KQL's is T-digest),
  * arg_max, arg_min, make_set, make_list. KQL string predicates `has`/`contains`/`startswith`/
  * `endswith` (case-insensitive, as in KQL) and `=~`/`!~` are rewritten to
  * Spark SQL. `has` is a whole-TERM match as in ADX ('administrators' has
  * 'admin' is FALSE): the haystack is split on non-alphanumeric boundaries
  * and the needle must equal one term. A literal needle that itself
  * contains non-alphanumerics (a multi-term phrase, e.g. 'a-b') matches the
  * ADJACENT-term phrase as in real ADX, via a boundary-anchored regex;
  * only a NON-literal multi-term needle keeps the never-matches contract.
  * `//` comments are stripped so multi-line pipelines read naturally.
  */
/** A table name in the pipeline failed to resolve (dropped table, bad
  * reference). `union isfuzzy=true` tolerates exactly this failure and
  * nothing else — semantic errors in resolvable operands still propagate.
  */
final class UnresolvedTableException(val table: String, cause: Throwable)
    extends RuntimeException(s"KQL pipeline: unresolved table reference '$table'", cause)

object KqlPipeline {

  /** Parse and run `kql` against tables provided by `resolve`.
    *
    * A query is `let` statements (separated by top-level `;`) followed by one
    * tabular expression. Tabular lets (`let Big = orders | where …;`, or a
    * bare table alias, or a source operator) extend the table catalog and are
    * compiled lazily on use; scalar lets (`let cutoff = 100.0;`) are
    * macro-substituted into later statements at identifier boundaries outside
    * string literals — exactly KQL's constant-binding semantics. Don't reuse
    * a scalar let's name as an output column name (the substitution would
    * rewrite the assignment's left-hand side too, as in ADX shadowing).
    */
  /** Catalog-aware entry point: adds the `.show tables` management command
    * (the reference's table-existence probe, `.show tables | where TableName
    * == 'x' | count` — DeltaTableOrchestration.cs:233-238). A leading
    * `.show tables` yields a one-column `TableName` frame of the catalog,
    * and the rest of the pipeline applies normally. Non-dot queries route to
    * the resolver-based [[run]].
    */
  def run(tables: Map[String, DataFrame], kql: String): DataFrame = {
    val text = stripComments(kql).trim
    if (!text.startsWith(".")) run(tables.apply _, kql)
    else {
      require(text.toLowerCase.startsWith(".show tables"),
        s"only the `.show tables` management command is supported, got: '${text.take(40)}…'")
      val session = tables.values.headOption.map(_.sparkSession)
        .getOrElse(org.apache.spark.sql.SparkSession.active)
      val base = session.createDataFrame(
        tables.keys.toSeq.sorted.map(Tuple1(_))).toDF("TableName")
      val rest = text.drop(".show tables".length).trim
      val segs = splitTopLevel(rest, '|').map(_.trim).filter(_.nonEmpty)
      segs.foldLeft(base)(applyOp(tables.apply))
    }
  }

  def run(resolve: String => DataFrame, kql: String): DataFrame = {
    val (res, fin) = compileStatements(resolve, kql)
    runPipeline(res, fin)
  }

  /** Run a query containing `fork` or `facet` — the two ADX operators
    * that return MULTIPLE result tables and therefore can't fit [[run]]'s
    * one-DataFrame contract. Returns (name, frame) legs in declaration
    * order.
    *
    *  - `… | fork [name =] (sub-pipeline) [name =] (…) …`: each leg's
    *    sub-pipeline applies to the frame-so-far; unnamed legs are
    *    `fork_1, fork_2, …` (ADX auto-names similarly).
    *  - `… | facet by c1, c2 [with (sub-pipeline)]`: one leg per column —
    *    its distinct values with `count_` (the ADX facet table shape) —
    *    plus a `query` leg when `with (…)` is given.
    *
    * Operators AFTER the multi-table split (`… | fork (…) (…) | top 3`)
    * apply to EVERY leg, each leg keeping its own independent pipeline —
    * the ADX per-leg continuation shape.
    *
    * `as` bindings made before the fork are not visible inside legs
    * (documented divergence; bind with `let` instead).
    */
  def runMulti(tables: Map[String, DataFrame], kql: String): Seq[(String, DataFrame)] = {
    val (res, fin) = compileStatements(tables.apply _, kql)
    val segs = splitTopLevel(fin, '|').map(_.trim).filter(_.nonEmpty)
    val idx = segs.indexWhere { s =>
      val w0 = s.takeWhile(!_.isWhitespace).toLowerCase
      w0 == "fork" || w0 == "facet" ||
        (w0 == "evaluate" && s.stripPrefix("evaluate").trim.toLowerCase.startsWith("preview"))
    }
    require(idx >= 1, "runMulti needs a source, then a fork/facet/preview operator")
    val last     = segs(idx)
    val tailSegs = segs.drop(idx + 1)
    val w = last.takeWhile(!_.isWhitespace).toLowerCase
    val base = runPipeline(res, segs.take(idx).mkString(" | "))
    val legsOut: Seq[(String, DataFrame)] = w match {
      case "fork" =>
        val NameEq = """(?s)^([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(\(.*)$""".r
        var rest = last.drop("fork".length).trim
        val legs = Seq.newBuilder[(String, DataFrame)]
        var i = 0
        while (rest.nonEmpty) {
          i += 1
          val (name, parens) = rest match {
            case NameEq(nm, p)            => (nm, p)
            case p if p.startsWith("(")   => (s"fork_$i", p)
            case p => fail(s"fork leg must be `[name =] (sub-pipeline)`, got: '$p'")
          }
          val (sub, tail) = takeGroup(parens, '(', ')')
          val legSegs = splitTopLevel(sub, '|').map(_.trim).filter(_.nonEmpty)
          legs += name -> legSegs.foldLeft(base)(applyOp(res))
          rest = tail.trim
        }
        val out = legs.result()
        require(out.nonEmpty, "fork needs at least one (sub-pipeline) leg")
        out
      case "facet" =>
        val FacetRe = """(?is)^facet\s+by\s+(.+?)(?:\s+with\s*(\(.*\))\s*)?$""".r
        last match {
          case FacetRe(colsS, withS) =>
            val cols = splitTopLevel(colsS, ',').map(_.trim)
            cols.foreach(c => require(c.matches("[A-Za-z_][A-Za-z0-9_]*"),
              s"facet columns must be bare names, got: '$c'"))
            val facets = cols.map { c =>
              c -> base.groupBy(col(c)).agg(count(lit(1)).as("count_"))
            }
            val query = Option(withS).toSeq.map { p =>
              val (sub, _) = takeGroup(p, '(', ')')
              val legSegs = splitTopLevel(sub, '|').map(_.trim).filter(_.nonEmpty)
              "query" -> legSegs.foldLeft(base)(applyOp(res))
            }
            facets ++ query
          case _ => fail(s"facet needs `facet by c1[, c2] [with (sub-pipeline)]`, got: '$last'")
        }
      // `evaluate preview(N)`: ADX's two-table peek — the first N rows plus
      // the total row count. The sample leg is a plain limit (no sort, no
      // full scan); the count leg is the one aggregate.
      case "evaluate" if last.stripPrefix("evaluate").trim.toLowerCase.startsWith("preview") =>
        val body = last.stripPrefix("evaluate").trim
        val (inner, tail) = takeGroup(body.drop("preview".length), '(', ')')
        require(tail.trim.isEmpty, s"unexpected trailing text after preview(…): '$tail'")
        val n = inner.trim.toInt
        require(n > 0, s"preview needs a positive row count: '$inner'")
        Seq("preview" -> base.limit(n),
          "count" -> base.agg(count(lit(1)).as("Count")))
      case other => fail(s"runMulti's final operator must be fork, facet or evaluate preview, got: '$other'")
    }
    // per-leg continuation: every segment after the split applies to each leg
    legsOut.map { case (nm, df) => nm -> tailSegs.foldLeft(df)(applyOp(res)) }
  }

  /** The shared statement machinery behind [[run]]/[[runMulti]]: processes
    * `let` statements (scalar macro bindings, tabular catalog extensions,
    * lambda functions), lazily-memoized `toscalar`, and `invoke` expansion.
    * Returns the let-aware resolver and the fully-preprocessed final
    * tabular statement.
    */
  private def compileStatements(
      resolve: String => DataFrame, kql: String): (String => DataFrame, String) = {
    val stmts = splitTopLevel(stripComments(kql), ';').map(_.trim).filter(_.nonEmpty)
    require(stmts.nonEmpty, "empty KQL query")
    var scalars = Vector.empty[(String, String)]
    var tabular = Map.empty[String, String]
    var lambdas = Map.empty[String, LambdaDef]
    // one Spark job per DISTINCT toscalar subquery text, run at first use —
    // a toscalar in a branch nothing consumes never runs at all
    val toscalarMemo = scala.collection.mutable.Map.empty[String, String]
    val compiledBody = scala.collection.mutable.Map.empty[String, String]
    lazy val resolveWithLets: String => DataFrame = name =>
      tabular.get(name) match {
        case Some(body) =>
          // toscalar substitution happens at compile-on-first-use, then the
          // substituted body is reused (the literal is stable: ADX binds a
          // let once per query, not per reference)
          runPipeline(resolveWithLets, compiledBody.getOrElseUpdate(name,
            substituteToscalarCalls(resolveWithLets, toscalarMemo, body)))
        case None => resolve(name)
      }
    stmts.dropRight(1).foreach { stmt =>
      require(stmt.toLowerCase.startsWith("let") && stmt.length > 3 &&
        stmt.charAt(3).isWhitespace,
        s"only the final statement may be a query, got: '$stmt'")
      val (name, rhs0) = assignment(stmt.drop(4).trim).getOrElse(
        fail(s"let needs `let name = <expr or pipeline>`, got: '$stmt'"))
      // toscalar(…) anywhere in the rhs stays TEXT here — it inlines as a
      // typed literal only when a consuming statement compiles (laziness),
      // with earlier lets visible through resolveWithLets at that point, so
      // `let m = toscalar(T | …)` AND `let T2 = T | where x > toscalar(…)`
      // both work and neither runs a job unless actually referenced
      val rhs = expandInvokes(lambdas,
        substituteScalars(rhs0.trim, scalars))
      // `let f = (T:(*), p:long [= dflt], …) { body };` — an ADX lambda
      // function; `| invoke f(args)` macro-expands it at the call site
      parseLambda(rhs) match {
        case Some(lam) =>
          lambdas += name -> lam
        case None =>
      // tabular iff: has a top-level pipe, is a source operator, or is a bare
      // identifier (a table/tabular-let alias — scalar lets were already
      // substituted away above, so a surviving bare identifier names a table)
      val inner0 = if (rhs.startsWith("(") && rhs.endsWith(")"))
        rhs.substring(1, rhs.length - 1).trim else rhs
      // `materialize(…)` is ADX's caching hint; plan-identical here (Spark
      // reuses identical exchange subtrees across uses automatically)
      val inner = {
        val l = inner0.toLowerCase
        if (l.startsWith("materialize") &&
            inner0.drop("materialize".length).trim.startsWith("(") &&
            inner0.endsWith(")")) {
          val body = inner0.drop("materialize".length).trim
          body.substring(1, body.length - 1).trim
        } else inner0
      }
      // keyword literals are scalars even though they look like bare
      // identifiers (`let flag = true;` must not route to the table catalog)
      val isKeywordLiteral =
        Set("true", "false", "null").contains(inner.toLowerCase)
      // `let x = toscalar(T | …);` classifies as a SCALAR binding (no
      // top-level pipe: splitTopLevel respects the parens); the subquery
      // runs later, on first use, and is driver-bounded by construction
      // (toscalar is only meaningful on a 1×1 result).
      if (!isKeywordLiteral && (splitTopLevel(inner, '|').size > 1 ||
          isSource(inner) || inner.matches("[A-Za-z_][A-Za-z0-9_]*")))
        tabular += name -> inner
      else scalars :+= (name -> rhs)
      }
    }
    (resolveWithLets, substituteToscalarCalls(resolveWithLets,
      toscalarMemo, expandInvokes(lambdas,
        substituteScalars(stmts.last, scalars))))
  }

  /** An ADX lambda function bound by `let`: the tabular parameter's name,
    * the scalar parameters (name, optional default text), and the body.
    */
  private final case class LambdaDef(
      tabParam: String, params: Seq[(String, Option[String])], body: String)

  /** Parse `(T:(*), p:long [= default], …) { body }` — None if `rhs` isn't
    * a lambda literal. The tabular parameter (type spec in parens, e.g.
    * `(*)` or an explicit schema) must come first, as in ADX.
    */
  private def parseLambda(rhs: String): Option[LambdaDef] = {
    if (!rhs.startsWith("(")) return None
    val (ps, after) = takeGroup(rhs, '(', ')')
    val aft = after.trim
    if (!(aft.startsWith("{") && aft.endsWith("}"))) return None
    val body = aft.substring(1, aft.length - 1).trim
    val items = splitTopLevel(ps, ',').map(_.trim).filter(_.nonEmpty)
    require(items.nonEmpty, "lambda needs at least a tabular parameter")
    val TabRe    = """(?s)([A-Za-z_][A-Za-z0-9_]*)\s*:\s*\(.*\)""".r
    val ScalarRe = """(?s)([A-Za-z_][A-Za-z0-9_]*)\s*:\s*[A-Za-z_][A-Za-z0-9_]*\s*(?:=\s*(.+))?""".r
    val tab = items.head match {
      case TabRe(nm) => nm
      case p => fail(s"lambda's first parameter must be tabular (`T:(*)`), got: '$p'")
    }
    val params = items.tail.map {
      case TabRe(nm) => fail(s"lambda allows one tabular parameter (first); '$nm' is second")
      case ScalarRe(nm, dflt) => nm -> Option(dflt).map(_.trim)
      case p => fail(s"lambda scalar parameter must be `name:type [= default]`, got: '$p'")
    }
    Some(LambdaDef(tab, params, body))
  }

  /** Macro-expand every `invoke f(args)` call in `stmt`: scalar arguments
    * substitute into the lambda body at identifier boundaries; the body
    * must start from its tabular parameter, which binds to the frame-so-far
    * via a fresh `| as` name (so the body may also reference it in join/
    * union operands). Expansion recurses for lambdas calling lambdas,
    * depth-capped to fail loudly on cycles.
    */
  private def expandInvokes(
      lambdas: Map[String, LambdaDef], stmt: String, depth: Int = 0): String = {
    require(depth < 32, "invoke expansion exceeded depth 32 — lambda cycle?")
    val idx = stmt.toLowerCase.indexOf("invoke")
    if (idx < 0) return stmt
    def skipThis(): String =
      stmt.substring(0, idx + 6) +
        expandInvokes(lambdas, stmt.substring(idx + 6), depth)
    val boundary = (idx == 0 || {
      val c = stmt.charAt(idx - 1); !c.isLetterOrDigit && c != '_'
    }) && (idx + 6 >= stmt.length || !stmt.charAt(idx + 6).isLetterOrDigit)
    if (!boundary || insideLiteral(stmt, idx)) return skipThis()
    val NameRe = """(?s)\s*([A-Za-z_][A-Za-z0-9_]*)\s*(\(.*)""".r
    stmt.substring(idx + 6) match {
      case NameRe(fn, rest) =>
        val lam = lambdas.getOrElse(fn, fail(
          s"invoke: unknown function '$fn' — bind it first with " +
            s"`let $fn = (T:(*), …) { … };`"))
        val (argsS, tail) = takeGroup(rest, '(', ')')
        val args = splitTopLevel(argsS, ',').map(_.trim).filter(_.nonEmpty)
        require(args.size <= lam.params.size,
          s"invoke $fn: ${args.size} arguments for ${lam.params.size} parameters")
        val bound = lam.params.zipWithIndex.map { case ((nm, dflt), i) =>
          nm -> args.lift(i).orElse(dflt).getOrElse(
            fail(s"invoke $fn: missing argument for parameter '$nm' (no default)"))
        }
        val body = substituteScalars(lam.body, bound)
        val segs = splitTopLevel(body, '|').map(_.trim).filter(_.nonEmpty)
        require(segs.nonEmpty && segs.head == lam.tabParam,
          s"invoke $fn: lambda body must start from its tabular parameter " +
            s"'${lam.tabParam}', got: '${segs.headOption.getOrElse("")}'")
        val fresh = s"__graft_invoke_${invokeCounter.getAndIncrement()}"
        val re = ("""(?<![A-Za-z0-9_.$])""" +
          java.util.regex.Pattern.quote(lam.tabParam) + """(?![A-Za-z0-9_])""").r
        val rewritten = segs.tail.map { seg =>
          re.replaceAllIn(seg, m =>
            if (insideLiteral(seg, m.start)) m.matched else fresh)
        }
        val expansion = (s"as $fresh" +: rewritten).mkString(" | ")
        expandInvokes(lambdas,
          stmt.substring(0, idx) + expansion + tail, depth + 1)
      case _ => skipThis()
    }
  }

  private val invokeCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Replace every top-level `toscalar(sub-pipeline)` call in `stmt` with
    * the literal rendering of its 1×1 result (first column of the first
    * row — ADX semantics). Occurrences inside string literals are
    * untouched. Each distinct subquery text runs at most once per query
    * (`memo`); the subquery is driver-bounded by construction (toscalar is
    * only meaningful on a 1×1 result).
    */
  private def substituteToscalarCalls(
      resolve: String => DataFrame,
      memo: scala.collection.mutable.Map[String, String],
      stmt: String): String = {
    val idx = stmt.toLowerCase.indexOf("toscalar")
    if (idx < 0) return stmt
    def skipThis(): String =
      stmt.substring(0, idx + 8) +
        substituteToscalarCalls(resolve, memo, stmt.substring(idx + 8))
    val boundary = idx == 0 || {
      val c = stmt.charAt(idx - 1); !c.isLetterOrDigit && c != '_'
    }
    if (!boundary || insideLiteral(stmt, idx)) return skipThis()
    val parenAt = stmt.indexWhere(!_.isWhitespace, idx + 8)
    if (parenAt < 0 || stmt.charAt(parenAt) != '(') return skipThis()
    val (sub, tail) = takeGroup(stmt.substring(parenAt), '(', ')')
    // nested toscalar: a let scalar referencing ANOTHER toscalar binding
    // arrives here as that binding's literal call text — resolve inner
    // calls first (inner-most evaluates first, memoized as usual) so the
    // subquery pipeline never parses a raw toscalar token. Explicit
    // get/update rather than getOrElseUpdate: the recursion mutates the
    // SAME memo while the default is being computed
    val key = sub.trim
    val lit = memo.get(key) match {
      case Some(v) => v
      case None =>
        val sub2 = substituteToscalarCalls(resolve, memo, key)
        val row  = runPipeline(resolve, sub2).limit(1).collect()
        require(row.nonEmpty, s"toscalar subquery returned no rows: '$sub'")
        val v = scalarLiteral(row.head.get(0))
        memo(key) = v
        v
    }
    stmt.substring(0, idx) + lit + substituteToscalarCalls(resolve, memo, tail)
  }

  private def runPipeline(resolve: String => DataFrame, kql: String): DataFrame = {
    val segs = splitTopLevel(kql, '|').map(_.trim).filter(_.nonEmpty)
    require(segs.nonEmpty, "empty KQL pipeline")
    // `| as name` binds the frame-so-far for later operands in THIS pipeline
    // (`T | as X | join (X | …) on k` — the ADX self-reference idiom)
    var bindings = Map.empty[String, DataFrame]
    // `| make-graph …` declares the edge/node frames for the one operator
    // that consumes them, `| graph-match …` — fused here in the fold (like
    // `as`) because a graph is not a DataFrame-shaped pipeline value
    var graph: Option[GraphCtx] = None
    lazy val res: String => DataFrame = name =>
      bindings.getOrElse(name, resolve(name))
    segs.tail.foldLeft(source(res, segs.head)) { (df, seg) =>
      val w = seg.takeWhile(!_.isWhitespace).toLowerCase
      if (w == "as") {
        val name = seg.drop(2).trim
        require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"`as` needs a bare name, got: '$seg'")
        bindings += name -> df
        df
      } else if (w == "make-graph") {
        graph = Some(makeGraph(res, df, seg.drop("make-graph".length).trim))
        df
      } else if (w == "graph-match") {
        graphMatch(graph.getOrElse(
          fail("graph-match needs a preceding `make-graph` in the same pipeline")),
          seg.drop("graph-match".length).trim)
      } else if (w == "graph-shortest-paths") {
        graphShortestPaths(graph.getOrElse(
          fail("graph-shortest-paths needs a preceding `make-graph` in the same pipeline")),
          seg.drop("graph-shortest-paths".length).trim)
      } else if (w == "graph-mark-components") {
        val g = graph.getOrElse(
          fail("graph-mark-components needs a preceding `make-graph` in the same pipeline"))
        graph = Some(g.copy(nodes =
          markComponents(g, seg.drop("graph-mark-components".length).trim)))
        df
      } else if (w == "graph-to-table") {
        // `graph-to-table nodes|edges`: materialize one side of the graph
        // as a plain frame (ADX's dual-output form is one call per side
        // here — compose with `fork` legs for both at once)
        val g = graph.getOrElse(
          fail("graph-to-table needs a preceding `make-graph` in the same pipeline"))
        seg.drop("graph-to-table".length).trim.toLowerCase match {
          case "" | "edges" => g.edges
          case "nodes"      => g.nodes
          case other        => fail(s"graph-to-table expects `nodes` or `edges`, got: '$other'")
        }
      } else applyOp(res)(df, seg)
    }
  }

  /** Edge frame + endpoint columns + node frame + its id column — what
    * `make-graph` declares and `graph-match` joins over.
    */
  private final case class GraphCtx(
      edges: DataFrame, src: String, dst: String, nodes: DataFrame, id: String,
      implicitNodes: Boolean = false)

  /** `make-graph src --> dst [with <nodesRef> on <idCol>]`: the piped frame
    * is the edge list; nodes come from the referenced table/let (or, when
    * omitted, the distinct endpoint set with a single `node_id` column —
    * ADX's implicit-nodes behavior).
    */
  private def makeGraph(res: String => DataFrame, df: DataFrame, rest: String): GraphCtx = {
    val (edgePart, withPart) = splitAtTopLevelKeyword(rest, "with")
    val arrow = edgePart.indexOf("-->")
    require(arrow > 0, s"make-graph needs `src --> dst`, got: '$rest'")
    val src = edgePart.substring(0, arrow).trim
    val dst = edgePart.substring(arrow + 3).trim
    Seq(src, dst).foreach(c2 => require(df.columns.contains(c2),
      s"make-graph: unknown edge column '$c2'"))
    withPart match {
      case Some(wp) =>
        val (ref, onPart) = splitAtTopLevelKeyword(wp, "on") match {
          case (r, Some(o)) => (r.trim, o.trim)
          case _            => fail(s"make-graph `with` needs `on <idColumn>`: '$rest'")
        }
        require(ref.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"make-graph: nodes must be a table or let name, got: '$ref'")
        GraphCtx(df, src, dst, res(ref), onPart)
      case None =>
        val nodes = df.select(col(src).as("node_id"))
          .union(df.select(col(dst).as("node_id"))).distinct()
        GraphCtx(df, src, dst, nodes, "node_id", implicitNodes = true)
    }
  }

  /** `graph-mark-components [kind = weak] [with_component_id = name]` —
    * ADX's connected-components operator: every node gains a component id
    * (the MIN node id reachable over UNDIRECTED edges — deterministic and
    * restatable by a recursive-closure oracle), and the graph flows on for
    * `graph-to-table nodes` / further graph operators. Only weak
    * components exist in ADX; `kind=strong` is rejected loudly.
    *
    * Iterative min-label propagation WITH pointer jumping — the
    * DedupFunctions.connectedComponents recipe (one key shuffle per round,
    * flat per-round plans) accelerated by relabeling through the label's
    * own label each round (rounds = log2(diameter)), re-expressed for
    * ARBITRARY node-id types: that implementation's decimal label-sum
    * convergence signature needs numeric ids, while graph node ids here
    * are routinely strings ('c123'), so convergence is instead an
    * is-empty probe of changed labels (labels only ever decrease under
    * min-propagation — unchanged ⟺ converged).
    */
  private def markComponents(g: GraphCtx, rest0: String, maxIters: Int = 25): DataFrame = {
    var rest = rest0
    val KindRe = "(?is)^kind\\s*=\\s*([A-Za-z]+)\\s*(.*)$".r
    rest match {
      case KindRe(k, tail) =>
        require(k.equalsIgnoreCase("weak"),
          s"graph-mark-components: only kind=weak exists (ADX contract), got kind=$k")
        rest = tail.trim
      case _ =>
    }
    val compCol = rest match {
      case "" => "ComponentId"
      case r =>
        val WithRe = "(?is)^with_component_id\\s*=\\s*([A-Za-z_][A-Za-z0-9_]*)$".r
        r match {
          case WithRe(c) => c
          case _ => fail(s"graph-mark-components: unsupported arguments '$rest0'")
        }
    }
    require(!g.nodes.columns.contains(compCol),
      s"graph-mark-components: node column '$compCol' already exists")
    // materialized once: the checkpoint keeps each round's join from
    // re-deriving g.edges (previously re-run every round); blocks are
    // released after convergence (the returned labels are themselves
    // checkpointed — no lineage back). Deliberately NOT pre-partitioned on
    // __d — cached partition counts are AQE-opaque, so a repartition here
    // would force full-width scan stages every round on small graphs
    val und = g.edges.select(col(g.src).as("__s"), col(g.dst).as("__d"))
      .union(g.edges.select(col(g.dst).as("__s"), col(g.src).as("__d")))
      .localCheckpoint(true)
    // localCheckpoint per round: flat plans (the BPE-trainer lesson) and
    // block lifetime tied to frame reachability — no cache-registry leak.
    // Round 1 fused into initialization: with labels₀(id)=id the first
    // round's pointer-jump leg is the identity and its neighbor leg is
    // exactly "adopt min(id, min neighbor id)" — one aggregation + left
    // join replaces a full 3-way union round (min is defined for string
    // node ids too, same ordering the loop's min-propagation uses)
    val minNbr = und.groupBy(col("__s").as("__id")).agg(min(col("__d")).as("__nbr"))
    var labels = g.nodes.select(col(g.id).as("__id"))
      .join(minNbr.hint("shuffle_hash"), Seq("__id"), "left")
      .select(col("__id"),
        least(col("__id"), coalesce(col("__nbr"), col("__id"))).as("__lbl"))
      .localCheckpoint(true)
    var converged = false
    var iter      = 0
    val lblNull = lit(null).cast(labels.schema("__lbl").dataType)
    while (!converged && iter < maxIters) {
      val viaNeighbor = und
        .join(labels.select(col("__id").as("__d"), col("__lbl")).hint("shuffle_hash"), Seq("__d"))
        .select(col("__s").as("__id"), col("__lbl"))
      // pointer-jumping: every label is itself a node id in the same
      // component, so relabeling through the LABEL'S OWN label halves the
      // remaining pointer-chain each round — rounds grow with
      // log(diameter), not diameter, so maxIters=25 covers components of
      // diameter ~2^25 (a long-chain component at large SF no longer
      // aborts; the loud non-convergence failure stays as a true backstop).
      // Skipped for the first two loop rounds: after the fused
      // min-neighbor init a jump only beats the neighbor leg on components
      // of diameter ≥ 5, so shallow graphs never pay its exchange
      val legs = Seq(
        labels.select(col("__id"), col("__lbl"), col("__lbl").as("__old")),
        viaNeighbor.select(col("__id"), col("__lbl"), lblNull.as("__old"))) ++
        (if (iter < 2) Nil else Seq(
          labels.join(
              labels.select(col("__id").as("__lbl"), col("__lbl").as("__lbl2")).hint("shuffle_hash"),
              Seq("__lbl"))
            .select(col("__id"), col("__lbl2").as("__lbl"), lblNull.as("__old"))))
      // convergence probe rides the SAME shuffle as the min-aggregation:
      // the self leg carries its old label as __old, max(__old) recovers it
      // per node (exactly one self row per id; the other legs contribute
      // null), and "no label moved" is a cheap scan of the checkpointed
      // frame — no per-round join-and-compare job (that probe cost +46%
      // local time in the round-9 record)
      val next = legs.reduce(_.union(_))
        .groupBy("__id").agg(min(col("__lbl")).as("__lbl"), max(col("__old")).as("__prev"))
        .localCheckpoint(true)
      converged = next.filter(col("__lbl") =!= col("__prev")).isEmpty
      // release round N-1's checkpoint blocks now that round N materialized
      graft.util.Checkpoints.release(labels)
      labels = next.select(col("__id"), col("__lbl"))
      iter += 1
    }
    graft.util.Checkpoints.release(und)
    require(converged,
      s"graph-mark-components did not converge within $maxIters pointer-doubling rounds — " +
        "a component's diameter exceeds ~2^" + maxIters)
    g.nodes.join(
      labels.select(col("__id").as(g.id), col("__lbl").as(compCol)), Seq(g.id))
  }

  private final case class GraphHop(
      edge: String, range: Option[(Int, Int)], node: String)

  /** `graph-match (a)-[e1]->(b)-[e*1..3]->(c) [, (b)-[e2]->(d) …]
    * [where <pred>] [project <items>]` — one or several comma-separated
    * path patterns with optional BOUNDED variable-length edges. Node
    * variables MAY repeat, within a path (closed cycles
    * `(a)-[e1]->(b)-[e2]->(a)`) and across paths (trees / branches
    * `(a)-[e1]->(b), (a)-[e2]->(c)`): a repeated variable binds to the
    * SAME node, lowered as an equality constraint folded into the one
    * existing alias's join instead of a second join. Edge variables must
    * stay distinct — each names its own edge element (the ADX contract) —
    * and every path after the first must START at an already-bound node
    * variable (a disconnected pattern would be a cross product; rejected).
    * Matching is homomorphic: two edge variables may bind the same edge
    * row, as in ADX.
    *
    * Lowering is pure Catalyst: one aliased join per pattern element —
    * node and edge predicates push into the scans, the optimizer picks
    * broadcast vs shuffle per hop, and AQE re-plans skewed hops — so a
    * pattern match scales exactly like the equivalent hand-written join
    * chain.
    *
    * A variable hop `-[e*lo..hi]->` expands to the UNION of the fixed
    * chains of lo..hi edges (intermediate endpoints membership-checked
    * against the node frame, matching ADX); the hop count rides along as
    * `<e>_hops`, and `all(e.col)` / `any(e.col)` in the where/project
    * collect the hop edges' `col` values into a hop-ordered array for the
    * expansion branch at hand (compose with array_sum/array_length/…;
    * ADX's predicate forms all(e, pred)/any(e, pred) are not parsed).
    * Because the union flattens the per-branch aliases, a pattern WITH a
    * variable hop requires an explicit `project`.
    *
    * SCALE CROSSOVER (pinned by PlanSpec "graph-match varlen"): the chain
    * union enumerates PATHS — that is the ADX contract, and queries that
    * aggregate per path (`all(e.col)` folds, path counts) need it. Path
    * volume grows with avg-degree^hi, so on dense graphs at hi > 4 the
    * union legs dominate; the hi <= 8 bound is that cost guard. When the
    * question is pair REACHABILITY (no per-path aggregates, multiplicity
    * irrelevant), use `graph-shortest-paths` instead: level-synchronous
    * BFS, one frontier shuffle per level, first-reach pruning — the same
    * answer set at O(hi) joins regardless of path multiplicity.
    */
  private def graphMatch(g: GraphCtx, rest: String): DataFrame = {
    import java.util.regex.{Matcher, Pattern}
    val (beforeProject, projectPart) = splitAtTopLevelKeyword(rest, "project")
    val (patternStr, wherePart)      = splitAtTopLevelKeyword(beforeProject, "where")
    val NodeRe = """^\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*""".r
    val HopRe  = ("""^-\[\s*([A-Za-z_][A-Za-z0-9_]*)""" +
      """(?:\s*\*\s*(\d+)\s*\.\.\s*(\d+))?\s*\]->\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*""").r
    var seenEdges = Set.empty[String]
    final case class GraphPath(start: String, hops: Seq[GraphHop])
    val paths = splitTopLevel(patternStr, ',').map(_.trim).filter(_.nonEmpty).map { pat =>
      var s2 = pat
      val first = NodeRe.findPrefixMatchOf(s2).getOrElse(
        fail(s"graph-match pattern must start with `(node)`, got: '$pat'"))
      s2 = s2.drop(first.matched.length)
      require(s2.nonEmpty, s"graph-match needs at least one edge: '$pat'")
      val hops = Seq.newBuilder[GraphHop]
      while (s2.nonEmpty) {
        val m = HopRe.findPrefixMatchOf(s2).getOrElse(
          fail(s"bad graph-match pattern near: '$s2'"))
        val range = Option(m.group(2)).map { lo0 =>
          val (lo, hi) = (lo0.toInt, m.group(3).toInt)
          require(lo >= 1 && hi >= lo && hi <= 8,
            s"variable-length hop needs 1 <= lo <= hi <= 8, got *$lo0..${m.group(3)}")
          (lo, hi)
        }
        require(!seenEdges(m.group(1)),
          s"graph-match: edge variable '${m.group(1)}' repeats (each names its own edge element)")
        seenEdges += m.group(1)
        hops += GraphHop(m.group(1), range, m.group(4))
        s2 = s2.drop(m.matched.length)
      }
      GraphPath(first.group(1), hops.result())
    }
    val allHops = paths.flatMap(_.hops)
    require(allHops.nonEmpty, s"graph-match needs at least one edge: '$patternStr'")

    // Implicit-node elision (optimization round 17): an implicit node set is
    // BY CONSTRUCTION the distinct endpoints of the edge frame, so every
    // node-frame join in the chain lowering is a semantic no-op — an edge's
    // src/dst always matches exactly one distinct-endpoint row. Joining them
    // anyway cost a full distinct-aggregate over the edge subtree PER node
    // variable PER chain (the 100× profile of q_kql_graph_varlen_agg: 78
    // parquet scans / 52 exchanges for a *1..2 pattern). When the pattern
    // has an explicit `project` (so the output schema is pinned by the query
    // text), bind each node variable textually to its edge endpoint column
    // instead — the same move graphShortestPaths' seed pass makes. Explicit
    // node frames keep the join lowering: they carry real node columns
    // (x.kind) and possibly restrict membership.
    val elide = g.implicitNodes && projectPart.isDefined
    val choices = allHops.map(h => h.range.map { case (lo, hi) => lo to hi }.getOrElse(1 to 1))
    val combos  = choices.foldLeft(Seq(Seq.empty[Int]))((acc, r) =>
      acc.flatMap(pfx => r.map(pfx :+ _)))
    require(combos.size <= 64,
      s"variable-length expansion too large (${combos.size} > 64 chains)")
    // The edge frame is consumed once per hop per chain; left lazy, every
    // consumer re-derives the whole edge subtree (join + union + filters).
    // One eager localCheckpoint materializes it once — block lifetime ties
    // to frame reachability (the markComponents pattern). NOTE: the
    // checkpoint is eager, so lowering a multi-hop elided pattern executes
    // one Spark job over the edge subtree at DataFrame-CONSTRUCTION time —
    // plan-only consumers (PlanDump, plan specs) pay that materialization
    // even if the query is never collected (accepted trade, r17 advice:
    // same posture as markComponents/BFS). NO distinct here: graph-match
    // is homomorphic path enumeration, parallel edges are distinct
    // matches. Single-consumer patterns skip the materialization.
    //
    // NULL endpoints (r17 advice, medium): the node-join lowering admits
    // only edges with BOTH endpoints non-null — every src is equi-joined
    // against a node id (first hop: start.id === e.src) and every dst
    // against a node id or membership projection. The elided chain starts
    // at the bare edge frame and binds first-src/last-dst textually, so
    // NULL-src-first-edge / NULL-dst-last-edge rows would survive only
    // under elision. Reproduce the join lowering's drops once up front:
    // elision must return EXACTLY the node-join lowering's rows (pinned by
    // the PlanSpec A/B, which carries null-endpoint edges).
    val gEdges = {
      val base = if (elide)
        g.edges.filter(col(g.src).isNotNull && col(g.dst).isNotNull)
      else g.edges
      if (elide && combos.map(_.sum).sum > 1) base.localCheckpoint(true) else base
    }

    // `all(e.col)` / `any(e.col)` over a variable hop's edges → the
    // hop-ordered array of this branch's per-edge values
    // both rewrites run through rewriteOutsideLiterals: string literals in
    // the where/project text stay verbatim (r17 advice — a rewrite inside a
    // literal would fire only under elision and diverge from the join
    // lowering, which never rewrites)
    def branchTx(s: String, hopAliases: Map[String, Seq[String]]): String =
      rewriteOutsideLiterals(s) { seg =>
        hopAliases.foldLeft(seg) { case (acc, (e, aliases)) =>
          val re = ("""(?i)(?<![A-Za-z0-9_])(?:all|any)\s*\(\s*""" +
            Pattern.quote(e) +
            """\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)""").r
          re.replaceAllIn(acc, m => Matcher.quoteReplacement(
            aliases.map(a => s"$a.${m.group(1)}").mkString("array(", ", ", ")")))
        }
      }

    // under elision `x.node_id` refs rewrite to the bound edge endpoint
    // column (`__ge1.src`) — implicit nodes carry ONLY the id column
    def nodeTx(s: String, bound: Map[String, String]): String =
      if (!elide) s
      else rewriteOutsideLiterals(s) { seg =>
        bound.foldLeft(seg) { case (acc, (v, ref)) =>
          ("(?i)(?<![A-Za-z0-9_.])" + Pattern.quote(v) + """\s*\.\s*""" +
            Pattern.quote(g.id) + "(?![A-Za-z0-9_])").r
            .replaceAllIn(acc, Matcher.quoteReplacement(ref))
        }
      }

    def projected(frame: DataFrame, hopAliases: Map[String, Seq[String]],
                  bound: Map[String, String]): DataFrame =
      projectPart match {
        case Some(items) =>
          val cols = splitTopLevel(items, ',').map(_.trim).filter(_.nonEmpty).map { it =>
            assignment(it) match {
              case Some((n2, e2)) => expr(tx(branchTx(nodeTx(e2, bound), hopAliases))).as(n2)
              case None           => expr(tx(branchTx(nodeTx(it, bound), hopAliases)))
            }
          }
          frame.select(cols: _*)
        case None => frame
      }

    /** One fixed chain across all paths: each hop contributes `lengths(i)`
      * edges; anonymous intermediates are membership-checked id-only node
      * projections; a repeated node variable folds to an equality filter
      * on its existing alias. Returns the frame plus the per-variable-hop
      * edge aliases this branch used (for all()/any()).
      */
    def chain(lengths: Seq[Int]): (DataFrame, Map[String, Seq[String]], Map[String, String]) = {
      var out: DataFrame = null
      var bound      = Map.empty[String, String]      // node var → qualified id
      var hopAliases = Map.empty[String, Seq[String]] // varlen edge → aliases
      var anon = 0
      var li   = 0
      paths.foreach { p =>
        // under elision the first path's start variable binds at its first
        // edge join (to that edge's src column) — `null` marks the deferral
        var prev = bound.getOrElse(p.start, {
          require(out == null,
            s"graph-match: path starting at unbound '${p.start}' is disconnected " +
              "(a cross product) — start later paths at an already-bound node variable")
          if (elide) null
          else {
            out    = g.nodes.alias(p.start)
            bound += p.start -> s"${p.start}.${g.id}"
            s"${p.start}.${g.id}"
          }
        })
        p.hops.foreach { h =>
          val len = lengths(li); li += 1
          val branchAliases = Seq.newBuilder[String]
          for (i <- 1 to len) {
            val last   = i == len
            val eAlias = if (h.range.isEmpty) h.edge else { anon += 1; s"__ge$anon" }
            branchAliases += eAlias
            val eFrame = gEdges.alias(eAlias)
            if (prev == null) {
              out    = eFrame
              bound += p.start -> s"$eAlias.${g.src}"
              prev   = s"$eAlias.${g.src}"
            } else {
              out = out.join(eFrame, col(prev) === col(s"$eAlias.${g.src}"))
            }
            if (last) {
              bound.get(h.node) match {
                case Some(ref) =>
                  out  = out.filter(col(s"$eAlias.${g.dst}") === col(ref))
                  prev = ref
                case None if elide =>
                  bound += h.node -> s"$eAlias.${g.dst}"
                  prev   = s"$eAlias.${g.dst}"
                case None =>
                  out = out.join(g.nodes.alias(h.node),
                    col(s"$eAlias.${g.dst}") === col(s"${h.node}.${g.id}"))
                  bound += h.node -> s"${h.node}.${g.id}"
                  prev = s"${h.node}.${g.id}"
              }
            } else if (elide) {
              prev = s"$eAlias.${g.dst}"
            } else {
              anon += 1
              val nAlias = s"__gn$anon"
              out = out.join(
                g.nodes.select(col(g.id).as(nAlias)).alias(nAlias),
                col(s"$eAlias.${g.dst}") === col(s"$nAlias.$nAlias"))
              prev = s"$nAlias.$nAlias"
            }
          }
          if (h.range.isDefined) {
            out         = out.withColumn(s"${h.edge}_hops", lit(len.toLong))
            hopAliases += h.edge -> branchAliases.result()
          }
        }
      }
      (wherePart.map(p => out.filter(expr(tx(branchTx(nodeTx(p, bound), hopAliases)))))
        .getOrElse(out), hopAliases, bound)
    }

    if (allHops.forall(_.range.isEmpty)) {
      val (f, m, b) = chain(allHops.map(_ => 1)); projected(f, m, b)
    } else {
      require(projectPart.isDefined,
        "graph-match with a variable-length hop needs an explicit `project` " +
          "(the union of expansions flattens the pattern aliases)")
      combos.map { ls => val (f, m, b) = chain(ls); projected(f, m, b) }
        .reduce(_ unionByName _)
    }
  }

  /** `graph-shortest-paths [output=any|all] (x)-[e*1..hi]->(y)
    * [where <pred>] [project <items>]` — per (x, y) pair, the minimum-hop
    * path(s) of length 1..hi, found by level-synchronous BFS: level h joins
    * the level-(h−1) frontier with the edge frame, dedupes inside the
    * level, and anti-joins pairs already reached at a shorter level, so a
    * pair's paths survive only at their first (= shortest) level. That is
    * O(hi) joins over frontier-sized frames — never an all-paths
    * enumeration, unlike graph-match's union-of-chains — and it is the
    * standard distributed-BFS shape: each level is one shuffle on the
    * frontier key, prefixes of shortest paths are themselves shortest so
    * pruning loses nothing. `output=any` (the default) keeps ONE
    * deterministic path per pair (the lexicographically smallest node
    * array); `output=all` keeps every distinct shortest path. where/project
    * see the endpoint node aliases (`x.col`, `y.col`) plus `<e>_hops`
    * (long) and `<e>_path` (the node-id array, start inclusive). When
    * `output=any` and no consumer mentions `<e>_path`, the BFS runs a
    * no-path fast lane: bare (start, cur) pairs with hops = the level
    * counter — no array concat or min(array) fold per level. The edge
    * frame and each level frame are eagerly localCheckpoint-ed (each has
    * 2-3 lazy consumers that would otherwise re-run the whole prefix of
    * the loop; the 100× profile showed seven full edge-subtree scans per
    * run before this). Self-pairs
    * appear when a genuine cycle closes (hops >= 1). A lower bound lo > 1
    * answers "shortest qualifying walk of length in [lo, hi]": levels below
    * lo expand unpruned (a pair's shorter reach must not mask its first
    * reach at >= lo), first-reach pruning starts at level lo.
    */
  private def graphShortestPaths(g: GraphCtx, rest0: String): DataFrame = {
    var rest = rest0
    var outputAll = false
    """^output\s*=\s*(any|all)\s+""".r.findPrefixMatchOf(rest).foreach { m =>
      outputAll = m.group(1) == "all"; rest = rest.drop(m.matched.length)
    }
    val (beforeProject, projectPart) = splitAtTopLevelKeyword(rest, "project")
    val (patternStr, wherePart)      = splitAtTopLevelKeyword(beforeProject, "where")
    val PatRe = ("""^\(\s*([A-Za-z_]\w*)\s*\)\s*-\[\s*([A-Za-z_]\w*)\s*\*\s*""" +
      """(\d+)\s*\.\.\s*(\d+)\s*\]->\s*\(\s*([A-Za-z_]\w*)\s*\)$""").r
    val (x, e, lo, hi, y) = patternStr.trim match {
      case PatRe(a, ev, l, h, b) => (a, ev, l.toInt, h.toInt, b)
      case _ => fail("graph-shortest-paths needs exactly `(a)-[e*1..n]->(b)`, " +
        s"got: '${patternStr.trim}'")
    }
    // lo > 1 = "shortest qualifying walk of length >= lo": expansion keeps
    // EVERY walk below lo (no pruning — a pair reached at level 1 may only
    // qualify via a longer route), then prunes first-reach from level lo
    // on. hi caps the BFS rounds — each is one frontier-sized shuffle, so
    // 32 is a cost guard, not an expressiveness limit (ADX accepts
    // arbitrary bounds; a deeper request fails loudly here).
    require(lo >= 1 && hi >= lo && hi <= 32,
      s"graph-shortest-paths: needs 1 <= lo <= hi <= 32, got *$lo..$hi")
    require(x != y, "graph-shortest-paths: endpoint variables must be distinct " +
      "(cycles back to the start already appear as x/y rows with equal ids)")

    // Seed pushdown — the optimizer move Catalyst cannot see through the
    // iterative loop: a top-level `and` conjunct whose only qualified refs
    // are `x.…` (and which never touches `y.…` or the hop columns)
    // restricts the START set, so BFS explores only from matching seeds
    // instead of every node. The full predicate still applies at the end
    // (idempotent for pushed conjuncts), so semantics are unchanged.
    val DottedRef = """(?<![A-Za-z0-9_.])([A-Za-z_]\w*)\s*\.""".r
    def conjuncts(p: String): Seq[String] = splitAtTopLevelKeyword(p, "and") match {
      case (head, Some(tail)) => head.trim +: conjuncts(tail)
      case (whole, None)      => Seq(whole.trim)
    }
    val seedPred: Option[String] = wherePart.flatMap { p =>
      val pushable = conjuncts(p).filter { c =>
        val aliases = DottedRef.findAllMatchIn(c).map(_.group(1)).toSet
        aliases == Set(x) && !c.contains(s"${e}_hops") && !c.contains(s"${e}_path")
      }
      if (pushable.isEmpty) None else Some(pushable.mkString(" AND "))
    }
    // Implicit nodes: same NULL-endpoint posture as graph-match's elision
    // (r17 advice) — the explicit-node lowering equi-joins start/cur against
    // node ids at the end, dropping NULL endpoints; the textual-substitution
    // path must reproduce those drops up front so implicit == explicit over
    // the distinct endpoint set.
    val edges0 = {
      val base = if (g.implicitNodes)
        g.edges.filter(col(g.src).isNotNull && col(g.dst).isNotNull)
      else g.edges
      base.select(col(g.src).as("__sp_esrc"), col(g.dst).as("__sp_edst"))
    }
    // The edge frame is consumed by the seed pass AND by every BFS level's
    // expand join; left lazy, each consumer re-derives the whole edge
    // subtree (seven full lineitem scans per run at the 100× replica —
    // tools.QueryProfile, round 17). One eager localCheckpoint
    // materializes it once; block lifetime ties to frame reachability and
    // it is released explicitly after the loop, since every surviving
    // frame is checkpointed itself (the markComponents pattern). The
    // checkpoint materializes the DISTINCT edge set: parallel duplicate
    // edges (many orders linking one customer–supplier pair) can never
    // change this operator's answer — paths carry node ids only and
    // dedupLevel collapses them at every level — but they multiply every
    // expand join's intermediate size first. hi == 1 has a single
    // consumer and dedupLevel already dedups its one level — no
    // checkpoint, no extra distinct.
    val edges = if (hi >= 2) edges0.distinct().localCheckpoint(true) else edges0
    val seeded = seedPred match {
      case Some(p) if g.implicitNodes =>
        // implicit nodes carry ONLY the id, which IS the edge source value —
        // filter the edge scan directly instead of semi-joining the
        // distinct-endpoint frame (saves a full distinct at every scale)
        edges.withColumn(g.id, col("__sp_esrc")).alias(x)
          .filter(expr(tx(p))).drop(g.id)
      case Some(p) =>
        edges.join(
          g.nodes.alias(x).filter(expr(tx(p))).select(col(s"$x.${g.id}").as("__sp_seed")),
          col("__sp_esrc") === col("__sp_seed"), "left_semi")
      case None => edges
    }
    // No-path fast lane (round 17, from the 100× QueryProfile): when
    // output=any and neither where nor project mentions `<e>_path`, the
    // hops answer needs only WHICH pairs first-reach at each level — the
    // BFS carries bare (start, cur) string pairs with hops = the level
    // counter, and the per-level dedup is a plain distinct. That deletes
    // the per-row array concat and the min(array)-per-pair fold, the
    // profile's heaviest jobs (both registry BFS queries project hops
    // only). output=all must keep paths: its row count IS the number of
    // distinct shortest paths per pair.
    val carryPath = outputAll || projectPart.isEmpty ||
      (wherePart.toSeq ++ projectPart.toSeq).exists(_.contains(s"${e}_path"))
    // one deterministic path per pair (min array) vs all distinct paths
    def dedupLevel(df: DataFrame): DataFrame =
      if (!carryPath || outputAll) df.distinct()
      else df.groupBy(col("__sp_start"), col("__sp_cur"))
        .agg(min(col("__sp_path")).as("__sp_path"))
    // every surviving level frame is eagerly checkpointed: acc, reached,
    // and the next level's expand all re-consume it, and as lazy plans
    // those three consumers would each re-run the level's join (and,
    // transitively, every level below it)
    def ck(df: DataFrame): DataFrame = if (hi >= 2) df.localCheckpoint(true) else df
    // in the fast lane the level number rides along as the hops value
    def withHops(df: DataFrame, level: Int): DataFrame =
      if (carryPath) df else df.withColumn("__sp_hops", lit(level))
    var frontier = ck(dedupLevel(
      if (carryPath) seeded.select(
        col("__sp_esrc").as("__sp_start"), col("__sp_edst").as("__sp_cur"),
        array(col("__sp_esrc"), col("__sp_edst")).as("__sp_path"))
      else seeded.select(
        col("__sp_esrc").as("__sp_start"), col("__sp_edst").as("__sp_cur"))))
    // acc/reached start at level lo: below it every walk keeps extending
    // unpruned (a pair's sub-lo reach must not block its first QUALIFYING
    // reach), from lo on the standard first-reach anti-join prunes. The
    // shortest-prefix argument survives the shift: if (s,u) is pruned at
    // level l' >= lo, any longer route through u would give (s,t) a
    // qualifying walk shorter than its supposed minimum — contradiction.
    var reached = if (lo <= 1) frontier.select(col("__sp_start"), col("__sp_cur")) else null
    var acc     = if (lo <= 1) withHops(frontier, 1) else null
    for (level <- 2 to hi) {
      val expandJoin = frontier.join(edges, col("__sp_cur") === col("__sp_esrc"))
      val expanded = dedupLevel(
        if (carryPath) expandJoin.select(
          col("__sp_start"), col("__sp_edst").as("__sp_cur"),
          concat(col("__sp_path"), array(col("__sp_edst"))).as("__sp_path"))
        else expandJoin.select(col("__sp_start"), col("__sp_edst").as("__sp_cur")))
      val nxt = ck(
        if (reached == null) expanded
        else expanded.join(reached, Seq("__sp_start", "__sp_cur"), "left_anti"))
      if (level >= lo) {
        if (acc == null) {
          acc     = withHops(nxt, level)
          reached = nxt.select(col("__sp_start"), col("__sp_cur"))
        } else {
          acc     = acc.unionByName(withHops(nxt, level))
          reached = reached.unionByName(nxt.select(col("__sp_start"), col("__sp_cur")))
        }
      }
      frontier = nxt
    }
    // acc/reached/frontier are all views over the checkpointed level
    // frames — nothing can re-derive from the edge blocks anymore
    if (hi >= 2) graft.util.Checkpoints.release(edges)
    require(acc != null, s"graph-shortest-paths: internal — no level reached lo=$lo")
    val bfs =
      if (carryPath) acc
        .withColumn(s"${e}_hops", (size(col("__sp_path")) - 1).cast("long"))
        .withColumnRenamed("__sp_path", s"${e}_path")
      else acc
        .withColumn(s"${e}_hops", col("__sp_hops").cast("long"))
        .drop("__sp_hops")
    // implicit nodes have exactly one column — the id, which already rides
    // in the BFS frame as start/cur — so `x.node_id`/`y.node_id` substitute
    // textually and BOTH endpoint joins (each a full distinct at scale)
    // disappear; property-carrying node frames still join per alias
    def aliasTx(sArg: String): String =
      if (!g.implicitNodes) sArg
      else rewriteOutsideLiterals(sArg)(
        _.replaceAll(s"(?<![A-Za-z0-9_])$x\\s*\\.\\s*${g.id}(?![A-Za-z0-9_])", "__sp_start")
          .replaceAll(s"(?<![A-Za-z0-9_])$y\\s*\\.\\s*${g.id}(?![A-Za-z0-9_])", "__sp_cur"))
    var out =
      if (g.implicitNodes) bfs
      else bfs
        .join(g.nodes.alias(x), col("__sp_start") === col(s"$x.${g.id}"))
        .join(g.nodes.alias(y), col("__sp_cur") === col(s"$y.${g.id}"))
    wherePart.foreach(p => out = out.filter(expr(tx(aliasTx(p)))))
    projectPart match {
      case Some(items) =>
        val cols = splitTopLevel(items, ',').map(_.trim).filter(_.nonEmpty).map { it =>
          assignment(it) match {
            case Some((n2, e2)) => expr(tx(aliasTx(e2))).as(n2)
            case None           => expr(tx(aliasTx(it)))
          }
        }
        out.select(cols: _*)
      case None =>
        if (g.implicitNodes)
          out.withColumnRenamed("__sp_start", s"${x}_${g.id}")
            .withColumnRenamed("__sp_cur", s"${y}_${g.id}")
        else out.drop("__sp_start", "__sp_cur")
    }
  }

  /** Render a collected JVM value as a Spark SQL literal (the toscalar
    * binding path). String-quoted CAST forms keep doubles/decimals/instants
    * round-trip exact.
    */
  private def scalarLiteral(v: Any): String = v match {
    case null                     => "null"
    case s: String                => "'" + s.replace("'", "''") + "'"
    case b: java.lang.Boolean     => b.toString
    case i: java.lang.Integer     => i.toString
    case l: java.lang.Long        => s"CAST($l AS BIGINT)"
    case d: java.lang.Double      => s"CAST('$d' AS DOUBLE)"
    case f: java.lang.Float       => s"CAST('$f' AS FLOAT)"
    case d: java.math.BigDecimal  => s"CAST('$d' AS DECIMAL(38,18))"
    case t: java.sql.Timestamp    => s"timestamp'$t'"
    case d: java.sql.Date         => s"date'$d'"
    case other                    => "'" + other.toString.replace("'", "''") + "'"
  }

  /** Substitute scalar-let bindings into `s` at identifier boundaries,
    * skipping string literals and qualified names (`$left.x`, `a.x`).
    */
  private def substituteScalars(s: String, scalars: Seq[(String, String)]): String =
    scalars.foldLeft(s) { case (acc, (name, rhs)) =>
      val re = ("""(?<![A-Za-z0-9_.$])""" + java.util.regex.Pattern.quote(name) +
        """(?![A-Za-z0-9_])""").r
      re.replaceAllIn(acc, m => java.util.regex.Matcher.quoteReplacement(
        if (insideLiteral(acc, m.start)) m.matched else s"($rhs)"))
    }

  /** A join/union/lookup operand: a bare table name, or a parenthesized
    * sub-pipeline run through the same parser.
    */
  private def operand(resolve: String => DataFrame, s: String): DataFrame = {
    val trimmed = s.trim
    if (trimmed.startsWith("(") && trimmed.endsWith(")"))
      runPipeline(resolve, trimmed.substring(1, trimmed.length - 1))
    else {
      require(!trimmed.contains(' '), s"expected a table name or (sub-pipeline), got: '$trimmed'")
      resolveRef(resolve, trimmed)
    }
  }

  /** Resolve a table reference, tagging failure with the dedicated
    * [[UnresolvedTableException]] so `union isfuzzy=true` can tolerate
    * EXACTLY unresolved references (dropped table, bad name) while
    * analysis errors inside resolvable operands — a typo'd column, a
    * malformed sub-pipeline — still fail the query (the ADX contract).
    */
  private def resolveRef(resolve: String => DataFrame, name: String): DataFrame =
    try resolve(name)
    catch {
      case scala.util.control.NonFatal(e) => throw new UnresolvedTableException(name, e)
    }

  // ---- source operators ----------------------------------------------------

  /** Is `s` a source-operator expression (vs a table name)? The source words
    * are only recognized in their tabular spelling (`range x from …`,
    * `datatable (…)`), so the scalar `range(…)` function is never shadowed.
    */
  private def isSource(s: String): Boolean = {
    val l = s.trim.toLowerCase
    def headArgs(kw: String) =
      l.startsWith(kw) && l.drop(kw.length).trim.startsWith("(")
    l.startsWith("range ") || l.startsWith("print ") || l == "print" ||
      l.startsWith("union ") || l.startsWith("find ") ||
      headArgs("datatable") || headArgs("externaldata")
  }

  /** Compile the first pipeline segment: a registered table name or one of
    * the source operators `externaldata` / `datatable` / `range` / `print`.
    */
  private def source(resolve: String => DataFrame, seg: String): DataFrame = {
    val word = seg.takeWhile(c => !c.isWhitespace && c != '(').toLowerCase
    if (!isSource(seg)) {
      require(!seg.contains(' '),
        s"first pipeline segment must be a table name or source operator, got: '$seg'")
      resolveRef(resolve, seg)
    } else word match {
      case "externaldata" => externalData(seg.drop("externaldata".length))
      case "datatable"    => datatable(seg.drop("datatable".length))
      case "range"        => rangeSource(seg.drop("range".length))
      case "print"        => printSource(seg.drop("print".length))
      case "union"        => unionSource(resolve, seg.drop("union".length))
      case "find"         => findSource(resolve, seg.drop("find".length))
    }
  }

  /** `find [withsource=Col] in (T1, T2, …) where <pred> [project c1, …]` —
    * ADX's cross-table search. Lowers to `unionByName(allowMissingColumns)`
    * of the listed tables (each labeled with its name, default column
    * `source_`) followed by ONE filter: Catalyst pushes the predicate
    * through the union into every leg, so each table scans with its own
    * pushed filters, and a column missing from a table reads as null there
    * — the row simply doesn't match (ADX semantics). The optional trailing
    * `project` keeps the label column plus the listed columns.
    */
  private def findSource(resolve: String => DataFrame, rest: String): DataFrame = {
    val HeadRe = """(?is)\s*(?:withsource\s*=\s*([A-Za-z_][A-Za-z0-9_]*)\s+)?in\s*(\(.*)""".r
    rest match {
      case HeadRe(srcColN, after) =>
        val srcCol = Option(srcColN).getOrElse("source_")
        val (tablesInner, tail0) = takeGroup(after, '(', ')')
        val tables = splitTopLevel(tablesInner, ',').map(_.trim).filter(_.nonEmpty)
        require(tables.nonEmpty, "find needs at least one table in (…)")
        tables.foreach(t => require(t.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"find takes bare table names, got: '$t'"))
        // split the tail at a top-level ` project ` (never inside a literal)
        val t = tail0.trim
        val projIdx = {
          val re = """(?i)\bproject\b""".r
          re.findAllMatchIn(t).map(_.start).find(i => !insideLiteral(t, i))
        }
        val (whereS, projS) = projIdx match {
          case Some(i) => (t.substring(0, i).trim, Some(t.substring(i + "project".length).trim))
          case None    => (t, None)
        }
        require(whereS.toLowerCase.startsWith("where") &&
            whereS.length > 5 && whereS.charAt(5).isWhitespace,
          s"find needs `where <predicate>` after the table list, got: '$t'")
        val pred = whereS.drop("where".length).trim
        val unioned = tables.map(tn => resolve(tn).withColumn(srcCol, lit(tn)))
          .reduce(_.unionByName(_, allowMissingColumns = true))
        val found = unioned.filter(expr(tx(pred)))
        projS match {
          case Some(p) =>
            val cols = splitTopLevel(p, ',').map(_.trim).filter(_.nonEmpty)
            require(cols.nonEmpty, "find: `project` needs at least one column")
            found.select((srcCol +: cols.filterNot(_ == srcCol)).map(col): _*)
          case None => found
        }
      case _ => fail(s"find needs `[withsource=Col] in (T1, T2, …) where …`, got: '$rest'")
    }
  }

  /** `union [withsource=Col] T1, T2, …` as the FIRST segment — the
    * multi-table-logs idiom. Columns match by NAME with null padding (KQL
    * union semantics); `withsource=` adds a column naming each row's
    * operand (bare table names label as themselves, parenthesized
    * sub-pipelines as `union_arg<i>`). The piped form (`T | union U`)
    * cannot label the left frame — ADX's withsource belongs to the source
    * form, and that is where it is supported.
    */
  private def unionSource(resolve: String => DataFrame, rest: String): DataFrame = {
    val WithSourceRe = """(?is)\s*withsource\s*=\s*([A-Za-z_][A-Za-z0-9_]*)\s+(.*)""".r
    val FuzzyRe      = """(?is)\s*isfuzzy\s*=\s*(true|false)\s+(.*)""".r
    var body   = rest
    var srcCol = Option.empty[String]
    var fuzzy  = false
    var progress = true
    while (progress) {
      progress = false
      body match {
        case WithSourceRe(c, b) => srcCol = Some(c); body = b; progress = true
        case FuzzyRe(v, b)      => fuzzy = v.toBoolean; body = b; progress = true
        case _                  =>
      }
    }
    val operands = splitTopLevel(body, ',').map(_.trim).filter(_.nonEmpty)
    require(operands.size >= 2, s"union needs at least two operands, got: '$rest'")
    val frames = operands.zipWithIndex.flatMap { case (src, i) =>
      // isfuzzy=true: ADX's resilient union — operands that fail to
      // RESOLVE (dropped table, bad sub-query reference) are skipped;
      // analysis errors in resolvable operands (typo'd column, malformed
      // stage) still fail the whole query, as in ADX
      val dfOpt =
        if (!fuzzy) Some(operand(resolve, src))
        else
          try Some(operand(resolve, src))
          catch { case _: UnresolvedTableException => None }
      dfOpt.map { df =>
        srcCol match {
          case Some(c) =>
            val label = if (src.matches("[A-Za-z_][A-Za-z0-9_]*")) src else s"union_arg${i + 1}"
            df.withColumn(c, lit(label))
          case None => df
        }
      }
    }
    require(frames.nonEmpty,
      s"union isfuzzy=true: every operand failed to resolve: '$rest'")
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def spark = org.apache.spark.sql.SparkSession.active

  /** KQL column types → Spark SQL types (externaldata / datatable schemas). */
  private val KqlTypes = Map(
    "string" -> "string", "long" -> "bigint", "int" -> "int",
    "real" -> "double", "double" -> "double", "datetime" -> "timestamp",
    "date" -> "timestamp", "bool" -> "boolean", "boolean" -> "boolean",
    "decimal" -> "decimal(38,18)", "guid" -> "string", "timespan" -> "string",
    "dynamic" -> "string")

  /** Parse `(name:type, …)` into (name, sparkType) pairs. */
  private def parseSchema(inner: String): Seq[(String, String)] =
    splitTopLevel(inner, ',').map(_.trim).filter(_.nonEmpty).map { item =>
      val parts = item.split(":", 2)
      require(parts.length == 2, s"schema needs `name:type`, got: '$item'")
      val (n, t) = (parts(0).trim, parts(1).trim.toLowerCase)
      (n, KqlTypes.getOrElse(t, fail(s"unsupported KQL type '$t' for column '$n'")))
    }

  /** Take one balanced `open…close` group off the front of `s` (quote-aware);
    * returns (inner, remainder).
    */
  private def takeGroup(s0: String, open: Char, close: Char): (String, String) = {
    val s = s0.trim
    require(s.nonEmpty && s.head == open, s"expected '$open…$close', got: '$s0'")
    var depth = 0
    var q     = '\u0000'
    var i     = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (q != '\u0000') { if (c == q) q = '\u0000' }
      else if (c == '\'' || c == '"') q = c
      else if (c == open) depth += 1
      else if (c == close) {
        depth -= 1
        if (depth == 0) return (s.substring(1, i), s.substring(i + 1))
      }
      i += 1
    }
    fail(s"unbalanced '$open…$close' in: '$s0'")
  }

  /** `externaldata (c:type, …) ['path', …] with (format='parquet', …)` — the
    * reference's own status-view source shape (DatabaseGateway.cs:85-96 reads
    * checkpoint blobs via an externaldata pipeline). Spark-first: compiles to
    * `spark.read` with the declared schema, so pushdown/pruning work as for
    * any native scan. Formats: parquet (schema enforced by per-column cast —
    * parquet carries its own types), csv (schema applied; `header=true` or
    * ADX's `ignoreFirstRecord=true` skip the header row), json (line-JSON).
    */
  private def externalData(rest: String): DataFrame = {
    val (schemaInner, afterSchema) = takeGroup(rest, '(', ')')
    val schema = parseSchema(schemaInner)
    val (pathsInner, afterPaths) = takeGroup(afterSchema, '[', ']')
    val paths = splitTopLevel(pathsInner, ',').map(_.trim).filter(_.nonEmpty).map(unquote)
    require(paths.nonEmpty, "externaldata needs at least one path")
    val opts: Map[String, String] = {
      val t = afterPaths.trim
      if (t.isEmpty) Map.empty
      else {
        require(t.toLowerCase.startsWith("with"), s"expected `with (…)`, got: '$t'")
        val (inner, tail) = takeGroup(t.drop(4), '(', ')')
        require(tail.trim.isEmpty, s"unexpected trailing text after with(…): '$tail'")
        splitTopLevel(inner, ',').map(_.trim).filter(_.nonEmpty).map { kv =>
          val parts = kv.split("=", 2)
          require(parts.length == 2, s"expected `key = value` in with(…), got: '$kv'")
          parts(0).trim.toLowerCase -> unquote(parts(1).trim)
        }.toMap
      }
    }
    val fmt = opts.getOrElse("format", "csv").toLowerCase
    val header = Seq("header", "ignorefirstrecord").exists(k =>
      opts.get(k).exists(_.equalsIgnoreCase("true")))
    val ddl = schema.map { case (n, t) => s"`$n` $t" }.mkString(", ")
    val structType = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    fmt match {
      case "parquet" =>
        // parquet is self-describing: read natively with the first path's
        // footer schema (stats/pushdown intact), then project+cast to the declared shape
        spark.read.schema(GraftManifestScan.footerSchema(spark, paths.head)).parquet(paths: _*)
          .select(schema.map { case (n, t) => col(n).cast(t).as(n) }: _*)
      case "csv" =>
        spark.read.schema(structType).option("header", header.toString).csv(paths: _*)
      case "json" | "multijson" =>
        spark.read.schema(structType)
          .option("multiLine", (fmt == "multijson").toString).json(paths: _*)
      case other => fail(s"externaldata format '$other' not supported (parquet|csv|json)")
    }
  }

  /** `datatable (c:type, …) [v1, v2, …]`: inline literal table, row-major
    * cells. Each cell is a scalar expression; the whole table compiles to ONE
    * local `explode(array(struct…))` — no files, no RDD.
    */
  private def datatable(rest: String): DataFrame = {
    val (schemaInner, afterSchema) = takeGroup(rest, '(', ')')
    val schema = parseSchema(schemaInner)
    val (cellsInner, tail) = takeGroup(afterSchema, '[', ']')
    require(tail.trim.isEmpty, s"unexpected trailing text after datatable values: '$tail'")
    val cells = splitTopLevel(cellsInner, ',').map(_.trim).filter(_.nonEmpty)
    require(cells.nonEmpty && cells.size % schema.size == 0,
      s"datatable needs row-major cells, a multiple of ${schema.size}, got ${cells.size}")
    val rows = cells.grouped(schema.size).toSeq.map { r =>
      struct(r.zip(schema).map { case (cell, (n, t)) =>
        expr(tx(cell)).cast(t).as(n)
      }: _*)
    }
    spark.range(1).select(explode(array(rows: _*)).as("__graft_row"))
      .select(col("__graft_row.*"))
  }

  /** `range name from a to b step s` over a NUMERIC axis, stop-inclusive as
    * in KQL. Integer-literal bounds compile to `spark.range` (distributed,
    * no materialized array); expression bounds fall back to one
    * `explode(sequence(…))` — fine for control axes, not for billion-row
    * ranges (use integer literals there).
    */
  private def rangeSource(rest: String): DataFrame = {
    val r = rest.trim
    val name = r.takeWhile(!_.isWhitespace)
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"range needs `range name from …`, got: '$r'")
    val (fromPart, afterFrom) = splitAtTopLevelKeyword(r.drop(name.length), "from") match {
      case (_, Some(a)) => ("", a)
      case _            => fail("range needs `from <start>`")
    }
    require(fromPart.trim.isEmpty, s"unexpected text before `from`: '$fromPart'")
    val (startE, afterTo) = splitAtTopLevelKeyword(afterFrom, "to") match {
      case (a, Some(b)) => (a.trim, b)
      case _            => fail("range needs `to <stop>`")
    }
    val (stopE, stepE) = splitAtTopLevelKeyword(afterTo, "step") match {
      case (a, Some(b)) => (a.trim, b.trim)
      case _            => fail("range needs `step <size>`")
    }
    (startE.toLongOption, stopE.toLongOption, stepE.toLongOption) match {
      case (Some(a), Some(b), Some(s)) if s > 0 && b >= a =>
        spark.range(a, b + 1, s).select(col("id").as(name))
      case _ =>
        spark.range(1).select(explode(sequence(
          expr(tx(startE)), expr(tx(stopE)), expr(tx(stepE)))).as(name))
    }
  }

  /** `print [name =] expr, …` → one row; unnamed items get `print_i`. */
  private def printSource(rest: String): DataFrame = {
    val items = splitTopLevel(rest, ',').map(_.trim).filter(_.nonEmpty)
    require(items.nonEmpty, "print needs at least one expression")
    spark.range(1).select(items.zipWithIndex.map { case (item, i) =>
      assignment(item) match {
        case Some((n, e)) => expr(tx(e)).as(n)
        case None         => expr(tx(item)).as(s"print_$i")
      }
    }: _*)
  }

  private def unquote(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && (t.head == '\'' || t.head == '"') && t.last == t.head)
      t.substring(1, t.length - 1)
    else t
  }

  // ---- operator dispatch ---------------------------------------------------

  private def applyOp(resolve: String => DataFrame)(df: DataFrame, seg: String): DataFrame = {
    val (word, rest0) = seg.span(c => !c.isWhitespace)
    // column_ifexists resolves against THIS frame's schema, so it expands
    // here — but only for scalar-expression operators: inside a join's
    // sub-pipeline the outer columns are the wrong scope
    val rest =
      if (rest0.contains("column_ifexists") &&
          ColumnIfExistsOps(word.toLowerCase))
        graft.functions.KqlCompat.columnIfExists(rest0, df.columns.contains(_))
      else rest0
    word.toLowerCase match {
      case "where" | "filter" =>
        df.filter(expr(tx(rest)))

      case "extend" =>
        splitTopLevel(rest, ',').map(_.trim).foldLeft(df) { (d, item) =>
          item match {
            // `(s1, s2[, …]) = array_sort_asc|desc(a, b[, …])` — ADX's
            // tuple-returning sort: the FIRST array orders (stably, nulls
            // last), every other array permutes to match. ONE sorted index
            // array drives all outputs (sort (null-rank, key, original
            // index) structs, then gather each array through the index) —
            // any arity, any mix of element types, no repeated sorting.
            case TupleSortRe(namesS, dir, inner) =>
              val names = namesS.split(",").map(_.trim)
              val arrs  = splitTopLevel(inner, ',').map(_.trim).map(a => tx(a))
              require(names.size == arrs.size && names.size >= 2,
                s"tuple array_sort_$dir needs as many names as arrays (≥2): '$item'")
              val a0 = arrs.head
              val z  = "__graft_srt"
              val keyed = s"transform(sequence(0, size($a0) - 1), i -> " +
                s"named_struct('n', CAST(try_element_at($a0, i + 1) IS NULL AS INT), " +
                s"'k', try_element_at($a0, i + 1), 'i', i))"
              val sortedIdx =
                if (dir.equalsIgnoreCase("asc")) s"array_sort($keyed)"
                else s"array_sort($keyed, (l, r) -> " +
                  "CASE WHEN l.n < r.n THEN -1 WHEN l.n > r.n THEN 1 " +
                  "WHEN l.k > r.k THEN -1 WHEN l.k < r.k THEN 1 " +
                  "WHEN l.i < r.i THEN -1 ELSE 1 END)"
              val d2 = d.withColumn(z, expr(sortedIdx))
              names.zip(arrs).foldLeft(d2) { case (dd, (n, a)) =>
                dd.withColumn(n, expr(s"transform($z, p -> try_element_at($a, p.i + 1))"))
              }.drop(z)
            case _ => assignment(item) match {
            case Some((name, e)) if RowNumberRe.matches(e.trim) =>
              val start = "\\d+".r.findFirstIn(e).map(_.toLong).getOrElse(1L)
              rowNumber(d, name, start)
            // row_number(start, restart): running count through the
            // restart-aware two-pass scan — 1,2,… resetting to `start`
            // wherever the boolean holds; never a 1-partition window
            case Some((name, e)) if RowNumberRestartRe.matches(e.trim) =>
              val RowNumberRestartRe(startS, restartS) = e.trim
              val start = startS.toLong
              val vtmp = "__graft_rn_one"
              val rtmp = "__graft_rn_restart"
              val staged = d.withColumn(vtmp, lit(1L))
                .withColumn(rtmp, expr(tx(restartS)).cast("boolean"))
              graft.util.ScanOps.cumSumRestart(staged, vtmp, rtmp, name)
                .withColumn(name, col(name) + lit(start - 1L))
                .drop(vtmp, rtmp)
            // row_cumsum/prev/next: running sum and row shifts in current
            // order via the two-pass distributed scan / boundary exchange
            // (ScanOps) — never a 1-partition window
            case Some((name, e)) if RowScanRe.matches(e.trim) =>
              val RowScanRe(fn, inner0) = e.trim
              val args = splitTopLevel(inner0, ',').map(_.trim).filter(_.nonEmpty)
              require(args.nonEmpty, s"$fn needs an argument, got: '$e'")
              val tmp = "__graft_scan_in"
              val staged2 = d.withColumn(tmp, expr(tx(args.head)))
              (fn.toLowerCase match {
                case "row_cumsum" if args.size == 1 =>
                  graft.util.ScanOps.cumSum(staged2, tmp, name)
                // ADX row_cumsum(term, restart): restart the accumulation at
                // rows where the bool holds (segment boundaries) — the
                // restart-aware two-pass scan, still never a 1-partition
                // window
                case "row_cumsum" =>
                  require(args.size == 2, s"row_cumsum takes (term [, restart]), got: '$e'")
                  val rtmp = "__graft_scan_restart"
                  graft.util.ScanOps.cumSumRestart(
                    staged2.withColumn(rtmp, expr(tx(args(1))).cast("boolean")),
                    tmp, rtmp, name).drop(rtmp)
                case pn @ ("prev" | "next") =>
                  // offset k lowers to k chained boundary-exchange shifts —
                  // O(k) lightweight passes, never a 1-partition window;
                  // bounded so a typo can't queue a thousand jobs
                  val off = if (args.size >= 2) args(1).trim.toInt else 1
                  require(off >= 1 && off <= 16,
                    s"$pn offset must be in [1, 16] in the serialized path, got: '$e'")
                  require(args.size <= 3, s"$pn takes (expr [, offset [, default]]), got: '$e'")
                  var cur: DataFrame = staged2
                  var src = tmp
                  for (i <- 1 to off) {
                    val dst = if (i == off) name else s"__graft_shift_$i"
                    cur = if (pn == "prev") graft.util.ScanOps.lag1(cur, src, dst)
                          else graft.util.ScanOps.lead1(cur, src, dst)
                    if (src != tmp) cur = cur.drop(src)
                    src = dst
                  }
                  if (args.size == 3)
                    cur.withColumn(name, coalesce(col(name), expr(tx(args(2)))))
                  else cur
                // dense run rank over the serialized order: +1 whenever the
                // term changes — a boundary indicator through the same
                // lag + cumsum scans (still no 1-partition window)
                case "row_rank_dense" =>
                  require(args.size == 1, s"row_rank_dense takes (term), got: '$e'")
                  val ptmp = "__graft_scan_prev"
                  val itmp = "__graft_scan_ind"
                  val ind = graft.util.ScanOps.lag1(staged2, tmp, ptmp)
                    .withColumn(itmp,
                      when(col(ptmp).isNull || col(tmp) =!= col(ptmp), 1L).otherwise(0L))
                  graft.util.ScanOps.cumSum(ind, itmp, name).drop(ptmp, itmp)
                // min run rank: the row number of the current run's FIRST
                // row — rank_min = rid − rows-since-run-start, both already
                // scan-shaped (global row index + distSinceTrue), so no new
                // machinery and still no 1-partition window
                case "row_rank_min" =>
                  require(args.size == 1, s"row_rank_min takes (term), got: '$e'")
                  val ptmp = "__graft_scan_prev"
                  val btmp = "__graft_scan_boundary"
                  val rtmp = "__graft_scan_rid"
                  val dtmp = "__graft_scan_dist"
                  val ind = graft.util.ScanOps.lag1(
                      rowNumber(staged2, rtmp, 1L), tmp, ptmp)
                    .withColumn(btmp, col(ptmp).isNull || col(tmp) =!= col(ptmp))
                  graft.util.ScanOps.distSinceTrue(ind, btmp, dtmp)
                    .withColumn(name, col(rtmp) - col(dtmp))
                    .drop(ptmp, btmp, rtmp, dtmp)
                // row_window_session(ts, maxFromFirst, maxBetween [, restart]):
                // session-start per row in the serialized order. Idle/restart
                // segmentation is the distributed lag+cumsum scan pair; the
                // max-duration subdivision inside each idle-session is a
                // genuinely sequential recurrence (start_i depends on
                // start_{i−1}), so each idle-session's ordered rows fold in
                // one aggregate — bounded by the idle-timeout's natural
                // session length, the same per-session-fits assumption the
                // serialized ADX operator makes. Join-back is by exact row id.
                case "row_window_session" =>
                  require(args.size == 3 || args.size == 4,
                    s"row_window_session takes (ts, maxFromFirst, maxBetween [, restart]), got: '$e'")
                  val maxDur = constLong(args(1))
                  val idle   = constLong(args(2))
                  val rtmp = "__graft_rws_restart"
                  val ptmp = "__graft_rws_prev"
                  val itmp = "__graft_rws_ind"
                  val sidc = "__graft_rws_sid"
                  val ridc = "__graft_rws_rid"
                  val withRestart = staged2
                    .withColumn(tmp, col(tmp).cast("long"))
                    .withColumn(rtmp,
                      if (args.size == 4) expr(tx(args(3))).cast("boolean") else lit(false))
                  val ind2 = graft.util.ScanOps.lag1(withRestart, tmp, ptmp)
                    .withColumn(itmp,
                      when(col(ptmp).isNull || (col(tmp) - col(ptmp)) > idle || col(rtmp), 1L)
                        .otherwise(0L))
                  val withSid = graft.util.ScanOps.cumSum(ind2, itmp, sidc)
                  val withRid = graft.util.ZipIndex.withRowIndex(withSid, ridc)
                  val pairs = withRid.groupBy(col(sidc))
                    .agg(sort_array(collect_list(struct(col(tmp).as("t"), col(ridc).as("r"))))
                      .as("xs"))
                    .select(explode(expr(
                      s"aggregate(xs, " +
                        "named_struct('st', CAST(NULL AS BIGINT), " +
                        "'out', CAST(array() AS ARRAY<STRUCT<r: BIGINT, s: BIGINT>>)), " +
                        s"(acc, x) -> CASE WHEN acc.st IS NULL OR x.t - acc.st > ${maxDur}L " +
                        "THEN named_struct('st', x.t, 'out', array_append(acc.out, named_struct('r', x.r, 's', x.t))) " +
                        "ELSE named_struct('st', acc.st, 'out', array_append(acc.out, named_struct('r', x.r, 's', acc.st))) END, " +
                        "acc -> acc.out)")).as("p"))
                    .select(col("p.r").as(ridc), col("p.s").as(name))
                  withRid.join(pairs, Seq(ridc))
                    .drop(ptmp, rtmp, itmp, sidc, ridc)
              }).drop(tmp)
            case Some((name, e)) => d.withColumn(name, expr(tx(e)))
            case None            => fail(s"extend needs `name = expr`, got: '$item'")
          }
          }
        }

      // `serialize`: in ADX this freezes row order so row-window functions
      // become legal. Our row_number() keys off the frame's existing global
      // sort (see rowNumber), so serialize itself is the identity — spell an
      // `order by` before row_number() to define the order.
      case "serialize" =>
        require(rest.trim.isEmpty, s"`serialize` takes no arguments, got: '$rest'")
        df

      // `consume`: run the pipeline for its side effects and return no
      // rows (the ADX perf-harness sink). Schema is preserved; the empty
      // filter keeps Catalyst from pruning upstream work when forced by
      // an action. Not oracle-registrable (0 rows by contract) — covered
      // by KqlPipelineSpec instead.
      case "consume" =>
        require(rest.trim.isEmpty || rest.trim.toLowerCase.matches("decodeblocks\\s*=\\s*(true|false)"),
          s"`consume` takes no arguments (or decodeblocks=…), got: '$rest'")
        df.where(lit(false))

      case "project" =>
        df.select(splitTopLevel(rest, ',').map(_.trim).map { item =>
          assignment(item) match {
            case Some((name, e)) => expr(tx(e)).as(name)
            case None            => expr(tx(item))
          }
        }: _*)

      case "project-away" =>
        df.drop(splitTopLevel(rest, ',').map(_.trim): _*)

      case "project-keep" =>
        df.select(splitTopLevel(rest, ',').map(s => col(s.trim)): _*)

      case "project-rename" =>
        splitTopLevel(rest, ',').map(_.trim).foldLeft(df) { (d, item) =>
          assignment(item) match {
            case Some((newName, oldName)) => d.withColumnRenamed(oldName.trim, newName)
            case None => fail(s"project-rename needs `new = old`, got: '$item'")
          }
        }

      case "summarize" =>
        // ADX shuffle hints (`hint.shufflekey=…`, `hint.num_partitions=…`,
        // `hint.strategy=shuffle`) are execution directives for Kusto's
        // engine — Spark's planner + AQE own partitioning here, so they are
        // accepted and dropped (semantics-neutral by definition)
        val restNoHints = """(?i)^\s*(?:hint\.[a-z_]+\s*=\s*[A-Za-z0-9_]+\s+)+"""
          .r.replaceFirstIn(rest, " ")
        val (aggsPart, byPart) = splitAtTopLevelBy(restNoHints)
        val rawAggs = splitTopLevel(aggsPart, ',').map(_.trim).filter(_.nonEmpty)
        rawAggs match {
          // `summarize arg_max(ord, *) by k, …` — the reference status view's
          // exact spelling (DatabaseGateway.cs:85-96). Expand: ONE
          // max_by/min_by over a struct of every non-key column, then
          // unpack — a single partial-aggregable pass, no row_number window.
          case Seq(ArgStarRe(fnName, ord)) =>
            val keyNames = byPart.toSeq.flatMap(splitTopLevel(_, ',').map(_.trim))
              .map(item => assignment(item).map(_._1).getOrElse(item))
            keyNames.foreach(k => require(k.matches("[A-Za-z_][A-Za-z0-9_]*"),
              s"summarize $fnName(…, *) needs bare-column by-keys, got: '$k'"))
            val rest2 = df.columns.toSeq.filterNot(keyNames.contains)
            val packed = struct(rest2.map(col): _*)
            val aggCol = (if (fnName.equalsIgnoreCase("arg_max"))
              max_by(packed, col(ord)) else min_by(packed, col(ord))).as("__graft_argstar")
            val grouped =
              if (keyNames.isEmpty) df.agg(aggCol)
              else df.groupBy(keyNames.map(col): _*).agg(aggCol)
            grouped.select(keyNames.map(col) ++
              rest2.map(c2 => col("__graft_argstar").getField(c2).as(c2)): _*)
          case _ =>
            val aggs = rawAggs.flatMap(aggItems)
            val keys = byPart.toSeq.flatMap(splitTopLevel(_, ',').map(_.trim).map { item =>
              assignment(item) match {
                case Some((name, e)) => expr(tx(e)).as(name)
                case None            => expr(tx(item))
              }
            })
            (aggs, keys) match {
              case (Nil, Nil) => fail("summarize needs aggregates and/or a by-clause")
              case (Nil, ks)  => df.select(ks: _*).distinct() // `summarize by k` = distinct
              case (as, Nil)  => df.agg(as.head, as.tail: _*)
              case (as, ks)   => df.groupBy(ks: _*).agg(as.head, as.tail: _*)
            }
        }

      case "order" | "sort" =>
        val r = rest.trim
        require(r.toLowerCase.startsWith("by") && r.length > 2 && r.charAt(2).isWhitespace,
          s"expected `$word by …`")
        df.orderBy(orderItems(r.drop(3)): _*)

      case "top" =>
        rest.trim.split("\\s+", 3) match {
          case Array(n, by, items) if by.equalsIgnoreCase("by") =>
            df.orderBy(orderItems(items): _*).limit(n.toInt)
          case _ => fail(s"expected `top N by <expr>`, got: '$seg'")
        }

      case "take" | "limit" =>
        df.limit(rest.trim.toInt)

      // `top-hitters N of k [by sumCol]`: heavy-hitter extraction. ADX
      // computes an APPROXIMATE (sketched) answer; we compute the exact one
      // (same documented divergence as dcount) with ADX's output column
      // names. Shape: partial-agg groupBy + TakeOrdered — no global window.
      case "top-hitters" =>
        val (countPart, byPart) = splitAtTopLevelKeyword(rest, "by")
        val (n, key) = splitAtTopLevelKeyword(countPart, "of") match {
          case (nStr, Some(k)) => (nStr.trim.toInt, k.trim)
          case _ => fail(s"top-hitters needs `N of key [by expr]`, got: '$seg'")
        }
        require(key.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"top-hitters key must be a column name, got: '$key'")
        val (aggCol, aggName) = byPart match {
          case Some(e) =>
            // ADX names the sum column after the VALUE expression
            val nm = s"approximate_sum_${e.trim.replaceAll("[^A-Za-z0-9_]", "_")}"
            (sum(expr(tx(e.trim))).as(nm), nm)
          case None =>
            val nm = s"approximate_count_$key"
            (count(lit(1)).as(nm), nm)
        }
        df.groupBy(col(key)).agg(aggCol)
          .orderBy(col(aggName).desc, col(key).asc).limit(n)

      // `sample N` / `sample-distinct N of k`: ADX samples
      // NON-deterministically; we take a deterministic pseudo-random sample
      // (TakeOrdered by xxhash64 of the row) so results are reproducible and
      // oracle-checkable — documented divergence. Per-partition top-N merge,
      // no global sort materialization.
      case "sample" =>
        val n = rest.trim.toInt
        df.orderBy(xxhash64(df.columns.map(col): _*).asc).limit(n)

      case "sample-distinct" =>
        val (n, key) = splitAtTopLevelKeyword(rest, "of") match {
          case (nStr, Some(k)) => (nStr.trim.toInt, k.trim)
          case _ => fail(s"sample-distinct needs `N of key`, got: '$seg'")
        }
        df.select(col(key)).distinct().orderBy(xxhash64(col(key)).asc).limit(n)

      case "count" =>
        require(rest.trim.isEmpty, s"`count` takes no arguments, got: '$rest'")
        df.agg(count(lit(1)).as("Count"))

      // schema introspection (ADX column order + catalog type names);
      // metadata-only — builds a local frame from the analyzed schema
      case "getschema" =>
        require(rest.trim.isEmpty, s"`getschema` takes no arguments, got: '$rest'")
        val rows = df.schema.fields.zipWithIndex.map { case (f, i) =>
          (f.name, i.toLong, f.dataType.catalogString)
        }
        val session = df.sparkSession
        import session.implicits._
        rows.toSeq.toDF("ColumnName", "ColumnOrdinal", "ColumnType")

      case "distinct" =>
        if (rest.trim == "*") df.distinct()
        else df.select(splitTopLevel(rest, ',').map(s => col(s.trim)): _*).distinct()

      case "join" =>
        // bare `| join` means `kind=innerunique` in ADX — match it so ported
        // KQL returns identical rows; `kind=inner` opts into the plain join
        val (kind, hint, body) = joinParams(rest.trim, default = "innerunique")
        val (rightSrc, onClause) = splitAtTopLevelOn(body)
        val right0 = operand(resolve, rightSrc)
        // ADX hint.strategy=broadcast → broadcast the RIGHT side (ADX
        // broadcasts the left; our operand order maps its intent: the small
        // side skips the shuffle). hint.strategy=shuffle → a genuine
        // shuffle join (shuffle_hash, right side as build): previously a
        // no-op "default plan", which let the planner pick a broadcast
        // whose relation is built+compressed on ONE driver thread — the
        // graph queries' orders⋈lineitem edge subtrees spent ~8 s per run
        // there at the 100× replica with every executor idle (r18: commit
        // f60c72c, with the round's bench records in 05f069b).
        val right = hint match {
          case Some("broadcast") => broadcast(right0)
          case Some("shuffle")   => right0.hint("shuffle_hash")
          case _                 => right0
        }
        applyJoin(df, right, kind, onClause)

      // KQL `lookup`: the dimension-enrichment join — semantically a
      // leftouter (or inner) join against a SMALL table, so the right side
      // gets a broadcast hint: zero shuffle on the fact side at any scale.
      case "lookup" =>
        val (kind, _, body) = joinParams(rest.trim, default = "leftouter")
        require(kind == "leftouter" || kind == "inner",
          s"lookup supports kind=leftouter|inner, got '$kind'")
        val (rightSrc, onClause) = splitAtTopLevelOn(body)
        val right = broadcast(operand(resolve, rightSrc))
        applyJoin(df, right, kind, onClause)

      case "union" =>
        // `kind=outer` (the default) null-pads name-matched columns;
        // `kind=inner` keeps only the columns COMMON to every operand;
        // `isfuzzy=true` skips operands that fail to resolve (ADX's
        // resilient union — the piped frame always survives)
        var rest1 = rest.trim
        var uKind = "outer"
        var fuzzy = false
        var progress = true
        while (progress) {
          progress = false
          if (rest1.toLowerCase.startsWith("kind=")) {
            val (k, t2) = rest1.drop("kind=".length).span(!_.isWhitespace)
            require(k == "inner" || k == "outer", s"union kind must be inner|outer, got '$k'")
            uKind = k; rest1 = t2.trim; progress = true
          } else if (rest1.toLowerCase.startsWith("isfuzzy=")) {
            val (v, t2) = rest1.drop("isfuzzy=".length).span(!_.isWhitespace)
            require(v == "true" || v == "false", s"union isfuzzy must be true|false, got '$v'")
            fuzzy = v.toBoolean; rest1 = t2.trim; progress = true
          }
        }
        val operands = df +: splitTopLevel(rest1, ',').map(_.trim).filter(_.nonEmpty)
          .flatMap(src =>
            if (!fuzzy) Some(operand(resolve, src))
            else
              // only unresolved references are skipped — see unionSource
              try Some(operand(resolve, src))
              catch { case _: UnresolvedTableException => None })
        if (uKind == "outer")
          operands.reduce(_.unionByName(_, allowMissingColumns = true))
        else {
          val common = operands.map(_.columns.toSeq).reduce(_ intersect _)
          require(common.nonEmpty, "union kind=inner: operands share no columns")
          operands.map(_.select(common.map(col): _*)).reduce(_ unionByName _)
        }

      // `mv-expand c[, d]`: one output row per element of the dynamic
      // (array) column, other columns repeated; empty/null arrays drop the
      // row (KQL default). Multiple columns expand in PARALLEL as in KQL —
      // element i of each array lands on row i, shorter arrays null-padded
      // (arrays_zip + ONE generator), NOT a cartesian product (chain
      // separate mv-expand operators for that). Spark-first: explode, no UDF.
      case "mv-expand" =>
        // optional leading `with_itemindex = name`: the element's 0-based
        // position rides along (Spark's posexplode shape via arrays_zip
        // with a sequence — one generator either way)
        val IdxRe = """(?is)^with_itemindex\s*=\s*([A-Za-z_][A-Za-z0-9_]*)\s+(.*)$""".r
        val (itemIndex, rest2) = rest.trim match {
          case IdxRe(nm, r) => (Some(nm), r)
          case r            => (None, r)
        }
        // optional trailing `limit N`: at most N expanded rows per input
        // row — a pre-explode slice, so oversized arrays never inflate the
        // generator's output
        val LimitRe = """(?is)^(.*?)\s+limit\s+(\d+)\s*$""".r
        val (rest3, rowLimit) = rest2.trim match {
          case LimitRe(r, n) => (r, Some(n.toInt))
          case r             => (r, None)
        }
        // alias keeps arrays_zip's struct-field names stable under the slice
        def src(c2: String): Column =
          rowLimit.map(n => slice(col(c2), 1, n).as(c2)).getOrElse(col(c2))
        // each item: `col [to typeof(kqlType)]` — the cast applies to the
        // EXPANDED element (the ADX spelling for typed dynamic arrays)
        val ToTypeRe = """(?is)([A-Za-z_][A-Za-z0-9_]*)\s+to\s+typeof\s*\(\s*([A-Za-z0-9()_,]+)\s*\)""".r
        val items = splitTopLevel(rest3, ',').map(_.trim).filter(_.nonEmpty).map {
          case ToTypeRe(c2, t2) =>
            val sparkT = KqlTypes.getOrElse(t2.toLowerCase,
              fail(s"mv-expand: unknown typeof '$t2'"))
            (c2, Some(sparkT))
          case c2 => (c2, None)
        }
        val cols = items.map(_._1)
        require(cols.nonEmpty, "mv-expand needs at least one column")
        require(cols.distinct.size == cols.size, "mv-expand columns must be distinct")
        val expanded = itemIndex match {
          case Some(idx) =>
            // zip a 0-based position lane in and expand everything together;
            // the lane spans the LONGEST array (arrays_zip null-pads short)
            val tmp = "__graft_mv_zip"
            val maxLen = cols.map(c2 => size(src(c2)).cast("long"))
              .reduce((x, y) => greatest(x, y))
            // empty arrays drop the row (ADX + the no-index path): guard
            // the index lane — sequence(0, -1) would step BACKWARDS to
            // [0, -1] and fabricate two rows; explode(null) yields none
            val zipped = when(maxLen > lit(0L), arrays_zip(
              (sequence(lit(0L), maxLen - 1).as(idx) +: cols.map(src)): _*))
            cols.foldLeft(
              df.withColumn(tmp, explode(zipped))
                .withColumn(idx, col(tmp).getField(idx)))(
              (d, c) => d.withColumn(c, col(tmp).getField(c))).drop(tmp)
          case None if cols.size == 1 =>
            df.withColumn(cols.head, explode(src(cols.head)))
          case None =>
            val tmp = "__graft_mv_zip"
            cols.foldLeft(
              df.withColumn(tmp, explode(arrays_zip(cols.map(src): _*))))(
              (d, c) => d.withColumn(c, col(tmp).getField(c))).drop(tmp)
        }
        items.foldLeft(expanded) {
          // try_cast: elements that fail conversion become null (the ADX
          // contract), never an ANSI error
          case (d, (c2, Some(t2))) => d.withColumn(c2, expr(s"try_cast(`$c2` as $t2)"))
          case (d, (_, None))      => d
        }

      // `mv-apply elem = arrayCol on (where … | extend … | summarize … [by …])`:
      // the per-row subquery over a dynamic column. Spark-first, no self-join
      // and no per-row dispatch: tag each row with a generated id, explode
      // the array, apply the subquery's where/extend stages to the exploded
      // frame, then ONE groupBy(rowId [+ by-keys]) whose aggregates are the
      // subquery's summarize plus first() of every original column (constant
      // per id — exact). Rows whose subquery yields no elements disappear,
      // matching ADX. The id is generated ONCE and never re-evaluated, so
      // nondeterministic upstream ordering can't split a row's identity.
      // Without a terminal summarize the exploded rows ARE the result
      // (mv-expand + stages). Sub-pipeline operators: where/extend/summarize.
      case "mv-apply" =>
        val (bindPart, onPart) = splitAtTopLevelKeyword(rest, "on") match {
          case (b, Some(o)) => (b.trim, o.trim)
          case _            => fail(s"mv-apply needs `on (sub-pipeline)`, got: '$seg'")
        }
        // one or several comma-separated bindings: several arrays expand in
        // PARALLEL (element i of each lands on row i — arrays_zip + ONE
        // generator, exactly the mv-expand contract), then the sub-pipeline
        // sees all element columns at once.
        val binds = splitTopLevel(bindPart, ',').map(_.trim).filter(_.nonEmpty).map { b =>
          assignment(b) match {
            case Some((n, e)) => (n, e)
            case None =>
              require(b.matches("[A-Za-z_][A-Za-z0-9_]*"),
                s"mv-apply needs `name = arrayExpr` or a column name, got: '$b'")
              (b, b)
          }
        }
        require(binds.nonEmpty, s"mv-apply needs at least one binding, got: '$bindPart'")
        require(binds.map(_._1).distinct.size == binds.size,
          s"mv-apply element names must be distinct, got: '$bindPart'")
        require(onPart.startsWith("(") && onPart.endsWith(")"),
          s"mv-apply needs a parenthesized sub-pipeline, got: '$onPart'")
        val subSegs = splitTopLevel(onPart.substring(1, onPart.length - 1), '|')
          .map(_.trim).filter(_.nonEmpty)
        val rowId = "__graft_mv_row"
        val originals = df.columns.toSeq
        // If an element binding shadows an existing column (the `mv-apply
        // arrayCol on (…)` shorthand), stash the original first: the carried
        // first() below must see the per-row-constant original, not an
        // arbitrary exploded element.
        val stashes = binds.map(_._1).filter(originals.contains)
          .map(n => n -> s"__graft_mv_orig_$n").toMap
        val tagged  = df.withColumn(rowId, monotonically_increasing_id())
        val prepped = stashes.foldLeft(tagged) { case (d, (n, st)) =>
          d.withColumn(st, col(n))
        }
        val exploded =
          if (binds.size == 1)
            prepped.withColumn(binds.head._1, explode(expr(tx(binds.head._2))))
          else {
            val tmp = "__graft_mva_zip"
            binds.foldLeft(prepped.withColumn(tmp, explode(arrays_zip(
              binds.map { case (n, e) => expr(tx(e)).as(n) }: _*))))(
              (d, b) => d.withColumn(b._1, col(tmp).getField(b._1))).drop(tmp)
          }
        val (stages, terminal) =
          if (subSegs.nonEmpty && subSegs.last.toLowerCase.startsWith("summarize"))
            (subSegs.init, Some(subSegs.last.drop("summarize".length)))
          else (subSegs, None)
        val staged = stages.foldLeft(exploded) { (d, s2) =>
          val w = s2.takeWhile(!_.isWhitespace).toLowerCase
          require(w == "where" || w == "extend" || w == "filter",
            s"mv-apply sub-pipeline supports where/extend/summarize, got: '$s2'")
          applyOp(resolve)(d, s2)
        }
        terminal match {
          // no summarize: the exploded element IS the output column (ADX
          // mv-apply shorthand) — the stash is only for the summarize path
          case None => staged.drop(rowId +: stashes.values.toSeq: _*)
          case Some(aggBody) =>
            val (aggsPart, byPart) = splitAtTopLevelBy(aggBody)
            val aggs = splitTopLevel(aggsPart, ',').map(_.trim).filter(_.nonEmpty).flatMap(aggItems)
            require(aggs.nonEmpty, "mv-apply summarize needs at least one aggregate")
            val byCols = byPart.toSeq.flatMap(splitTopLevel(_, ',').map(_.trim).filter(_.nonEmpty))
            byCols.foreach(k => require(k.matches("[A-Za-z_][A-Za-z0-9_]*"),
              s"mv-apply by-keys must be bare column names, got: '$k'"))
            val carriedNames = originals.filterNot(byCols.contains)
            val carried = carriedNames.map { c2 =>
              // restore the stashed original when a binding shadowed it
              first(col(stashes.getOrElse(c2, c2))).as(c2)
            }
            val agged = staged
              .groupBy((rowId +: byCols).map(col): _*)
              .agg((carried ++ aggs).head, (carried ++ aggs).tail: _*)
              .drop(rowId)
            // original columns first, then by-keys, then aggregates — the
            // ADX output shape; agg names read back from the result schema
            val aggNames = agged.columns.toSeq.diff(carriedNames ++ byCols)
            agged.select((carriedNames ++ byCols ++ aggNames).map(col): _*)
        }

      // `parse Col with ['*'] "lit" Name1 "lit2" Name2 …`: ANCHORED scan, as
      // in KQL — the pattern must match from the start of the value (lead
      // with `*` to skip a prefix; a bare `*` anywhere matches-and-discards).
      // Each literal is matched verbatim, each name captures lazily up to
      // the next literal (the final name captures to end of value). Compiles
      // to ONE regexp pattern evaluated per extracted column (codegen'd
      // RegExpExtract; the pattern compiles once per task via Spark's regex
      // cache). Names may not repeat; non-matching rows yield empty strings
      // (KQL yields nulls — documented divergence of regexp_extract).
      case "parse" =>
        applyParse(df, rest, seg, filterMatches = false)

      // `parse-where`: parse, but rows that don't match the pattern are
      // dropped instead of yielding empty captures — the filter reuses the
      // SAME compiled regex (rlike), so both stay codegen'd
      case "parse-where" =>
        applyParse(df, rest, seg, filterMatches = true)

      // `parse-kv Expr as (k1:type, …) with (pair_delimiter=';',
      // kv_delimiter='=')`: key-value extraction. Lowers to ONE codegen'd
      // str_to_map per row (delimiters are literal — regex-quoted) with
      // trimmed keys/values, then a cast per declared key; undeclared keys
      // are ignored, missing keys come back null (ADX semantics).
      case "parse-kv" =>
        val AsRe = """(?is)(.+?)\s+as\s*(\(.*)""".r
        val (exprS, after) = rest.trim match {
          case AsRe(e, a) => (e, a)
          case _ => fail(s"parse-kv needs `<expr> as (name:type, …)`, got: '$seg'")
        }
        val (schemaInner, tail) = takeGroup(after, '(', ')')
        val schema = parseSchema(schemaInner)
        var pairDelim = " "
        var kvDelim   = "="
        val t0 = tail.trim
        if (t0.nonEmpty) {
          require(t0.toLowerCase.startsWith("with"),
            s"parse-kv: expected `with (…)` after the schema, got: '$t0'")
          val (optsInner, _) = takeGroup(t0.drop(4).trim, '(', ')')
          splitTopLevel(optsInner, ',').map(_.trim).filter(_.nonEmpty).foreach { o =>
            val parts = o.split("=", 2)
            require(parts.length == 2, s"parse-kv option needs `name=value`, got: '$o'")
            parts(0).trim.toLowerCase match {
              case "pair_delimiter" => pairDelim = unquote(parts(1).trim)
              case "kv_delimiter"   => kvDelim   = unquote(parts(1).trim)
              case other => fail(s"parse-kv: unsupported option '$other'")
            }
          }
        }
        def rq(s: String) = java.util.regex.Pattern.quote(s)
        val m = "__graft_kv"
        df.withColumn(m,
            str_to_map(expr(tx(exprS)).cast("string"), lit(rq(pairDelim)), lit(rq(kvDelim))))
          .withColumn(m, expr(s"transform_keys(transform_values($m, (k, v) -> trim(v)), (k, v) -> trim(k))"))
          .transform(d => schema.foldLeft(d) { case (acc, (n, tpe)) =>
            acc.withColumn(n, element_at(col(m), n).cast(tpe))
          })
          .drop(m)

      // `search 'term'`: whole-term case-insensitive match across ALL string
      // columns (ADX's cross-column full-text search, term semantics like
      // `has`). One OR-chain of codegen'd predicates — a single scan.
      case "search" =>
        val term = unquote(rest.trim)
        require(term.nonEmpty, "search needs a non-empty term")
        val stringCols = df.schema.fields.collect {
          case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
        }
        require(stringCols.nonEmpty, "search needs at least one string column")
        import graft.functions.expressions.TermHas
        def probe(c: String): Column =
          if (TermHas.isAsciiAlnum(term)) TermHas.termHas(col(c), lit(term))
          else phraseRegex(term) match {
            // multi-term needle: adjacent-term phrase, same as `has`
            case Some(pat) => col(c).rlike(pat)
            case None => array_contains(split(lower(col(c)), "[^0-9a-z]+"), lit(term.toLowerCase))
          }
        df.filter(stringCols.map(probe).reduce(_ || _))

      // `partition by k ( subquery )`: ADX's per-group subquery. Never a
      // per-group driver loop — every stage lowers to a key-aware
      // full-table operator: per-row stages (where/extend/project/parse/
      // mv-expand) apply as-is, `summarize` adds the key to its group-by,
      // `top N by` becomes ONE window PARTITIONED by the key (bounded
      // per-partition state), `order by` head + row functions use key
      // windows. The union-of-per-key-results is therefore a single
      // distributed plan with one shuffle per aggregating stage.
      case "partition" =>
        val body = rest.trim
        require(body.toLowerCase.startsWith("by"), s"expected `partition by …`, got: '$seg'")
        val afterBy = body.drop(2).trim
        val key = afterBy.takeWhile(c => !c.isWhitespace && c != '(')
        require(key.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"partition by needs a column name, got: '$afterBy'")
        val (sub, tail) = takeGroup(afterBy.drop(key.length), '(', ')')
        require(tail.trim.isEmpty, s"unexpected trailing text after partition subquery: '$tail'")
        val subT = sub.trim
        val TopRe = """(?i)top\s+(\d+)\s+by\s+(.+)""".r
        subT match {
          case TopRe(n, items) =>
            val sortCols = orderItems(items)
            val w = Window.partitionBy(col(key)).orderBy(sortCols: _*)
            df.withColumn("__graft_part_rank", row_number().over(w))
              .filter(col("__graft_part_rank") <= n.toInt)
              .drop("__graft_part_rank")
          // `partition by k (order by c [asc|desc] | extend …)`: grouped
          // serialized-row functions. Per-KEY order means the window path IS
          // the 100 TB shape (one shuffle on a high-cardinality key, bounded
          // per-partition state) — ScanOps' two-pass machinery stays
          // reserved for the global-order case.
          case _ if subT.toLowerCase.startsWith("order by") ||
                    subT.toLowerCase.startsWith("sort by") =>
            val segs2 = splitTopLevel(subT, '|').map(_.trim).filter(_.nonEmpty)
            val ordExpr = segs2.head.drop(
              if (subT.toLowerCase.startsWith("order")) "order by".length else "sort by".length)
            val sortCols = orderItems(ordExpr)
            val w = Window.partitionBy(col(key)).orderBy(sortCols: _*)
            val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            segs2.tail.foldLeft(df) { (d, s2) =>
              val (w2, rest2) = s2.span(c => !c.isWhitespace)
              w2.toLowerCase match {
                case "where" | "filter" => d.filter(expr(tx(rest2)))
                case "extend" =>
                  splitTopLevel(rest2, ',').map(_.trim).foldLeft(d) { (d2, item) =>
                    assignment(item) match {
                      case Some((name, e)) if RowNumberRe.matches(e.trim) =>
                        val start = "\\d+".r.findFirstIn(e).map(_.toLong).getOrElse(1L)
                        d2.withColumn(name,
                          (row_number().over(w).cast("long") + lit(start - 1)))
                      case Some((name, e)) if RowScanRe.matches(e.trim) =>
                        val RowScanRe(fn, inner0) = e.trim
                        val args = splitTopLevel(inner0, ',').map(_.trim).filter(_.nonEmpty)
                        require(args.nonEmpty, s"$fn needs an argument, got: '$e'")
                        val arg0 = expr(tx(args.head))
                        fn.toLowerCase match {
                          case "row_cumsum" =>
                            require(args.size == 1,
                              "row_cumsum restart is redundant under partition by " +
                                "(each key already restarts); got: '" + e + "'")
                            d2.withColumn(name, sum(arg0).over(wCum))
                          case pn @ ("prev" | "next") =>
                            require(args.size <= 3,
                              s"$pn takes (expr [, offset [, default]]), got: '$e'")
                            val off = if (args.size >= 2) args(1).toInt else 1
                            val shifted =
                              if (pn == "prev") lag(arg0, off).over(w)
                              else lead(arg0, off).over(w)
                            d2.withColumn(name,
                              if (args.size == 3) coalesce(shifted, expr(tx(args(2))))
                              else shifted)
                          case "row_rank_dense" =>
                            // two window passes (lag, then the cumulative
                            // sum) — nesting one inside the other is illegal
                            require(args.size == 1, s"row_rank_dense takes (term), got: '$e'")
                            val ptmp = "__graft_rrd_prev"
                            d2.withColumn(ptmp, lag(arg0, 1).over(w))
                              .withColumn(name, sum(
                                when(col(ptmp).isNull || arg0 =!= col(ptmp), 1L)
                                  .otherwise(0L)).over(wCum))
                              .drop(ptmp)
                          case "row_rank_min" =>
                            // rank_min = running max of the run-start row
                            // numbers (start rids only ever increase)
                            require(args.size == 1, s"row_rank_min takes (term), got: '$e'")
                            val ptmp = "__graft_rrm_prev"
                            val rtmp = "__graft_rrm_rid"
                            d2.withColumn(ptmp, lag(arg0, 1).over(w))
                              .withColumn(rtmp, row_number().over(w).cast("long"))
                              .withColumn(name, max(
                                when(col(ptmp).isNull || arg0 =!= col(ptmp), col(rtmp)))
                                .over(wCum))
                              .drop(ptmp, rtmp)
                        }
                      case Some((name, e)) => d2.withColumn(name, expr(tx(e)))
                      case None => fail(s"extend needs `name = expr`, got: '$item'")
                    }
                  }
                case other2 => fail(
                  s"partition by (order by … | …) supports where/extend stages, got: '$other2'")
              }
            }
          case _ =>
            // general sub-pipeline: fold stages left to right, each lowered
            // with the partition key as an implicit extra grouping key. One
            // documented divergence from ADX: the key column SURVIVES
            // `summarize`/`count` output even when not listed (per-key
            // results are useless without it in a unioned answer).
            val segs2 = splitTopLevel(subT, '|').map(_.trim).filter(_.nonEmpty)
            segs2.foldLeft(df) { (d, s2) =>
              val (w2, rest2) = s2.span(c => !c.isWhitespace)
              val r2 = rest2.trim
              w2.toLowerCase match {
                case "where" | "filter" | "extend" | "project" | "project-away" |
                     "project-keep" | "project-rename" | "project-reorder" |
                     "parse" | "parse-where" | "mv-expand" =>
                  applyOp(resolve)(d, s2) // per-row stages are key-agnostic
                case "summarize" =>
                  val (aggsPart, byPart) = splitAtTopLevelBy(r2)
                  val by2 = byPart match {
                    case Some(b) if splitTopLevel(b, ',').map(_.trim).contains(key) => b
                    case Some(b) => s"$key, $b"
                    case None    => key
                  }
                  applyOp(resolve)(d, s"summarize $aggsPart by $by2")
                case "top" =>
                  r2.split("\\s+", 3) match {
                    case Array(nS, byW, items) if byW.equalsIgnoreCase("by") =>
                      val w = Window.partitionBy(col(key)).orderBy(orderItems(items): _*)
                      d.withColumn("__graft_part_rank", row_number().over(w))
                        .filter(col("__graft_part_rank") <= nS.toInt)
                        .drop("__graft_part_rank")
                    case _ => fail(s"partition top stage needs `top N by <expr>`, got: '$s2'")
                  }
                case "count" =>
                  require(r2.isEmpty, s"`count` takes no arguments, got: '$r2'")
                  d.groupBy(col(key)).agg(count(lit(1)).as("Count"))
                case "distinct" =>
                  val cols2 = splitTopLevel(r2, ',').map(_.trim).filter(_.nonEmpty)
                  if (cols2 == Seq("*")) d.distinct()
                  else {
                    val withKey = if (cols2.contains(key)) cols2 else key +: cols2
                    d.select(withKey.map(c2 => expr(tx(c2))): _*).distinct()
                  }
                case "order" | "sort" =>
                  // per-key presentation order: prepend the key so the
                  // unioned result reads grouped by key
                  require(r2.toLowerCase.startsWith("by"), s"expected `$w2 by …`")
                  d.orderBy(col(key) +: orderItems(r2.drop(2)): _*)
                case other2 => fail(
                  s"partition by ($subT): unsupported stage '$other2' — " +
                    "supported: where/extend/project*/parse/mv-expand (per-row), " +
                    "summarize, top N by, distinct, count, order by; " +
                    "take/sample are per-key nondeterministic and rejected")
              }
            }
        }

      // `top-nested N of key by [name =] agg(…) [, top-nested M of key2 by …]`:
      // hierarchical top-k. Level 1 is agg → global sort-limit (top-k by
      // sort+limit, never an unpartitioned window); level 2 semi-joins the
      // kept level-1 keys (broadcast — ≤N rows), aggregates, and ranks with a
      // window PARTITIONED by the level-1 key. Ties break on the key
      // (ascending) for determinism — ADX leaves ties unspecified.
      case "top-nested" =>
        val levels = splitTopLevel(rest, ',').map(_.trim).filter(_.nonEmpty)
          .foldLeft(Vector.empty[String]) { (acc, item) =>
            val l = item.toLowerCase
            if (l.startsWith("top-nested")) acc :+ item.drop("top-nested".length).trim
            else if (acc.isEmpty) acc :+ item
            else acc.init :+ s"${acc.last}, $item" // comma inside an agg arg list
          }
        applyTopNested(df, levels.map(parseTopNestedLevel))

      // `evaluate pivot(pivotCol, agg(valueCol))`: wide pivot. Spark-first:
      // groupBy(all other columns).pivot(col).agg — Spark collects the
      // DISTINCT pivot values (driver-bounded by the domain size, same
      // contract as ADX pivot) and emits one codegen'd aggregation.
      case "evaluate" if rest.trim.toLowerCase.startsWith("bag_unpack") =>
        // `evaluate bag_unpack(dynCol)`: spread a JSON bag into columns. The
        // key set is data-dependent, so ONE schema-inference pass runs first
        // (spark.read.json over the column — the same contract as ADX's
        // plugin, which also scans to discover keys), then a single
        // from_json + star-expand does the work; the dynamic column drops.
        val (inner, tail) = takeGroup(rest.trim.drop("bag_unpack".length), '(', ')')
        require(tail.trim.isEmpty, s"unexpected trailing text after bag_unpack(…): '$tail'")
        val c = inner.trim
        require(c.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"bag_unpack needs a column name, got: '$c'")
        val jsonSchema = df.sparkSession.read
          .json(df.select(col(c)).na.drop().as(org.apache.spark.sql.Encoders.STRING))
          .schema
        val others = df.columns.toSeq.filterNot(_ == c)
        // ADX's plugin errors on key/column conflicts rather than silently
        // producing a duplicate-named frame — match that, loudly
        val colliding = jsonSchema.fieldNames.toSeq.intersect(others)
        require(colliding.isEmpty,
          s"bag_unpack: inferred keys collide with existing columns: " +
            colliding.mkString(", "))
        df.withColumn("__graft_bag", from_json(col(c), jsonSchema))
          .select(others.map(col) :+ col("__graft_bag.*"): _*)

      // `evaluate narrow()`: fold the frame to (Row, Column, Value) string
      // triples — ADX's debugging/display plugin. Rows number 0,1,… in the
      // frame's CURRENT global order via ZipIndex (a per-partition count job
      // + zero-shuffle map — never a single-partition window); the wide→long
      // turn itself is Spark's built-in unpivot, one codegen'd pass.
      case "evaluate" if rest.trim.toLowerCase.startsWith("schema_merge") =>
        // `evaluate schema_merge()`: unify a union of getschema outputs —
        // one row per ColumnName, ordinal = first appearance, type kept
        // when every occurrence agrees and widened to 'dynamic' on
        // conflict (the ADX contract). One groupBy; no driver work.
        val (inner, tail) = takeGroup(rest.trim.drop("schema_merge".length), '(', ')')
        require(inner.trim.isEmpty && tail.trim.isEmpty,
          s"schema_merge takes no arguments, got: '$rest'")
        Seq("ColumnName", "ColumnOrdinal", "ColumnType").foreach(c =>
          require(df.columns.contains(c),
            s"schema_merge expects getschema-shaped input; missing column '$c'"))
        df.groupBy(col("ColumnName"))
          .agg(
            min(col("ColumnOrdinal")).as("ColumnOrdinal"),
            when(countDistinct(col("ColumnType")) === 1, first(col("ColumnType")))
              .otherwise(lit("dynamic")).as("ColumnType"))
          .select(col("ColumnName"), col("ColumnOrdinal"), col("ColumnType"))

      case "evaluate" if rest.trim.toLowerCase.startsWith("narrow") =>
        val (inner, tail) = takeGroup(rest.trim.drop("narrow".length), '(', ')')
        require(inner.trim.isEmpty && tail.trim.isEmpty,
          s"narrow takes no arguments, got: '$rest'")
        val indexed = graft.util.ZipIndex.withRowIndex(
          df.select(df.columns.map(c2 => col(c2).cast("string").as(c2)): _*),
          "Row", 0L)
        indexed.unpivot(Array(col("Row")), df.columns.map(col), "Column", "Value")

      // `evaluate basket([threshold])`: frequent-itemset mining over the
      // frame's columns (ADX's Apriori plugin). Spark-first: ONE `cube`
      // computes the whole itemset lattice Apriori walks level-by-level —
      // a single shuffle with partial aggregation — then a support filter
      // keeps itemsets covering >= threshold (default 5%) of the rows.
      // Wildcard positions are NULL, as in ADX; the all-wildcard row (the
      // empty itemset) is excluded by grouping_id. The row total rides in
      // as a broadcast scalar, not a driver-side collect.
      case "evaluate" if rest.trim.toLowerCase.startsWith("basket") =>
        val (inner, tail) = takeGroup(rest.trim.drop("basket".length), '(', ')')
        require(tail.trim.isEmpty, s"unexpected trailing text after basket(…): '$tail'")
        val threshold = if (inner.trim.isEmpty) 0.05 else inner.trim.toDouble
        require(threshold > 0 && threshold <= 1, s"basket threshold must be in (0,1]: $threshold")
        val cols  = df.columns.toSeq
        val total = df.agg(count(lit(1)).cast("double").as("__graft_total"))
        df.cube(cols.map(col): _*)
          .agg(count(lit(1)).as("Count"), grouping_id().as("__graft_gid"))
          .filter(col("__graft_gid") =!= ((1L << cols.length) - 1))
          .crossJoin(broadcast(total))
          .filter(col("Count") >= col("__graft_total") * threshold)
          .withColumn("Percent", round(col("Count") * 100 / col("__graft_total"), 6))
          .drop("__graft_gid", "__graft_total")

      // ---- ADX activity-analytics plugins ---------------------------------
      // All four work on a NUMERIC timeline axis (bin epoch-nanos to µs
      // first; datetime axes are epoch numbers here) and lower to
      // ActivityMetrics' explode-to-covered-bins shapes — per-bin partials
      // first, bounded w-way explode after, never a range self-join. Scalar
      // arguments are constant-folded KQL expressions (86400 * 1000000 is
      // fine), so callers can spell windows arithmetically.
      case "evaluate" if rest.trim.toLowerCase.startsWith("activity_counts_metrics") =>
        val a = pluginArgs(rest, "activity_counts_metrics", 5)
        ActivityMetrics.activityCountsMetrics(df, identArg(a(0)), identArg(a(1)),
          constLong(a(2)), constLong(a(3)), constLong(a(4)))

      case "evaluate" if rest.trim.toLowerCase.startsWith("sliding_window_counts") =>
        val a = pluginArgs(rest, "sliding_window_counts", 6)
        ActivityMetrics.slidingWindowCounts(df, identArg(a(0)), identArg(a(1)),
          constLong(a(2)), constLong(a(3)), constLong(a(4)), constLong(a(5)))

      case "evaluate" if rest.trim.toLowerCase.startsWith("active_users_count") =>
        val a = pluginArgs(rest, "active_users_count", 8)
        ActivityMetrics.activeUsersCount(df, identArg(a(0)), identArg(a(1)),
          constLong(a(2)), constLong(a(3)), constLong(a(4)), constLong(a(5)),
          constLong(a(6)).toInt, constLong(a(7)))

      // sequence_detect(axis, maxStepWindow, maxSpan, id, n1 = pred, …):
      // event sequences per id under time constraints. Lowers onto the
      // `scan` state machine (latest-start, single active sequence —
      // documented divergence: a completion whose gaps violate the bounds
      // DROPS, it does not retry an earlier pairing), then filters
      // adjacent-step gaps <= maxStepWindow and total span <= maxSpan.
      // Adds ADX's duration column (last step axis − first step axis).
      case "evaluate" if rest.trim.toLowerCase.startsWith("sequence_detect") =>
        val a = pluginArgs(rest, "sequence_detect", 6, maxN = 16)
        val axis = identArg(a(0)); val maxStep = constLong(a(1))
        val maxSpan = constLong(a(2)); val id = identArg(a(3))
        val StepRe = """(?s)^([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$""".r
        val steps = a.drop(4).map {
          case StepRe(nm, pred) => nm -> expr(tx(pred))
          case other => fail(s"sequence_detect step must be `name = <predicate>`, got: '$other'")
        }
        val scanned =
          graft.operators.ScanSteps.scanSteps(df, Seq(id), axis, ascending = true, steps)
        val tcols = steps.map(st => col(s"${st._1}_$axis"))
        val gapOk = tcols.sliding(2).map { case Seq(x, y) => (y - x) <= maxStep }
          .reduce(_ && _)
        scanned.filter(gapOk && (tcols.last - tcols.head) <= maxSpan)
          .withColumn("duration", tcols.last - tcols.head)

      case "evaluate" if rest.trim.toLowerCase.startsWith("new_activity_metrics") =>
        val a = pluginArgs(rest, "new_activity_metrics", 5)
        ActivityMetrics.newActivityMetrics(df, identArg(a(0)), identArg(a(1)),
          constLong(a(2)), constLong(a(3)), constLong(a(4)))

      // ipv4_lookup(LookupTable, ipCol, cidrCol [, return_unmatched]):
      // longest-prefix CIDR match as a BUCKETED EQUI-JOIN — never a range
      // theta-join. TWO bucket tiers bound the LUT-side explode at 256
      // rows for ANY mask: CIDRs with mask ≥ 8 explode to the /16 buckets
      // they cover (2^(16−m), ≤ 256); wider CIDRs (mask < 8, e.g. a /4 or
      // the /0 default route) explode to /8 buckets (2^(8−m), ≤ 256). The
      // tiers union into ONE broadcastable dim keyed (tier, bucket); each
      // fact row explodes to its two (tier, bucket) probes, so the corpus
      // side is derived ONCE and joined ONCE (r18: the previous two-leg
      // shape ran the fact subtree through ZipIndex's df.rdd — a
      // Row-conversion round-trip per row — and computed it once per leg;
      // monotonically_increasing_id on the single derivation gives the
      // per-row group key the multiset semantics need, stays inside
      // whole-stage codegen, and costs no counting job — the rid never
      // leaves the operator). A residual range filter keeps real
      // containment. Longest prefix wins per fact row (mask desc, cidr
      // desc tie-break — the oracle orders the same way) via a hash
      // max_by: partial aggregation collapses a row's matches inside the
      // join tasks, no window, no sort. return_unmatched rides the SAME
      // plan as a left-outer join: an unmatched row's copies carry an
      // all-null ordering struct, which loses to any real match and
      // surfaces null lookup columns when nothing matched.
      case "evaluate" if rest.trim.toLowerCase.startsWith("ipv4_lookup") =>
        val a = pluginArgs(rest, "ipv4_lookup", 3, maxN = 4)
        val lutName = a(0).trim
        require(lutName.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"ipv4_lookup needs a table name, got: '$lutName'")
        val ipC = identArg(a(1)); val cidrC = identArg(a(2))
        val returnUnmatched = a.length > 3 && a(3).trim.toLowerCase == "true"
        val lut = resolve(lutName)
          .withColumn("__lk_base", expr(tx(s"parse_ipv4(split($cidrC, '/')[0])")))
          .withColumn("__lk_mask", expr(tx(s"toint(coalesce(split($cidrC, '/')[1], '32'))")))
          .withColumn("__lk_lo", expr(
            "__lk_base - pmod(__lk_base, shiftleft(CAST(1 AS BIGINT), 32 - __lk_mask))"))
          .withColumn("__lk_hi", expr(
            "__lk_lo + shiftleft(CAST(1 AS BIGINT), 32 - __lk_mask) - 1"))
        val lutB = lut.filter(col("__lk_mask") >= 8)
          .withColumn("__lk_lt", lit(0))
          .withColumn("__lk_lb", explode(expr("sequence(__lk_lo div 65536, __lk_hi div 65536)")))
          .unionByName(lut.filter(col("__lk_mask") < 8)
            .withColumn("__lk_lt", lit(1))
            .withColumn("__lk_lb",
              explode(expr("sequence(__lk_lo div 16777216, __lk_hi div 16777216)"))))
        val fact = df
          .withColumn("__lk_rid", monotonically_increasing_id())
          .withColumn("__lk_ipn", expr(tx(s"parse_ipv4($ipC)")))
          .withColumn("__lk_tb", explode(array(
            struct(lit(0).as("__lk_t"), expr("__lk_ipn div 65536").as("__lk_b")),
            struct(lit(1).as("__lk_t"), expr("__lk_ipn div 16777216").as("__lk_b")))))
          .withColumn("__lk_t", col("__lk_tb.__lk_t"))
          .withColumn("__lk_b", col("__lk_tb.__lk_b"))
          .drop("__lk_tb")
        val lutOut  = resolve(lutName).columns.toSeq
        val factOut = df.columns.toSeq
        val joined = fact.join(lutB,
          col("__lk_t") === col("__lk_lt") && col("__lk_b") === col("__lk_lb") &&
            col("__lk_ipn").between(col("__lk_lo"), col("__lk_hi")),
          if (returnUnmatched) "left_outer" else "inner")
        joined
          .groupBy(col("__lk_rid") +: factOut.map(col): _*)
          .agg(max_by(struct(lutOut.map(col): _*),
            struct(col("__lk_mask"), col(cidrC))).as("__lk_best"))
          .select(factOut.map(col) ++:
            lutOut.map(c2 => col(s"__lk_best.$c2").as(c2)): _*)

      // session_count(id, axis, start, end, bin, lookback): active sessions
      // per bin. A session = an id's activity cluster with gaps <= lookback;
      // a session is active at t iff its id had activity in (t−lookback, t],
      // and an id has at most ONE active session at any t — so the count of
      // active sessions IS the rolling distinct-id count. Shares the
      // sliding_window_counts explode shape (provably identical result).
      // `evaluate dcount_intersect(hll_a, hll_b[, hll_c])`: s_i = estimated
      // distinct count of the intersection of the first i+1 sketch sets, by
      // inclusion–exclusion over MERGEABLE HLL unions — the sketches stay
      // mergeable partials all the way (the exact 100 TB shape: no re-scan
      // of the raw keys, intersection estimated from per-group sketches).
      // Differences of estimates can dip below zero; clamped at 0 like ADX.
      case "evaluate" if rest.trim.toLowerCase.startsWith("dcount_intersect") =>
        val a  = pluginArgs(rest, "dcount_intersect", 2, maxN = 3)
        val cs = a.map(identArg)
        def est(u: String) = s"hll_sketch_estimate($u)"
        def un(x: String, y: String) = s"hll_union($x, $y)"
        var out = df.withColumn("s0",
          expr(s"CAST(round(${est(cs(0))}) AS BIGINT)"))
        out = out.withColumn("s1", greatest(lit(0L), expr(
          s"CAST(round(${est(cs(0))} + ${est(cs(1))} - ${est(un(cs(0), cs(1)))}) AS BIGINT)")))
        if (cs.length == 3) {
          val (x, y, z) = (cs(0), cs(1), cs(2))
          out = out.withColumn("s2", greatest(lit(0L), expr(
            s"""CAST(round(${est(x)} + ${est(y)} + ${est(z)}
               | - ${est(un(x, y))} - ${est(un(x, z))} - ${est(un(y, z))}
               | + ${est(un(un(x, y), z))}) AS BIGINT)""".stripMargin)))
        }
        out.drop(cs: _*)

      // `evaluate rows_near(cond, numRows[, rowsAfter])`: keep every row
      // within numRows BEFORE a condition row and numRows (or rowsAfter)
      // AFTER one — the serialized context-window operator. Lowered as two
      // ScanOps distance scans (rows-since-last-TRUE forward, rows-to-next-
      // TRUE backward) in the frame's current global order: 2×(partial fold
      // + seeded re-walk), P scalars to the driver, zero shuffle, never a
      // one-partition window.
      case "evaluate" if rest.trim.toLowerCase.startsWith("rows_near") =>
        val a      = pluginArgs(rest, "rows_near", 2, maxN = 3)
        val before = constLong(a(1))
        val after  = if (a.length > 2) constLong(a(2)) else before
        require(before >= 0 && after >= 0,
          s"rows_near bounds must be >= 0, got ($before, $after)")
        val tagged = df.withColumn("__rn_c",
          coalesce(expr(tx(a(0))).cast("boolean"), lit(false)))
        val d = graft.util.ScanOps.distToNextTrue(
          graft.util.ScanOps.distSinceTrue(tagged, "__rn_c", "__rn_ds"),
          "__rn_c", "__rn_dn")
        d.filter(col("__rn_ds") <= after || col("__rn_dn") <= before)
          .drop("__rn_c", "__rn_ds", "__rn_dn")

      case "evaluate" if rest.trim.toLowerCase.startsWith("session_count") =>
        val a = pluginArgs(rest, "session_count", 6)
        ActivityMetrics.slidingWindowCounts(df, identArg(a(0)), identArg(a(1)),
          constLong(a(2)), constLong(a(3)), constLong(a(5)), constLong(a(4)))
          .select(col("timestamp"), col("dcount").as("count"))

      case "evaluate" if rest.trim.toLowerCase.startsWith("activity_engagement") =>
        val a = pluginArgs(rest, "activity_engagement", 7)
        ActivityMetrics.activityEngagement(df, identArg(a(0)), identArg(a(1)),
          constLong(a(2)), constLong(a(3)), constLong(a(4)), constLong(a(5)),
          constLong(a(6)))

      // funnel_sequence_completion(id, axis, state, dynamic([states]),
      // dynamic([windows])): distinct ids completing each sequence prefix
      // within each time budget — one scan per prefix (k small), counts
      // unioned. Output (prefix, window, dcount).
      case "evaluate" if rest.trim.toLowerCase.startsWith("funnel_sequence_completion") =>
        val a = pluginArgs(rest, "funnel_sequence_completion", 5)
        ActivityMetrics.funnelCompletion(df, identArg(a(0)), identArg(a(1)),
          identArg(a(2)), dynListArg(a(3)).map(unquote),
          dynListArg(a(4)).map(constLong))

      // funnel_sequence(id, axis, stateCol, 's1', 's2', …): consecutive
      // state-sequence matches grouped by surrounding states. DIVERGENCE:
      // no per-step time bound (that's `scan`); ADX's multi-table output
      // (prev/next charts) folds into one (prev, next) grouped table.
      case "evaluate" if rest.trim.toLowerCase.startsWith("funnel_sequence") =>
        val a = pluginArgs(rest, "funnel_sequence", 5, maxN = 16)
        ActivityMetrics.funnelSequence(df, identArg(a(0)), identArg(a(1)),
          identArg(a(2)), a.drop(3).map(unquote))

      case "evaluate" if rest.trim.toLowerCase.startsWith("rolling_percentile") =>
        val a = pluginArgs(rest, "rolling_percentile", 7)
        ActivityMetrics.rollingPercentile(df, identArg(a(0)), constDouble(a(1)),
          identArg(a(2)), constLong(a(3)), constLong(a(4)),
          constLong(a(5)).toInt, constLong(a(6)))

      case "evaluate" if rest.trim.toLowerCase.startsWith("activity_metrics") =>
        val a = pluginArgs(rest, "activity_metrics", 5)
        ActivityMetrics.activityMetrics(df, identArg(a(0)), identArg(a(1)),
          constLong(a(2)), constLong(a(3)), constLong(a(4)))

      // `evaluate autocluster([minCoverage])`: common attribute segments.
      // ADX's heuristic is opaque; this is a DETERMINISTIC simplification
      // (documented divergence): the basket cube lattice + support filter,
      // then the CLOSED-segment rule — a segment is dropped when a strictly
      // more specific kept segment has the same Count (it adds no
      // information). The closed filter is a self-join over the
      // support-filtered candidate set (tiny: the lattice after the support
      // cut), not over the data.
      case "evaluate" if rest.trim.toLowerCase.startsWith("autocluster") =>
        val (inner, tail) = takeGroup(rest.trim.drop("autocluster".length), '(', ')')
        require(tail.trim.isEmpty, s"unexpected trailing text after autocluster(…): '$tail'")
        val threshold = if (inner.trim.isEmpty) 0.05 else inner.trim.toDouble
        require(threshold > 0 && threshold <= 1, s"autocluster coverage must be in (0,1]: $threshold")
        val cols  = df.columns.toSeq
        val total = df.agg(count(lit(1)).cast("double").as("__graft_total"))
        val cand = df.cube(cols.map(col): _*)
          .agg(count(lit(1)).as("Count"), grouping_id().as("__graft_gid"))
          .filter(col("__graft_gid") =!= ((1L << cols.length) - 1))
          .crossJoin(broadcast(total))
          .filter(col("Count") >= col("__graft_total") * threshold)
          .withColumn("Percent", round(col("Count") * 100 / col("__graft_total"), 6))
          .drop("__graft_total")
        val a = cand.as("a"); val b = cand.as("b")
        // b strictly more specific than a: agrees wherever a is fixed, fixes
        // strictly more positions (gid bit 1 = wildcard ⇒ fewer bits set)
        val subsumes = cols.map(c2 =>
          col(s"a.$c2").isNull || col(s"a.$c2") === col(s"b.$c2")).reduce(_ && _) &&
          col("b.__graft_gid") < col("a.__graft_gid") &&
          (col("a.__graft_gid").bitwiseAND(col("b.__graft_gid")) === col("b.__graft_gid")) &&
          col("a.Count") === col("b.Count")
        a.join(b, subsumes, "left_anti")
          .drop("__graft_gid")

      // `evaluate diffpatterns(splitCol, valueA, valueB [, minDiffPct])`:
      // segment share difference between two cohorts — ONE cube with
      // conditional counts (no per-cohort pass), Percent columns against
      // each cohort's total, filtered on |PercentA - PercentB|. Ordering is
      // left to the caller (ADX ranks by an opaque score; documented
      // divergence).
      case "evaluate" if rest.trim.toLowerCase.startsWith("diffpatterns") &&
          !rest.trim.toLowerCase.startsWith("diffpatterns_text") =>
        val a = pluginArgs(rest, "diffpatterns", 3, maxN = 4)
        val (splitC, vA, vB) = (identArg(a(0)), unquote(a(1)), unquote(a(2)))
        val minDiff = if (a.length > 3) a(3).trim.toDouble else 0.0
        val attrs = df.columns.toSeq.filterNot(_ == splitC)
        val totals = df.agg(
          sum(when(col(splitC) === vA, 1L).otherwise(0L)).cast("double").as("__graft_ta"),
          sum(when(col(splitC) === vB, 1L).otherwise(0L)).cast("double").as("__graft_tb"))
        df.filter(col(splitC).isin(vA, vB))
          .cube(attrs.map(col): _*)
          .agg(
            sum(when(col(splitC) === vA, 1L).otherwise(0L)).as("CountA"),
            sum(when(col(splitC) === vB, 1L).otherwise(0L)).as("CountB"),
            grouping_id().as("__graft_gid"))
          .filter(col("__graft_gid") =!= ((1L << attrs.length) - 1))
          .crossJoin(broadcast(totals))
          .withColumn("PercentA", round(col("CountA") * 100 / col("__graft_ta"), 6))
          .withColumn("PercentB", round(col("CountB") * 100 / col("__graft_tb"), 6))
          .withColumn("PercentDiff", round(col("PercentA") - col("PercentB"), 6))
          .filter(abs(col("PercentDiff")) >= minDiff)
          .drop("__graft_gid", "__graft_ta", "__graft_tb")

      // diffpatterns_text(textCol, cond [, minDiffPct]): token-share
      // difference between the cond-true and cond-false cohorts. ADX mines
      // wildcard token PATTERNS (opaque heuristic); this is the
      // DETERMINISTIC single-token simplification (documented divergence):
      // lowercase [a-z0-9]+ tokens, occurrence counts per cohort, percents
      // against each cohort's token total — one explode + one hash groupBy.
      case "evaluate" if rest.trim.toLowerCase.startsWith("diffpatterns_text") =>
        val a = pluginArgs(rest, "diffpatterns_text", 2, maxN = 3)
        val textC = identArg(a(0)); val cond = expr(tx(a(1)))
        val minDiff = if (a.length > 2) a(2).trim.toDouble else 0.0
        val tok = df
          .select(explode(split(lower(col(textC)), "[^a-z0-9]+")).as("token"),
            cond.as("__dpt_c"))
          .filter(length(col("token")) > 0)
        val totals = tok.agg(
          sum(when(col("__dpt_c"), 1L).otherwise(0L)).cast("double").as("__dpt_ta"),
          sum(when(!col("__dpt_c"), 1L).otherwise(0L)).cast("double").as("__dpt_tb"))
        tok.groupBy(col("token"))
          .agg(sum(when(col("__dpt_c"), 1L).otherwise(0L)).as("CountA"),
            sum(when(!col("__dpt_c"), 1L).otherwise(0L)).as("CountB"))
          .crossJoin(broadcast(totals))
          .withColumn("PercentA", round(col("CountA") * 100 / col("__dpt_ta"), 6))
          .withColumn("PercentB", round(col("CountB") * 100 / col("__dpt_tb"), 6))
          .withColumn("PercentDiff", round(col("PercentA") - col("PercentB"), 6))
          .filter(abs(col("PercentDiff")) >= minDiff)
          .drop("__dpt_ta", "__dpt_tb")

      case "evaluate" =>
        val body = rest.trim
        require(body.toLowerCase.startsWith("pivot"),
          s"only `evaluate pivot/bag_unpack/narrow/basket/autocluster/diffpatterns/activity_counts_metrics/sliding_window_counts/active_users_count/activity_metrics` are supported, got: '$body'")
        val (inner, tail) = takeGroup(body.drop("pivot".length), '(', ')')
        require(tail.trim.isEmpty, s"unexpected trailing text after pivot(…): '$tail'")
        val parts = splitTopLevel(inner, ',').map(_.trim).filter(_.nonEmpty)
        require(parts.length >= 2, s"pivot needs (pivotColumn, agg(valueColumn)[, v1, v2, …]), got: '$inner'")
        val pivotCol = parts.head
        val aggCol   = aggItem(parts(1))
        val valueCol = {
          val call = parts(1)
          val open = call.indexOf('(')
          val arg0 = if (open > 0) splitTopLevel(
            call.substring(open + 1, call.dropRight(1).length), ',').headOption else None
          arg0.map(_.trim).filter(_.matches("[A-Za-z_][A-Za-z0-9_]*"))
        }
        val groupCols = df.columns.toSeq.filterNot(c => c == pivotCol || valueCol.contains(c))
        val grouped = df.groupBy(groupCols.map(col): _*)
        // explicit output values (ADX allows them) skip the domain-
        // discovery pass entirely — on a big fact table that pass is a
        // full extra scan, so spelling the columns IS the fast path
        val domain = parts.drop(2).map(unquote)
        if (domain.isEmpty) grouped.pivot(pivotCol).agg(aggCol)
        else grouped.pivot(pivotCol, domain).agg(aggCol)

      // `reduce by <expr> [with threshold = t]`: group similar strings into
      // patterns. ADX's plugin uses an opaque similarity heuristic; this
      // implementation is a DETERMINISTIC simplification (documented
      // divergence): the pattern generalizes every maximal digit run to
      // `*`, Count is the group size, Representative the lexicographic
      // minimum (ADX picks an arbitrary exemplar — min makes it stable).
      // One hash-groupBy on the pattern: scales like any aggregation.
      // `with threshold = t` drops patterns covering < t of all rows.
      case "reduce" =>
        val r0 = rest.trim
        require(r0.toLowerCase.startsWith("by "), s"reduce needs `by <expr>`: '$seg'")
        val (exprPart, threshold) = splitAtTopLevelKeyword(r0.drop(3), "with") match {
          case (e, Some(w)) =>
            val wt = w.trim
            require(wt.toLowerCase.startsWith("threshold"),
              s"reduce: only `with threshold = t` is supported, got: '$w'")
            val eq = wt.indexOf('=')
            require(eq > 0, s"reduce: expected `threshold = <value>`, got: '$w'")
            (e.trim, wt.substring(eq + 1).trim.toDouble)
          case (e, None) => (e.trim, 0.0)
        }
        val sCol  = expr(tx(exprPart)).cast("string")
        val total = df.agg(count(lit(1)).cast("double").as("__graft_total"))
        val groups = df
          .select(sCol.as("__graft_s"))
          .groupBy(regexp_replace(col("__graft_s"), "[0-9]+", "*").as("Pattern"))
          .agg(count(lit(1)).as("Count"), min(col("__graft_s")).as("Representative"))
        (if (threshold <= 0) groups
         else groups.crossJoin(broadcast(total))
           .filter(col("Count") >= col("__graft_total") * threshold)
           .drop("__graft_total"))

      // `make-series name = agg(…) [default = d] on t from a to b step s
      //  [by keys]`: dense gap-filled series per group over the NUMERIC axis
      // [a, b) — works directly on events.ts epoch-nanos (timestamp axes:
      // bin to epoch first). Spark-first: binned partial agg → ONE shuffle
      // per group key → the dense grid is a `sequence`/`transform` pair
      // evaluated per output row; gaps fill via try_element_at on a
      // collect_list map, no driver loop and no per-point join.
      case "make-series" =>
        val (aggPart0, onRest) = splitAtTopLevelKeyword(rest, "on") match {
          case (a, Some(r)) => (a, r)
          case _            => fail(s"make-series needs an `on` clause: '$seg'")
        }
        // one or more `name = agg(…) [default = d]` clauses, each with its
        // own default (ADX scopes `default` per aggregation)
        val aggClauses = splitTopLevel(aggPart0, ',').map(_.trim).filter(_.nonEmpty).map { item =>
          val (aggPart, defaultE) = splitAtTopLevelKeyword(item, "default") match {
            case (a, Some(d)) =>
              val dd = d.trim
              require(dd.startsWith("="), s"expected `default = <value>`, got: '$d'")
              (a, expr(tx(dd.drop(1))))
            case (a, None) => (a, lit(0L))
          }
          val (name, aggSpec) = assignment(aggPart.trim).getOrElse(
            fail(s"make-series needs `name = agg(...)`, got: '$aggPart'"))
          (name, aggSpec, defaultE)
        }
        require(aggClauses.nonEmpty, s"make-series needs at least one aggregation: '$seg'")
        // auto-range (ADX: from/to omitted → deduced from the data): one
        // bounded 1-row min/max aggregate fixes the axis — from = bin(min,
        // step), to = bin(max, step) + step — then the explicit-range path
        // runs unchanged. Numeric/epoch-nanos axes only (this engine's
        // time currency).
        val onRestEff = splitAtTopLevelKeyword(onRest, "from") match {
          case (_, Some(_)) => onRest
          case _ =>
            val (tPart, stepRest0) = splitAtTopLevelKeyword(onRest, "step") match {
              case (a, Some(r)) => (a.trim, r)
              case _            => fail("make-series needs `step <size>`")
            }
            val (stepE0, byTail) = splitAtTopLevelKeyword(stepRest0, "by") match {
              case (a, Some(k)) => (a.trim, s" by $k")
              case (a, None)    => (a.trim, "")
            }
            val stepV = constLong(stepE0)
            require(stepV > 0, s"make-series step must be positive, got: '$stepE0'")
            val mm = df.agg(
              min(expr(tx(tPart)).cast("long")), max(expr(tx(tPart)).cast("long"))).head
            require(!mm.isNullAt(0),
              "make-series auto-range needs at least one non-null axis value")
            val startL = Math.floorDiv(mm.getLong(0), stepV) * stepV
            val stopL  = Math.floorDiv(mm.getLong(1), stepV) * stepV + stepV
            s"$tPart from $startL to $stopL step $stepE0$byTail"
        }
        val (timeCol0, fromRest) = splitAtTopLevelKeyword(onRestEff, "from") match {
          case (t0, Some(r)) => (t0.trim, r)
          case _             => fail("make-series needs `from <start>`")
        }
        val (startE, toRest) = splitAtTopLevelKeyword(fromRest, "to") match {
          case (a, Some(r)) => (a.trim, r)
          case _            => fail("make-series needs `to <stop>`")
        }
        val (stopE, stepRest) = splitAtTopLevelKeyword(toRest, "step") match {
          case (a, Some(r)) => (a.trim, r)
          case _            => fail("make-series needs `step <size>`")
        }
        val (stepE, keyNames) = splitAtTopLevelKeyword(stepRest, "by") match {
          case (a, Some(k)) => (a.trim, splitTopLevel(k, ',').map(_.trim).filter(_.nonEmpty))
          case (a, None)    => (a.trim, Seq.empty[String])
        }
        val (start, stop, step) = (expr(tx(startE)), expr(tx(stopE)), expr(tx(stepE)))
        val t       = col(timeCol0)
        val binCol  = floor((t - start) / step) * step + start
        val aggCols = aggClauses.map { case (name, aggSpec, _) => aggItem(s"$name = $aggSpec") }
        val keys    = keyNames.map(col)
        val binned  = df.filter(t >= start && t < stop)
          .withColumn("__graft_bin", binCol)
          .groupBy(keys :+ col("__graft_bin"): _*).agg(aggCols.head, aggCols.tail: _*)
        val axis = filter(sequence(start, stop, step), x => x < stop)
        // one bin→value map per aggregation, all built in the SAME groupBy
        // (still exactly one shuffle on the group keys)
        val mapAggs = aggClauses.map { case (name, _, _) =>
          map_from_entries(
            collect_list(struct(col("__graft_bin"), col(name)))).as(s"__graft_m_$name")
        }
        binned
          .groupBy(keys: _*)
          .agg(mapAggs.head, mapAggs.tail: _*)
          .select(keys ++ Seq(axis.as(timeCol0)) ++ aggClauses.map {
            case (name, _, defaultE) =>
              transform(axis, x =>
                coalesce(try_element_at(col(s"__graft_m_$name"), x), defaultE)).as(name)
          }: _*)

      // `render chart …`: a CLIENT-side visualization directive — the result
      // rows are unchanged in ADX too, so it is the identity here (trailing
      // `| render timechart` on ported dashboard queries just works)
      case "render" =>
        require(rest.trim.nonEmpty, "render needs a chart kind (e.g. `render timechart`)")
        df

      // `project-reorder c1, c2, …`: listed columns first (in the given
      // order), unlisted columns after in their existing order — column
      // arrangement only, no recomputation
      case "project-reorder" =>
        val listed = splitTopLevel(rest, ',').map(_.trim).filter(_.nonEmpty)
        listed.foreach(c2 => require(df.columns.contains(c2),
          s"project-reorder: unknown column '$c2'"))
        val remaining = df.columns.toSeq.filterNot(listed.contains)
        df.select((listed ++ remaining).map(col): _*)

      // `scan`: the restricted single-instance funnel/session subset — see
      // [[graft.operators.ScanSteps]] for the spelled-out semantics and the
      // scale contract (one key shuffle + streaming per-partition fold).
      case "scan" =>
        import graft.operators.ScanSteps.{ScanOutput, ScanStepDef, ScanUpdate, ScanVarDef}
        val ScanRe =
          """(?is)(?:with_match_id\s*=\s*([A-Za-z_][A-Za-z0-9_]*)\s+)?(?:declare\s*\((.*?)\)\s+)?partition\s+by\s+(.+?)\s+order\s+by\s+([A-Za-z_][A-Za-z0-9_]*)\s*(asc|desc)?\s+with\s*(\(.*\))""".r
        rest.trim match {
          case ScanRe(midName, declS, keysS, ordCol, dir0, parens) =>
            val keys = splitTopLevel(keysS, ',').map(_.trim)
            keys.foreach(k => require(k.matches("[A-Za-z_][A-Za-z0-9_]*"),
              s"scan partition keys must be bare column names, got: '$k'"))
            val asc = dir0 == null || dir0.equalsIgnoreCase("asc")
            // `declare (v = <literal>, …)`: the initial literal fixes the
            // variable's type (integer → long, decimal-point → real,
            // quoted → string — the KQL literal kinds)
            val DeclRe = """(?s)([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)""".r
            val vars = Option(declS).toSeq.flatMap(splitTopLevel(_, ',')).map(_.trim)
              .filter(_.nonEmpty).map {
                case DeclRe(nm, lit0) => lit0.trim match {
                  case l if l.matches("(?i)long\\(\\s*null\\s*\\)") => ScanVarDef(nm, LongType, null)
                  case l if l.matches("(?i)real\\(\\s*null\\s*\\)") => ScanVarDef(nm, DoubleType, null)
                  case l if l.matches("-?\\d+")        => ScanVarDef(nm, LongType, l.toLong)
                  case l if l.matches("-?\\d+\\.\\d+") => ScanVarDef(nm, DoubleType, l.toDouble)
                  case l if l.length >= 2 && (l.head == '\'' || l.head == '"') && l.last == l.head =>
                    ScanVarDef(nm, StringType, l.substring(1, l.length - 1))
                  case l => fail(s"scan declare '$nm': initial value must be a " +
                    s"numeric or string literal, got: '$l'")
                }
                case d => fail(s"scan declare entry must be `name = literal`, got: '$d'")
              }
            val varNames = vars.map(_.name).toSet
            val (inner, tail) = takeGroup(parens, '(', ')')
            require(tail.trim.isEmpty,
              s"unexpected trailing text after scan steps: '$tail'")
            // updates reference the variable through the fixed state algebra:
            // `v = v + e` | `v = max(v, e)` | `v = min(v, e)` |
            // `v = coalesce(v, e)` | `v = e` (e row-only)
            def parseUpdate(v: String, u: String): ScanUpdate = {
              val q = java.util.regex.Pattern.quote(v)
              val add   = s"(?is)^$q\\s*\\+\\s*(.+)$$".r
              val mx    = s"(?is)^max\\(\\s*$q\\s*,\\s*(.+)\\)$$".r
              val mn    = s"(?is)^min\\(\\s*$q\\s*,\\s*(.+)\\)$$".r
              val first = s"(?is)^coalesce\\(\\s*$q\\s*,\\s*(.+)\\)$$".r
              u.trim match {
                case add(e)   => ScanUpdate.Add(expr(tx(e)))
                case mx(e)    => ScanUpdate.MaxOf(expr(tx(e)))
                case mn(e)    => ScanUpdate.MinOf(expr(tx(e)))
                case first(e) => ScanUpdate.FirstOf(expr(tx(e)))
                case e =>
                  require(!s"(?is).*\\b$q\\b.*".r.matches(e),
                    s"scan assignment to '$v' may reference the variable only as " +
                      s"`$v + e`, `max($v, e)`, `min($v, e)` or `coalesce($v, e)`; got: '$e'")
                  ScanUpdate.SetTo(expr(tx(e)))
              }
            }
            val StepRe =
              """(?is)step\s+([A-Za-z_][A-Za-z0-9_]*)\s*(?:output\s*=\s*(all|last|none)\s*)?:\s*(.+)""".r
            val AsgnRe = """(?s)([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)""".r
            def outMode(s2: String): ScanOutput = s2 match {
              case null                              => ScanOutput.All // ADX default
              case o if o.equalsIgnoreCase("all")    => ScanOutput.All
              case o if o.equalsIgnoreCase("last")   => ScanOutput.Last
              case _                                 => ScanOutput.Silent
            }
            val steps = splitTopLevel(inner, ';').map(_.trim).filter(_.nonEmpty).map {
              case StepRe(nm, out0, body) =>
                // `step name [output=all|last|none]: cond [=> v = upd, …]`
                val arrow = body.indexOf("=>")
                if (arrow < 0) ScanStepDef(nm, expr(tx(body)), Nil, outMode(out0))
                else {
                  val cond = body.substring(0, arrow)
                  val ups = splitTopLevel(body.substring(arrow + 2), ',')
                    .map(_.trim).filter(_.nonEmpty).map {
                      case AsgnRe(v, u) =>
                        require(varNames.contains(v),
                          s"scan step '$nm' assigns undeclared variable '$v'")
                        v -> parseUpdate(v, u)
                      case a => fail(s"scan step '$nm': assignment must be `var = expr`, got: '$a'")
                    }
                  ScanStepDef(nm, expr(tx(cond)), ups, outMode(out0))
                }
              case s2 => fail(s"scan step must be `step name [output=all|last|none]: " +
                s"condition [=> assignments]`, got: '$s2'")
            }
            graft.operators.ScanSteps.scanDeclare(
              df, keys, ordCol, asc, vars, steps, Option(midName))
          case _ => fail(
            "scan supports the single-instance-per-step subset: `scan " +
              "[with_match_id = M] [declare (v = lit, …)] partition by <keys> " +
              "order by <col> [asc|desc] with (step s1 [output=all|last|none]: " +
              "cond [=> v = v + e, …]; step s2: cond; …)`; sessionization and " +
              "as-of attribution also exist as dedicated operators")
        }

      case other => fail(s"unsupported KQL operator: '$other'")
    }
  }

  // ---- join ----------------------------------------------------------------

  /** KQL → Spark join kinds. KQL's unstated default is `innerunique` (left
    * side deduplicated on the keys) and bare `| join` matches it here;
    * spell `kind=inner` for the plain non-deduplicating join.
    */
  private val JoinKinds = Map(
    "inner" -> "inner", "innerunique" -> "inner",
    "leftouter" -> "left_outer", "rightouter" -> "right_outer",
    "fullouter" -> "full_outer", "leftsemi" -> "left_semi",
    "leftanti" -> "left_anti", "anti" -> "left_anti",
    // Spark has no right_semi/right_anti — applyJoin swaps the sides and
    // runs the left-flavored join, which is exactly ADX's contract (the
    // result carries RIGHT-side columns only)
    "rightsemi" -> "right_semi", "rightanti" -> "right_anti",
    "rightantisemi" -> "right_anti")

  // (?s): a join/lookup body legitimately spans lines (multi-line
  // sub-pipelines); without DOTALL the full-match case-pattern never fires
  private val ParamRe = """(?s)^(kind|hint\.[a-z_]+)\s*=\s*([A-Za-z0-9_]+)\s*(.*)$""".r

  /** Parse leading `kind=…` / `hint.strategy=…` parameters (any order). */
  private def joinParams(body0: String, default: String = "inner")
      : (String, Option[String], String) = {
    var kind = default
    var hint = Option.empty[String]
    var body = body0
    var more = true
    while (more) body match {
      case ParamRe("kind", v, r) =>
        require(JoinKinds.contains(v), s"unsupported join kind '$v'")
        kind = v; body = r
      case ParamRe("hint.strategy", v, r) =>
        require(v == "broadcast" || v == "shuffle",
          s"unsupported hint.strategy '$v' (broadcast|shuffle)")
        hint = Some(v); body = r
      // other hint.* keys (shufflekey, num_partitions, remote) are Kusto
      // execution directives — accepted and dropped, like summarize hints
      case ParamRe(k, _, r) if k.startsWith("hint.") =>
        body = r
      case _ => more = false
    }
    (kind, hint, body)
  }

  private def applyJoin(left: DataFrame, right: DataFrame, kqlKind: String,
      onClause: String): DataFrame = {
    val sparkKind = JoinKinds(kqlKind)
    if (sparkKind == "right_semi" || sparkKind == "right_anti") {
      // swap sides; the on-clause's $left/$right still name the ORIGINAL
      // sides, so rewrite the clause with the roles exchanged
      val swapped = splitTopLevel(onClause, ',').map(_.trim).filter(_.nonEmpty).map { t =>
        if (!t.contains("==")) t
        else {
          val sides = t.split("==").map(_.trim)
          require(sides.length == 2 && sides(0).startsWith("$left.") &&
            sides(1).startsWith("$right."),
            "expected `$left.a == $right.b`, got: '" + t + "'")
          "$left." + sides(1).stripPrefix("$right.") +
            " == $right." + sides(0).stripPrefix("$left.")
        }
      }.mkString(", ")
      return applyJoin(right, left,
        if (sparkKind == "right_semi") "leftsemi" else "leftanti", swapped)
    }
    val terms   = splitTopLevel(onClause, ',').map(_.trim).filter(_.nonEmpty)
    require(terms.nonEmpty, "join needs an `on` clause")
    val usingCols = terms.filter(t => !t.contains("=="))
    // $left.a == $right.b pairs, parsed up front so innerunique can see the
    // left key names in EITHER on-clause form
    val exprPairs = terms.filter(_.contains("==")).map { t =>
      val sides = t.split("==").map(_.trim)
      require(sides.length == 2 && sides(0).startsWith("$left.") &&
        sides(1).startsWith("$right."),
        "expected `$left.a == $right.b`, got: '" + t + "'")
      (sides(0).stripPrefix("$left."), sides(1).stripPrefix("$right."))
    }
    // innerunique: KQL dedups the LEFT side on the join keys, with the
    // surviving row unspecified — dropDuplicates matches that contract
    // (don't use innerunique where the surviving row's other columns matter)
    val leftDeduped =
      if (kqlKind == "innerunique")
        left.dropDuplicates(usingCols ++ exprPairs.map(_._1))
      else left
    if (exprPairs.isEmpty) leftDeduped.join(right, usingCols.toSeq, sparkKind)
    else {
      require(usingCols.isEmpty,
        "join mixes bare key names and $left/$right equalities — use one form")
      val cond = exprPairs.map { case (l, r) =>
        leftDeduped(l) === right(r)
      }.reduce(_ && _)
      leftDeduped.join(right, cond, sparkKind)
    }
  }

  /** Split a join body at the top-level ` on ` keyword. */
  private def splitAtTopLevelOn(s: String): (String, String) =
    splitAtTopLevelKeyword(s, "on") match {
      case (before, Some(after)) => (before.trim, after.trim)
      case _                     => fail(s"join/lookup needs an `on` clause: '$s'")
    }

  /** Tokenize a `parse … with` pattern into literals (Left) and capture
    * names (Right).
    */
  private def parsePattern(s: String): Seq[Either[String, String]] = {
    val out = Seq.newBuilder[Either[String, String]]
    var i   = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '"') {
        val end = s.indexOf(c, i + 1)
        require(end > 0, s"unterminated literal in parse pattern: '$s'")
        out += Left(s.substring(i + 1, end))
        i = end + 1
      } else {
        val end = {
          var j = i
          while (j < s.length && !s.charAt(j).isWhitespace &&
            s.charAt(j) != '\'' && s.charAt(j) != '"') j += 1
          j
        }
        out += Right(s.substring(i, end))
        i = end
      }
    }
    out.result()
  }

  // ---- parse / parse-where -------------------------------------------------

  private def applyParse(df: DataFrame, rest: String, seg: String,
      filterMatches: Boolean): DataFrame = {
    var body = rest.trim
    // `parse [kind=simple|regex] Col with …` — under kind=regex the quoted
    // pattern chunks are RAW regular expressions instead of quoted literals
    // (the ADX contract); captures are unchanged
    val KindRe = """(?is)^kind\s*=\s*([A-Za-z]+)\s+(.*)$""".r
    val kind = body match {
      case KindRe(k, t) =>
        require(k.equalsIgnoreCase("simple") || k.equalsIgnoreCase("regex"),
          s"parse kind must be simple|regex, got '$k'")
        body = t.trim; k.toLowerCase
      case _ => "simple"
    }
    val withIdx = body.toLowerCase.indexOf(" with ")
    require(withIdx > 0, s"expected `parse <col> with <pattern>`, got: '$seg'")
    val src   = body.substring(0, withIdx).trim
    val parts = parsePattern(body.substring(withIdx + 6))
    val regex = "^" + parts.map {
      case Left(litText) =>
        if (kind == "regex") litText else java.util.regex.Pattern.quote(litText)
      case Right("*")    => "(?:.*?)" // skip, no capture
      case Right(_)      => "(.*?)"
    }.mkString + "$" // last capture extends to end of value
    // captures may be typed (`name:long`): extract as string, then the ADX
    // null-on-failure cast (lazy capture + surrounding anchors still bound
    // the text; the type does not narrow the match itself — documented)
    val caps = parts.collect { case Right(t) if t != "*" => t }.map { t =>
      t.split(":", 2) match {
        case Array(n, tpe) => (n.trim, Some(tpe.trim.toLowerCase))
        case Array(n)      => (n.trim, None)
      }
    }
    require(caps.map(_._1).distinct.size == caps.size,
      "parse capture names must be unique")
    val base = if (filterMatches) df.filter(col(src).rlike(regex)) else df
    caps.zipWithIndex.foldLeft(base) { case (d, ((n, tpe), i)) =>
      val raw = regexp_extract(col(src), regex, i + 1)
      d.withColumn(n, tpe match {
        case Some(t) => raw.try_cast(KqlTypes.getOrElse(t,
          fail(s"parse: unsupported capture type '$t' for '$n'")))
        case None    => raw
      })
    }
  }

  // ---- row_number ----------------------------------------------------------

  private val ColumnIfExistsOps = Set(
    "where", "filter", "extend", "project", "project-away", "project-keep",
    "summarize", "order", "sort", "top")

  private val RowNumberRe = """(?i)row_number\s*\(\s*(\d+)?\s*\)""".r

  // `(s1, s2[, …]) = array_sort_asc|desc(a, b[, …])` in extend
  private val TupleSortRe =
    """(?is)^\(\s*([A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)+)\s*\)\s*=\s*array_sort_(asc|desc)\s*\((.*)\)\s*$""".r

  // row_number(start, restart): segment-restarting index — explicit start
  // per the ADX signature; the restart term is any boolean expression
  private val RowNumberRestartRe =
    """(?i)row_number\s*\(\s*(\d+)\s*,\s*(.+)\)""".r

  private val ArgStarRe =
    """(?i)(arg_max|arg_min)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*\*\s*\)""".r

  // serialized-order row functions lowered to ScanOps (argument may be any
  // scalar expression; no nested parens beyond one level of calls)
  private val RowScanRe = """(?i)(row_cumsum|row_rank_dense|row_rank_min|row_window_session|prev|next)\s*\((.*)\)""".r

  /** ADX phrase semantics for a needle CONTAINING non-alphanumerics: its
    * alphanumeric terms must appear as ADJACENT terms in the haystack
    * ('a-b' matches "x a-b y" and "x a b y", not "x a c b y"). ONE
    * boundary-anchored case-insensitive regex (codegen'd RLIKE,
    * separator-agnostic between terms — ADX term indexing drops the
    * separators too). None when the needle has no alphanumeric terms.
    */
  private def phraseRegex(needle: String): Option[String] = {
    val terms = needle.split("[^0-9A-Za-z]+").filter(_.nonEmpty)
    if (terms.length >= 1)
      Some("(?i)(^|[^0-9A-Za-z])" + terms.mkString("[^0-9A-Za-z]+") +
        "([^0-9A-Za-z]|$)")
    else None
  }

  // case-sensitive phrase regex for has_cs (identical shape, no (?i))
  private def phraseRegexCs(needle: String): Option[String] =
    phraseRegex(needle).map(_.stripPrefix("(?i)"))

  /** Global row index in the frame's CURRENT order (spell an `order by`
    * first) — zipWithIndex over the range-partitioned sort; see
    * [[graft.util.ZipIndex]] for why this beats a 1-partition window.
    */
  private def rowNumber(df: DataFrame, name: String, start: Long): DataFrame =
    graft.util.ZipIndex.withRowIndex(df, name, start)

  // ---- top-nested ----------------------------------------------------------

  private final case class TopNestedLevel(
      n: Int, key: String, aggName: String, agg: Column, others: Option[String] = None)

  private def parseTopNestedLevel(s: String): TopNestedLevel = {
    val (nPart, afterOf) = splitAtTopLevelKeyword(s, "of") match {
      case (a, Some(b)) => (a.trim, b)
      case _            => fail(s"top-nested needs `N of key by agg`, got: '$s'")
    }
    val (keyPart, aggPart) = splitAtTopLevelKeyword(afterOf, "by") match {
      case (a, Some(b)) => (a.trim, b.trim)
      case _            => fail(s"top-nested needs a `by` aggregate, got: '$s'")
    }
    // `of key with others = <label>`: the ADX remainder bucket
    val WithOthersRe = """(?is)([A-Za-z_][A-Za-z0-9_]*)\s+with\s+others\s*=\s*(.+)""".r
    val (key, others) = keyPart match {
      case WithOthersRe(k, lbl) => (k, Some(lbl.trim))
      case k                    => (k, None)
    }
    require(key.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"top-nested key must be a column name, got: '$keyPart'")
    val (aggCol, aggName) = aggItemNamed(aggPart)
    TopNestedLevel(nPart.toInt, key, aggName, aggCol, others)
  }

  /** `with others = <label>` is supported on the FINAL level: one extra row
    * (per parent group, for the nested form) whose key is the label and
    * whose aggregate is computed over the RAW remainder rows — never a
    * re-aggregation of aggregates, so avg/count stay exact. The key column
    * is cast to string when others is present (the label shares the
    * column, as in ADX output). An others bucket has no sub-breakdown.
    */
  private def applyTopNested(df: DataFrame, levels: Seq[TopNestedLevel]): DataFrame = {
    require(levels.nonEmpty && levels.size <= 2,
      s"top-nested supports 1 or 2 levels, got ${levels.size}")
    require(levels.size == 1 || levels.head.others.isEmpty,
      "top-nested `with others` is supported on the final level only " +
        "(an others bucket has no sub-breakdown)")
    val l1 = levels.head
    // level 1: aggregate, then top-k via global sort-limit (TakeOrdered — a
    // bounded structure, never an unpartitioned window)
    val top1 = df.groupBy(col(l1.key)).agg(l1.agg)
      .orderBy(col(l1.aggName).desc, col(l1.key).asc)
      .limit(l1.n)
    if (levels.size == 1) l1.others match {
      case None => top1
      case Some(lbl) =>
        // remainder bucket from RAW rows outside the kept keys (broadcast
        // anti-join on ≤N keys, then one global aggregate)
        val rest = df.join(broadcast(top1.select(col(l1.key))), Seq(l1.key), "left_anti")
          .agg(l1.agg)
          .select(expr(tx(lbl)).cast("string").as(l1.key), col(l1.aggName))
        top1.withColumn(l1.key, col(l1.key).cast("string")).unionByName(rest)
    } else {
      val l2   = levels(1)
      val kept = broadcast(top1)
      // level 2 sees only rows under the kept level-1 keys (broadcast
      // semi-join, ≤N keys), aggregates per (k1, k2), and ranks with a
      // window PARTITIONED by k1 — bounded state per partition
      val underKept = df.join(kept.select(col(l1.key)), Seq(l1.key), "left_semi")
      val agg2 = underKept
        .groupBy(col(l1.key), col(l2.key)).agg(l2.agg)
      val w = Window.partitionBy(col(l1.key))
        .orderBy(col(l2.aggName).desc, col(l2.key).asc)
      val kept2 = agg2.withColumn("__graft_rank", row_number().over(w))
        .filter(col("__graft_rank") <= l2.n).drop("__graft_rank")
      val main = kept2
        .join(kept, Seq(l1.key)) // attach the level-1 aggregate value
        .select(col(l1.key), col(l1.aggName), col(l2.key), col(l2.aggName))
      l2.others match {
        case None => main
        case Some(lbl) =>
          // per parent: aggregate the raw rows whose (k1, k2) pair was not
          // kept — the pair set is ≤ N1×N2 rows, broadcast
          val rest = underKept
            .join(broadcast(kept2.select(col(l1.key), col(l2.key))),
              Seq(l1.key, l2.key), "left_anti")
            .groupBy(col(l1.key)).agg(l2.agg)
            .join(kept, Seq(l1.key))
            .select(col(l1.key), col(l1.aggName),
              expr(tx(lbl)).cast("string").as(l2.key), col(l2.aggName))
          main.withColumn(l2.key, col(l2.key).cast("string")).unionByName(rest)
      }
    }
  }

  // ---- aggregates ----------------------------------------------------------

  /** Expand one summarize item: one column normally; `percentiles(x, p1, p2,
    * …)` expands to one EXACT percentile column per p (KQL's percentiles is
    * T-digest approximate — same documented divergence as `percentile`).
    */
  private def aggItems(item: String): Seq[Column] = {
    val (nameOpt, call) = assignment(item) match {
      case Some((n, e)) => (Some(n), e.trim)
      case None         => (None, item.trim)
    }
    val open = call.indexOf('(')
    val fn   = if (open > 0) call.substring(0, open).trim.toLowerCase else ""
    if (fn == "percentiles" && call.endsWith(")")) {
      val args = splitTopLevel(call.substring(open + 1, call.length - 1), ',').map(_.trim)
      require(args.size >= 2, "percentiles needs (expr, p1[, p2, …])")
      val x    = args.head
      val slug = x.replaceAll("[^A-Za-z0-9_]", "_")
      args.tail.map { p =>
        val base = nameOpt.getOrElse(s"percentile_$slug")
        val nm   = if (args.size == 2 && nameOpt.isDefined) base
                   else s"${base}_${p.replaceAll("[^A-Za-z0-9_]", "_")}"
        expr(s"percentile(${tx(x)}, ${p.trim.toDouble / 100.0})").as(nm)
      }
    } else if (fn == "percentiles_array" && call.endsWith(")")) {
      // the one-array variant: percentile() takes an ARRAY of fractions and
      // returns the matching array — still one pass over the group
      val args = splitTopLevel(call.substring(open + 1, call.length - 1), ',').map(_.trim)
      require(args.size >= 2, "percentiles_array needs (expr, p1[, p2, …])")
      val ps = args.tail.map(_.toDouble / 100.0).mkString(", ")
      val nm = nameOpt.getOrElse(
        s"percentiles_${args.head.replaceAll("[^A-Za-z0-9_]", "_")}")
      Seq(expr(s"percentile(${tx(args.head)}, array($ps))").as(nm))
    } else Seq(aggItem(item))
  }

  private def aggItem(item: String): Column = aggItemNamed(item)._1

  private def aggItemNamed(item: String): (Column, String) = {
    val (nameOpt, call) = assignment(item) match {
      case Some((n, e)) => (Some(n), e.trim)
      case None         => (None, item.trim)
    }
    val open = call.indexOf('(')
    require(open > 0 && call.endsWith(")"), s"bad aggregate call: '$item'")
    val fn   = call.substring(0, open).trim.toLowerCase
    val args = splitTopLevel(call.substring(open + 1, call.length - 1), ',')
      .map(_.trim).filter(_.nonEmpty)
    def a(i: Int): Column = expr(tx(args(i)))
    def slug(s: String): String = s.replaceAll("[^A-Za-z0-9_]", "_")
    val (c, defName) = fn match {
      case "count" if args.isEmpty => (count(lit(1)), "count_")
      case "countif"               => (count(when(a(0), lit(1))), "countif_")
      // *if family: the predicate masks rows to NULL, which every Spark agg
      // ignores — one pass, no self-join
      case "sumif"                 => (sum(when(a(1), a(0))), s"sumif_${slug(args(0))}")
      case "avgif"                 => (avg(when(a(1), a(0))), s"avgif_${slug(args(0))}")
      case "minif"                 => (min(when(a(1), a(0))), s"minif_${slug(args(0))}")
      case "maxif"                 => (max(when(a(1), a(0))), s"maxif_${slug(args(0))}")
      case "dcountif"              => (countDistinct(when(a(1), a(0))), s"dcountif_${slug(args(0))}")
      case "stdev"                 => (stddev_samp(a(0)), s"stdev_${slug(args(0))}")
      case "variance"              => (var_samp(a(0)), s"variance_${slug(args(0))}")
      case "stdevp"                => (stddev_pop(a(0)), s"stdevp_${slug(args(0))}")
      case "variancep"             => (var_pop(a(0)), s"variancep_${slug(args(0))}")
      case "stdevif"               => (stddev_samp(when(a(1), a(0))), s"stdevif_${slug(args(0))}")
      case "varianceif"            => (var_samp(when(a(1), a(0))), s"varianceif_${slug(args(0))}")
      case "variancepif"           => (var_pop(when(a(1), a(0))), s"variancepif_${slug(args(0))}")
      // two-column second moments: the *if forms mask BOTH operands with
      // the predicate, so a masked row contributes to neither sum (covar
      // skips a pair when either side is NULL — one pass, no self-join)
      case "covariance"            => (covar_samp(a(0), a(1)), s"covariance_${slug(args(0))}")
      case "covariancep"           => (covar_pop(a(0), a(1)), s"covariancep_${slug(args(0))}")
      case "covarianceif" =>
        (covar_samp(when(a(2), a(0)), when(a(2), a(1))), s"covarianceif_${slug(args(0))}")
      case "covariancepif" =>
        (covar_pop(when(a(2), a(0)), when(a(2), a(1))), s"covariancepif_${slug(args(0))}")
      // make_bag: fold the group's bags through the native bag_merge —
      // collect_list is sorted first so the earlier-wins key conflict is
      // deterministic under any partitioning (ADX leaves it arbitrary)
      case "make_bag" =>
        (expr(s"aggregate(sort_array(collect_list(${tx(args(0))})), '{}', " +
           "(acc, v) -> bag_merge(acc, v))"), s"bag_${slug(args(0))}")
      case "make_bag_if" =>
        (expr(s"aggregate(sort_array(collect_list(CASE WHEN ${tx(args(1))} " +
           s"THEN ${tx(args(0))} END)), '{}', " +
           "(acc, v) -> bag_merge(acc, v))"), s"bag_${slug(args(0))}")
      // KQL percentile() is an approximation (T-digest); we compute the
      // EXACT percentile (documented divergence, same spirit as dcount) with
      // KQL's nearest-rank-style argument: percentile(x, 95)
      case "percentile" =>
        (expr(s"percentile(${tx(args(0))}, ${args(1).trim.toDouble / 100.0})"),
          s"percentile_${slug(args(0))}_${slug(args(1))}")
      // exact distinct (KQL dcount is an HLL estimate; we refuse to be wrong)
      case "dcount"                => (countDistinct(a(0)), s"dcount_${slug(args(0))}")
      // ADX's exact-by-contract spellings (dcount is HLL there; these two
      // are documented as exact — which our dcount already is)
      case "count_distinct"        => (countDistinct(a(0)), s"dcount_${slug(args(0))}")
      case "count_distinctif"      => (countDistinct(when(a(1), a(0))),
                                        s"dcount_${slug(args(0))}")
      // collect_list drops nulls; the struct wrap keeps them (a struct
      // holding a null field is itself non-null)
      case "make_list_with_nulls" =>
        (expr(s"transform(collect_list(struct(${tx(args(0))} AS v)), p -> p.v)"),
          s"list_${slug(args(0))}")
      // the KQL-faithful estimator, for users who WANT the sketch: HLL++ at
      // rsd 0.05 (mergeable, constant memory — the 100 TB dcount)
      case "dcount_hll"            => (approx_count_distinct(a(0), 0.05),
                                        s"dcount_hll_${slug(args(0))}")
      // hll()/hll_merge(): REAL sketch columns (DataSketches HLL binary) —
      // the two-level shape ADX uses for pre-aggregated dashboards: hll()
      // per fine group, hll_merge() when rolling up, dcount_hll(sketch)/
      // dcount_intersect(…) as scalars to read them (KqlCompat). Insert-
      // order independent, so results are deterministic under any
      // partitioning — mergeability IS the 100 TB contract.
      case "hll"                   => (hll_sketch_agg(a(0)), s"hll_${slug(args(0))}")
      // hll_if: the predicate masks rows to NULL, which the sketch agg
      // ignores — the standard *if shape over the same mergeable sketch
      case "hll_if"                => (hll_sketch_agg(when(a(1), a(0))),
                                        s"hll_if_${slug(args(0))}")
      case "hll_merge"             => (hll_union_agg(a(0)), s"hll_merge_${slug(args(0))}")
      // tdigest()/tdigest_merge(): the percentile twin of the HLL pair —
      // REAL mergeable t-digest sketch columns (DataSketches, k=200; ADX's
      // percentile estimator), read back via percentile_tdigest(sketch, p)
      // freq()/freq_merge(): frequent-items (heavy-hitter) sketches, the
      // top-k twin of the HLL/t-digest pairs; read via freq_topk(sketch, k)
      // theta()/theta_merge(): distinct-count SET-ALGEBRA sketches —
      // intersect/diff compose as first-class ops (HLL I-E does not)
      case "theta" =>
        (expr(s"theta(CAST(${tx(args(0))} AS STRING))"), s"theta_${slug(args(0))}")
      case "theta_merge" =>
        (expr(s"theta_merge(${tx(args(0))})"), s"theta_merge_${slug(args(0))}")
      case "freq" =>
        (expr(s"freq(CAST(${tx(args(0))} AS STRING))"), s"freq_${slug(args(0))}")
      case "freq_merge" =>
        (expr(s"freq_merge(${tx(args(0))})"), s"freq_merge_${slug(args(0))}")
      case "tdigest" =>
        (expr(s"tdigest(CAST(${tx(args(0))} AS DOUBLE))"), s"tdigest_${slug(args(0))}")
      case "tdigest_merge" =>
        (expr(s"tdigest_merge(${tx(args(0))})"), s"tdigest_merge_${slug(args(0))}")
      // sample_bottomk(x, k)/sample_bottomk_merge(): deterministic uniform
      // distinct sample (k smallest md5 hashes) — the sampling member of
      // the mergeable sketch suite; read via bottomk_values(sketch)
      case "sample_bottomk" =>
        (expr(s"sample_bottomk(CAST(${tx(args(0))} AS STRING), ${args(1).trim.toInt})"),
          s"sample_bottomk_${slug(args(0))}")
      case "sample_bottomk_merge" =>
        (expr(s"sample_bottomk_merge(${tx(args(0))})"),
          s"sample_bottomk_merge_${slug(args(0))}")
      case "sum"                   => (sum(a(0)), s"sum_${slug(args(0))}")
      case "avg"                   => (avg(a(0)), s"avg_${slug(args(0))}")
      case "min"                   => (min(a(0)), s"min_${slug(args(0))}")
      case "max"                   => (max(a(0)), s"max_${slug(args(0))}")
      // arg_max(ord, ret): the row-wise maximizer — Spark's max_by(ret, ord)
      case "arg_max"               => (max_by(a(1), a(0)), slug(args(1)))
      case "arg_min"               => (min_by(a(1), a(0)), slug(args(1)))
      case "make_set"              => (array_sort(collect_set(a(0))), s"set_${slug(args(0))}")
      case "make_list"             => (collect_list(a(0)), s"list_${slug(args(0))}")
      // *if collection forms: the predicate masks to NULL, which collect_*
      // skips — same one-pass shape as the scalar *if family
      case "make_set_if"           => (array_sort(collect_set(when(a(1), a(0)))),
                                        s"set_${slug(args(0))}")
      case "make_list_if"          => (collect_list(when(a(1), a(0))), s"list_${slug(args(0))}")
      // take_any: an arbitrary (here: first non-null — deterministic per
      // partition order) exemplar value
      case "take_any" | "any"      => (first(a(0), ignoreNulls = true), slug(args(0)))
      // take_anyif(x, pred): the predicate masks to NULL, which first()
      // skips — same one-pass shape as the other *if aggregates
      case "take_anyif"            => (first(when(a(1), a(0)), ignoreNulls = true),
                                        slug(args(0)))
      // percentilew(x, weight, p): weighted percentile — Spark's percentile
      // takes an exact frequency argument (KQL's is T-digest approximate;
      // same documented divergence as percentile)
      case "percentilew" =>
        (expr(s"percentile(${tx(args(0))}, ${args(2).trim.toDouble / 100.0}, ${tx(args(1))})"),
          s"percentile_${slug(args(0))}_${slug(args(2))}")
      // percentilesw(x, w, p1, p2, …): the weighted multi-percentile — ONE
      // percentile pass returning the array (same exact-vs-tdigest
      // divergence note as percentile/percentilew)
      case "percentilesw" if args.size >= 3 =>
        val ps = args.drop(2).map(_.trim.toDouble / 100.0).mkString("array(", ", ", ")")
        (expr(s"percentile(${tx(args(0))}, $ps, ${tx(args(1))})"),
          s"percentiles_${slug(args(0))}")
      case "binary_all_and"        => (expr(s"bit_and(${tx(args(0))})"),
                                        s"binary_all_and_${slug(args(0))}")
      case "binary_all_or"         => (expr(s"bit_or(${tx(args(0))})"),
                                        s"binary_all_or_${slug(args(0))}")
      case "binary_all_xor"        => (expr(s"bit_xor(${tx(args(0))})"),
                                        s"binary_all_xor_${slug(args(0))}")
      // buildschema: native mergeable schema-induction aggregate
      // (BuildSchema.scala via GraftSessionExtensions)
      case "buildschema"           => (expr(s"buildschema(${tx(args(0))})"),
                                        s"schema_${slug(args(0))}")
      case other                   => fail(s"unsupported aggregate: '$other'")
    }
    val name = nameOpt.getOrElse(defName)
    (c.as(name), name)
  }

  // ---- ordering ------------------------------------------------------------

  /** KQL `order by` / `top … by` default to DESCENDING (ADX semantics);
    * `nulls first|last` suffixes supported as in ADX.
    */
  private def orderItems(s: String): Seq[Column] =
    splitTopLevel(s, ',').map(_.trim).map { item0 =>
      var item = item0
      val l0 = item.toLowerCase
      val nulls =
        if (l0.endsWith(" nulls first")) { item = item.dropRight(12).trim; Some("first") }
        else if (l0.endsWith(" nulls last")) { item = item.dropRight(11).trim; Some("last") }
        else None
      val l = item.toLowerCase
      val (e, asc) =
        if (l.endsWith(" asc")) (item.dropRight(4), true)
        else if (l.endsWith(" desc")) (item.dropRight(5), false)
        else (item, false)
      val c = expr(tx(e))
      (asc, nulls) match {
        case (true, Some("first"))  => c.asc_nulls_first
        case (true, Some("last"))   => c.asc_nulls_last
        case (true, None)           => c.asc
        case (false, Some("first")) => c.desc_nulls_first
        case (false, Some("last"))  => c.desc_nulls_last
        case (false, None)          => c.desc
      }
    }

  // ---- scalar translation --------------------------------------------------

  /** KQL scalar text → Spark SQL: infix string predicates first, then the
    * shared [[KqlCompat.rewrite]] (casts, datetime/ago/bin/startof*, name
    * swaps). Both passes are no-ops on Spark-SQL-native input.
    */
  private def tx(kql: String): String = KqlCompat.rewrite(infixOps(bracketIndex(kql)))

  // `arr[0]` / `split(x, ' ')[1]`: ADX 0-based dynamic indexing →
  // try_element_at (1-based, null out of bounds — ADX yields null too,
  // where ANSI element_at would error)
  private val IndexRe =
    ("""([A-Za-z_][A-Za-z0-9_]*\((?:[^()']|'[^']*')*\)|[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*)""" +
      """\[(\d+)\]""").r
  private def bracketIndex(s: String): String =
    IndexRe.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement(
      if (insideLiteral(s, m.start)) m.matched
      else s"try_element_at(${m.group(1)}, ${m.group(2).toInt + 1})"))

  // LHS: identifier or simple call; RHS: quoted literal, identifier, or a
  // parenthesized group (scalar-let substitution emits `(value)`).
  // identifier operands may be dot-qualified (`x.node_id startswith 'c'`
  // inside graph-match / join aliases) — each dotted part must start with a
  // letter, so decimal literals never match the qualifier extension
  private val InfixOperand =
    """[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*(?:\((?:[^()']|'[^']*')*\))?|'(?:[^']|'')*'|\((?:[^()']|'[^']*')*\)"""
  private val InfixRe =
    (s"""($InfixOperand)\\s+(!?)(hasprefix_cs|hassuffix_cs|hasprefix|hassuffix|has_cs|has|""" +
      s"""contains_cs|contains|startswith_cs|startswith|endswith_cs|endswith)\\s+($InfixOperand)""").r
  private val CiEqRe = s"""($InfixOperand)\\s*(=~|!~)\\s*($InfixOperand)""".r
  private val MatchesRe = s"""($InfixOperand)\\s+matches\\s+regex\\s+($InfixOperand)""".r
  // list-typed predicates: `x in~ (…)`, `x !in (…)`, `x between (a .. b)`,
  // `x has_any (…)`, `x has_all (…)`; the body allows one paren-nesting level
  private val ListOpRe =
    s"""($InfixOperand)\\s+(!?)(in~|in|has_any|has_all|between)\\s*\\(([^()]*(?:\\([^()]*\\)[^()]*)*)\\)""".r

  private def termArray(l: String): String = s"split(lower($l), '[^0-9a-z]+')"
  // case-sensitive term split (the *_cs family): same boundaries, no fold
  private def termArrayCs(l: String): String = s"split($l, '[^0-9A-Za-z]+')"

  // A match starting INSIDE a string literal is left untouched; a match
  // starting outside may legitimately span into one (`col has 'term'` — the
  // RHS literal is one operand). Scans both quote kinds, matching the
  // lexer's view in splitTopLevel/stripComments (single OR double quotes
  // open a literal; the same char closes it).
  private def insideLiteral(s: String, pos: Int): Boolean = {
    var q = ' '
    var i = 0
    while (i < pos) {
      val c = s.charAt(i)
      if (q != ' ') { if (c == q) q = ' ' }
      else if (c == '\'' || c == '"') q = c
      i += 1
    }
    q != ' '
  }

  private def infixOps(s: String): String = {
    val r0 = ListOpRe.replaceAllIn(s, m => java.util.regex.Matcher.quoteReplacement {
      if (insideLiteral(s, m.start)) m.matched
      else {
        val (l, neg, op, body) = (m.group(1), m.group(2), m.group(3), m.group(4))
        def items = splitTopLevel(body, ',').map(_.trim).filter(_.nonEmpty)
        val core = op match {
          case "between" =>
            val bounds = body.split("\\.\\.", 2)
            require(bounds.length == 2, s"between needs `(low .. high)`, got: '($body)'")
            s"(($l) >= (${bounds(0).trim}) AND ($l) <= (${bounds(1).trim}))"
          case "in" =>
            // bare `in` is Spark-native; only the negated spelling rewrites
            if (neg == "!") s"(($l) NOT IN ($body))" else m.matched
          case "in~" =>
            s"(lower($l) IN (${items.map(i => s"lower($i)").mkString(", ")}))"
          case "has_any" | "has_all" =>
            // each needle follows `has` semantics: single term → term
            // equality; multi-term literal → adjacent-term phrase regex
            val per = items.map { t =>
              val isLit = t.length >= 3 && t.head == '\'' && t.last == '\''
              val phrase =
                if (isLit && !graft.functions.expressions.TermHas
                      .isAsciiAlnum(t.substring(1, t.length - 1)))
                  phraseRegex(t.substring(1, t.length - 1))
                else None
              phrase match {
                case Some(pat) => s"($l RLIKE '$pat')"
                case None      => s"array_contains(${termArray(l)}, lower($t))"
              }
            }
            per.mkString("(", if (op == "has_any") " OR " else " AND ", ")")
        }
        if (neg == "!" && op != "in") s"(NOT $core)" else core
      }
    })
    val r1 = InfixRe.replaceAllIn(r0, m => java.util.regex.Matcher.quoteReplacement {
      if (insideLiteral(r0, m.start)) m.matched
      else {
        val (l, neg, op, rhs) = (m.group(1), m.group(2), m.group(3), m.group(4))
        // an ASCII-alphanumeric literal needle takes the native codegen'd
        // scan (no per-row split/array); anything else keeps the array
        // spelling and its documented never-matches contract
        def literalAlnum(x: String): Option[String] = {
          val t = x.trim
          if (t.length >= 3 && t.head == '\'' && t.last == '\'' &&
              graft.functions.expressions.TermHas.isAsciiAlnum(t.substring(1, t.length - 1)))
            Some(t) else None
        }
        def literalPhrase(x: String): Option[String] = {
          val t = x.trim
          if (t.length >= 3 && t.head == '\'' && t.last == '\'')
            phraseRegex(t.substring(1, t.length - 1))
          else None
        }
        val core = op match {
          // ADX `has` = whole-term match: 'administrators' has 'admin' is
          // FALSE. Split the haystack into alphanumeric terms and require
          // term equality; multi-term literal needles take the phrase regex.
          case "has" => literalAlnum(rhs) match {
            case Some(lit) => s"term_has($l, $lit)"
            case None => literalPhrase(rhs) match {
              case Some(pat) => s"($l RLIKE '$pat')"
              case None      => s"array_contains(${termArray(l)}, lower($rhs))"
            }
          }
          // case-SENSITIVE whole-term match (ADX has_cs): identical term
          // boundaries, no case fold on either side; a multi-term literal
          // needle takes the adjacent-term phrase regex, sans (?i)
          case "has_cs" =>
            val t = rhs.trim
            val multiTermLit = t.length >= 3 && t.head == '\'' && t.last == '\'' &&
              !graft.functions.expressions.TermHas.isAsciiAlnum(t.substring(1, t.length - 1))
            (if (multiTermLit) phraseRegexCs(t.substring(1, t.length - 1)) else None) match {
              case Some(pat) => s"($l RLIKE '$pat')"
              case None      => s"array_contains(${termArrayCs(l)}, $rhs)"
            }
          case "contains"   => s"contains(lower($l), lower($rhs))"
          case "startswith" => s"startswith(lower($l), lower($rhs))"
          case "endswith"   => s"endswith(lower($l), lower($rhs))"
          // _cs variants: the byte-exact spellings (no lower() on either
          // side) — Spark's contains/startswith/endswith are case-sensitive
          case "contains_cs"   => s"contains($l, $rhs)"
          case "startswith_cs" => s"startswith($l, $rhs)"
          case "endswith_cs"   => s"endswith($l, $rhs)"
          // term-PREFIX / term-SUFFIX match (ADX hasprefix/hassuffix):
          // any alphanumeric term starts/ends with the needle
          case "hasprefix"  => s"exists(${termArray(l)}, t -> startswith(t, lower($rhs)))"
          case "hassuffix"  => s"exists(${termArray(l)}, t -> endswith(t, lower($rhs)))"
          case "hasprefix_cs" => s"exists(${termArrayCs(l)}, t -> startswith(t, $rhs))"
          case "hassuffix_cs" => s"exists(${termArrayCs(l)}, t -> endswith(t, $rhs))"
        }
        if (neg == "!") s"(NOT $core)" else core
      }
    })
    val r2 = MatchesRe.replaceAllIn(r1, m => java.util.regex.Matcher.quoteReplacement {
      if (insideLiteral(r1, m.start)) m.matched
      else s"(${m.group(1)} RLIKE ${m.group(2)})"
    })
    CiEqRe.replaceAllIn(r2, m => java.util.regex.Matcher.quoteReplacement {
      if (insideLiteral(r2, m.start)) m.matched
      else {
        val (l, op, rhs) = (m.group(1), m.group(2), m.group(3))
        val core = s"lower($l) = lower($rhs)"
        if (op == "!~") s"(NOT $core)" else core
      }
    })
  }

  // ---- lexing helpers ------------------------------------------------------

  /** `name = expr` when `name` is a bare identifier and `=` is not part of
    * `==`/`!=`/`<=`/`>=`/`=~`.
    */
  private val AssignRe = """(?s)^([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=~])\s*(.+)$""".r
  private def assignment(item: String): Option[(String, String)] = item match {
    case AssignRe(name, e) => Some((name, e))
    case _                 => None
  }

  /** Apply `f` to the spans of `s` OUTSIDE single/double-quoted literals,
    * leaving literal text verbatim. The graph lowerings' textual rewrites
    * (node-variable binding under implicit-node elision, all()/any() hop
    * folds) must never rewrite inside a string literal: `project tag =
    * 'x.node_id'` would otherwise become `'__ge1.src'` under elision while
    * the node-join lowering leaves the literal intact (r17 advice). Quote
    * convention matches [[splitTopLevel]]: a literal ends at the next
    * occurrence of its opening quote, no escapes.
    */
  private def rewriteOutsideLiterals(s: String)(f: String => String): String = {
    val out = new StringBuilder
    val seg = new StringBuilder
    var q   = '\u0000'
    var i   = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (q != '\u0000') { out.append(c); if (c == q) q = '\u0000' }
      else if (c == '\'' || c == '"') {
        out.append(f(seg.toString)); seg.clear(); out.append(c); q = c
      } else seg.append(c)
      i += 1
    }
    out.append(f(seg.toString))
    out.toString
  }

  /** Split `s` at top-level occurrences of `sep` — outside single/double
    * quotes, outside parens/brackets; `||` is atomic when splitting on `|`.
    */
  private[kql] def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out   = Seq.newBuilder[String]
    val cur   = new StringBuilder
    var depth = 0
    var q     = '\u0000' // active quote char, NUL = none
    var i     = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (q != '\u0000') { cur.append(c); if (c == q) q = '\u0000' }
      else c match {
        case '\'' | '"'          => cur.append(c); q = c
        case '(' | '['           => depth += 1; cur.append(c)
        case ')' | ']'           => depth -= 1; cur.append(c)
        case '|' if sep == '|' && i + 1 < s.length && s.charAt(i + 1) == '|' =>
          cur.append("||"); i += 1
        case `sep` if depth == 0 => out += cur.toString; cur.clear()
        case _                   => cur.append(c)
      }
      i += 1
    }
    out += cur.toString
    out.result()
  }

  /** Split a summarize body at the top-level `by` keyword. Returns
    * (aggregates, Some(keys)) or (aggregates, None).
    */
  private def splitAtTopLevelBy(s: String): (String, Option[String]) =
    splitAtTopLevelKeyword(s, "by")

  /** Split `s` at the first top-level, word-bounded, case-insensitive
    * occurrence of keyword `kw` — outside quotes (either kind) and
    * brackets. The one scanner behind `summarize … by`, `join … on` and the
    * make-series clause keywords.
    */
  private def splitAtTopLevelKeyword(s: String, kw: String): (String, Option[String]) = {
    val n     = kw.length
    var depth = 0
    var q     = '\u0000'
    var i     = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (q != '\u0000') { if (c == q) q = '\u0000' }
      else c match {
        case '\'' | '"' => q = c
        case '(' | '['  => depth += 1
        case ')' | ']'  => depth -= 1
        case _ if depth == 0 && s.regionMatches(true, i, kw, 0, n)
            && (i == 0 || s.charAt(i - 1).isWhitespace)
            && (i + n == s.length || s.charAt(i + n).isWhitespace) =>
          return (s.substring(0, i), Some(s.substring(i + n)))
        case _ =>
      }
      i += 1
    }
    (s, None)
  }

  /** Strip `//` line comments outside string literals. */
  private[kql] def stripComments(s: String): String =
    s.linesIterator.map { line =>
      var q   = '\u0000'
      var cut = -1
      var i   = 0
      while (i < line.length && cut < 0) {
        val c = line.charAt(i)
        if (q != '\u0000') { if (c == q) q = '\u0000' }
        else if (c == '\'' || c == '"') q = c
        else if (c == '/' && i + 1 < line.length && line.charAt(i + 1) == '/') cut = i
        i += 1
      }
      if (cut < 0) line else line.substring(0, cut)
    }.mkString("\n")

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"KQL pipeline: $msg")

  // ---- evaluate-plugin argument helpers ------------------------------------

  /** `evaluate name(a, b, …)` → the comma-split argument list, arity-checked. */
  private def pluginArgs(rest: String, name: String, n: Int, maxN: Int = -1): Seq[String] = {
    val (inner, tail) = takeGroup(rest.trim.drop(name.length), '(', ')')
    require(tail.trim.isEmpty, s"unexpected trailing text after $name(…): '$tail'")
    val args = splitTopLevel(inner, ',').map(_.trim).filter(_.nonEmpty)
    val hi = if (maxN < 0) n else maxN
    require(args.length >= n && args.length <= hi,
      s"$name expects ${if (hi == n) s"$n" else s"$n..$hi"} arguments, got ${args.length}: '$inner'")
    args
  }

  /** A `dynamic([a, b, …])` plugin argument → its element texts. */
  private def dynListArg(s: String): Seq[String] = {
    val t = s.trim
    require(t.toLowerCase.startsWith("dynamic"),
      s"expected a dynamic([…]) list argument, got: '$t'")
    val (inner, tail) = takeGroup(t.drop("dynamic".length), '(', ')')
    require(tail.trim.isEmpty, s"unexpected trailing text after dynamic(…): '$tail'")
    val body = inner.trim
    require(body.startsWith("[") && body.endsWith("]"),
      s"expected dynamic([…]), got: '$t'")
    splitTopLevel(body.substring(1, body.length - 1), ',').map(_.trim).filter(_.nonEmpty)
  }

  /** A plugin argument that must be a bare column name. */
  private def identArg(s: String): String = {
    val t = s.trim
    require(t.matches("[A-Za-z_][A-Za-z0-9_]*"), s"expected a column name, got: '$t'")
    t
  }

  /** Constant-fold a scalar KQL expression argument to a Long (plugin
    * window/axis parameters — `86400 * 1000000` is fine; columns are not). */
  private def constLong(s: String): Long = {
    val ex = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(tx(s))
    require(ex.foldable, s"expected a constant scalar argument, got: '$s'")
    ex.eval(org.apache.spark.sql.catalyst.InternalRow.empty) match {
      case n: java.lang.Number => n.longValue()
      case d: java.math.BigDecimal => d.longValueExact()
      case d: org.apache.spark.sql.types.Decimal => d.toLong
      case other => fail(s"constant argument '$s' is not numeric: $other")
    }
  }

  private def constDouble(s: String): Double = {
    val ex = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(tx(s))
    require(ex.foldable, s"expected a constant scalar argument, got: '$s'")
    ex.eval(org.apache.spark.sql.catalyst.InternalRow.empty) match {
      case n: java.lang.Number => n.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => fail(s"constant argument '$s' is not numeric: $other")
    }
  }
}
