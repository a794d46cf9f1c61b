package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftManifestScan

import graft.functions.{DedupFunctions, KqlCompat, Multimodal, SimilarityFunctions, TextFunctions}
import graft.functions.expressions.BloomContains

/** The driver-facing query surface: one entry per operator family of
  * SURVEY §2 (expressed over the /root/testdata tables) plus the
  * training-data-pipeline extensions (dedup / similarity / text analysis).
  *
  * Every SQL-expressible query has a DuckDB oracle twin with IDENTICAL
  * column names and aligned result types. Conventions that keep the
  * hash-compare stable across engines:
  *   - money/quantity sums go through DECIMAL (exact, order-independent)
  *     and surface as DOUBLE;
  *   - per-row double arithmetic is written with the same operation order on
  *     both sides (bit-identical results), then `round(..., 6)`;
  *   - no raw TIMESTAMP output columns (ns-vs-us pitfalls): DATE, STRING or
  *     epoch microseconds instead;
  *   - counts surface as BIGINT on both sides (Spark `size`/`length` are
  *     INT — always cast);
  *   - every top-k has a total deterministic order (score, then id).
  */
object Surface {

  final case class QueryDef(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      headline: Boolean = false)

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = s.read.schema(GraftManifestScan.footerSchema(s, path)).parquet(path)
    // events.ts must be epoch-nanos LONG whatever the on-disk encoding
    if (name == "events") graft.util.EventTicks.toNanos(df) else df
  }

  /** Run a KQL tabular pipeline with the testdata tables as its catalog. */
  private def kqlRun(s: SparkSession, dir: String, kql: String): DataFrame =
    graft.kql.KqlPipeline.run(name => t(s, dir, name), kql)

  private def decSum(c: Column, as: String, scale: Int = 2): Column =
    sum(c.cast(s"decimal(28,$scale)")).cast("double").as(as)

  /** Deterministic bucket hash `((id % m) * mult) % m` — reproducible across
    * engines/partitionings and OVERFLOW-FREE at any id scale (reduce mod m
    * BEFORE multiplying: ((a mod m)(b mod m)) mod m ≡ (ab) mod m, and
    * m*mult stays far below 2^63). State the identical arithmetic in the
    * DuckDB twin. Non-negative ids assumed (Spark and DuckDB `%` sign
    * conventions agree only there).
    */
  private def bucketHash(id: Column, m: Long, mult: Long): Column =
    ((id % m) * mult) % m

  // curate_contamination's serialized benchmark-gram bloom, keyed by dataset
  // dir (deterministic: seeds and data fixed per dir)
  private val contaminationBloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  /** Exact char-10-gram Jaccard pairs over a doc frame — shared by the
    * pair query (dedup_ngram_jaccard) and the cluster query (dedup_clusters)
    * so the two can never disagree on the edge definition; the algorithm
    * itself lives in [[DedupFunctions.exactJaccardPairsChar]] (one core for
    * every gram kind). Callers bound the input.
    */
  private def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    DedupFunctions.exactJaccardPairsChar(docs, "doc_id", "text", k = 10, threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("jaccard"))

  // revenue term: money columns are exact 2-decimal values, so the whole
  // product is computed in DECIMAL (exact, no double-tie-rounding divergence
  // between engines), surfaced as DOUBLE
  private val RevenueTermSql =
    "cast(l_extendedprice as decimal(18,2)) * (cast(1.0 as decimal(4,2)) - cast(l_discount as decimal(4,2)))"
  private val RevenueTermDk =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"

  private def revenue(as: String): Column =
    expr(s"sum($RevenueTermSql)").cast("double").as(as)

  val registry: Map[String, QueryDef] = Map(

    "q_kql_agg_tail" -> QueryDef(
      // population/conditional second moments: stdevp/variancep and the
      // masked *if forms — one pass, NULL-masked predicates (no self-join)
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | where l_orderkey <= 2000
          | | summarize spx = stdevp(l_quantity), vpx = variancep(l_quantity),
          |     six = stdevif(l_quantity, l_discount > 0.05),
          |     vix = varianceif(l_quantity, l_discount > 0.05)
          |     by rf = l_returnflag
          | | project rf, sp = round(spx, 6), vp = round(vpx, 6),
          |     si = round(six, 6), vi = round(vix, 6)
          | | order by rf asc""".stripMargin),
      Some("""
        SELECT l_returnflag AS rf,
               round(stddev_pop(l_quantity), 6) AS sp,
               round(var_pop(l_quantity), 6) AS vp,
               round(stddev_samp(CASE WHEN l_discount > 0.05 THEN l_quantity END), 6) AS si,
               round(var_samp(CASE WHEN l_discount > 0.05 THEN l_quantity END), 6) AS vi
        FROM lineitem WHERE l_orderkey <= 2000
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_covariance" -> QueryDef(
      // the two-column second-moment family: covariance/covariancep and
      // the masked *if forms (both operands NULL-masked by the predicate,
      // so a masked row contributes to neither sum — one pass, partial
      // aggregation applies). round(.,4) pins are boundary-safe: probed
      // margins >= 9e-6 vs double summation-order noise ~1e-8
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | where l_orderkey <= 2000
          | | summarize csx = covariance(l_quantity, l_extendedprice),
          |     cpx = covariancep(l_quantity, l_extendedprice),
          |     cix = covarianceif(l_quantity, l_extendedprice, l_discount > 0.05),
          |     cpix = covariancepif(l_quantity, l_extendedprice, l_discount > 0.05)
          |     by rf = l_returnflag
          | | project rf, cs = round(csx, 4), cp = round(cpx, 4),
          |     ci = round(cix, 4), cpi = round(cpix, 4)
          | | order by rf asc""".stripMargin),
      Some("""
        SELECT l_returnflag AS rf,
               round(covar_samp(l_quantity, l_extendedprice), 4) AS cs,
               round(covar_pop(l_quantity, l_extendedprice), 4) AS cp,
               round(covar_samp(CASE WHEN l_discount > 0.05 THEN l_quantity END,
                                CASE WHEN l_discount > 0.05 THEN l_extendedprice END), 4) AS ci,
               round(covar_pop(CASE WHEN l_discount > 0.05 THEN l_quantity END,
                               CASE WHEN l_discount > 0.05 THEN l_extendedprice END), 4) AS cpi
        FROM lineitem WHERE l_orderkey <= 2000
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_make_bag" -> QueryDef(
      // property-bag algebra: dynamic-key bag_pack, make_bag/make_bag_if
      // (native bag_merge fold over a sorted collect — deterministic
      // earlier-wins), bag_remove_keys. Oracle rebuilds the same sorted-key
      // JSON text with string_agg; empty filtered groups on both sides
      // collapse to '{}'
      (s, dir) => kqlRun(s, dir,
        """events
          | | where user_id < 60
          | | extend g = toint(user_id % 3)
          | | summarize n = count() by g, et = event_type
          | | extend b = bag_pack(et, n)
          | | summarize bag = make_bag(b), bag_hi = make_bag_if(b, et != 'view') by g
          | | extend pruned = bag_remove_keys(bag, pack_array('click'))
          | | order by g asc""".stripMargin),
      Some("""
        WITH c AS (SELECT CAST(user_id % 3 AS INT) AS g, event_type AS et, count(*) AS n
                   FROM events WHERE user_id < 60 GROUP BY 1, 2)
        SELECT g,
               '{' || coalesce(string_agg('"' || et || '":' || n, ',' ORDER BY et), '') || '}' AS bag,
               '{' || coalesce(string_agg('"' || et || '":' || n, ',' ORDER BY et)
                               FILTER (WHERE et <> 'view'), '') || '}' AS bag_hi,
               '{' || coalesce(string_agg('"' || et || '":' || n, ',' ORDER BY et)
                               FILTER (WHERE et <> 'click'), '') || '}' AS pruned
        FROM c GROUP BY g ORDER BY g""")),

    "q_kql_scalar_tail5" -> QueryDef(
      // scalar tail batch 5: byte-length vs char-length, unicode codepoint
      // round-trips, format_bytes tiers, format_timespan, parse_path
      // anatomy, array_split, bag_has_key, and the native n-ary bag_merge —
      // constants through the real rewrite+eval path; oracle restates
      (s, dir) => kqlRun(s, dir,
        """print sz = string_size('héllo')
          | | project sz,
          |     cps = to_json(unicode_codepoints_from_string('Abc')),
          |     s2 = unicode_codepoints_to_string(pack_array(72, 105)),
          |     fb0 = format_bytes(1024),
          |     fb1 = format_bytes(4783, 1),
          |     fb3 = format_bytes(1073741824, 2, 'MB'),
          |     fbb = format_bytes(500),
          |     ft1 = format_timespan(totimespan('01:02:03'), 'hh:mm:ss'),
          |     ft2 = format_timespan(totimespan('1.02:03:04'), 'd.hh:mm:ss'),
          |     pp = parse_path('/usr/local/lib/file.tar.gz'),
          |     spl = to_json(array_split(dynamic([1, 2, 3, 4, 5]), 2)),
          |     bhk = bag_has_key(bag_pack('a', 1), 'a'),
          |     bhk2 = bag_has_key(bag_pack('a', 1), 'b'),
          |     bm = bag_merge(bag_pack('b', 2, 'a', 1), bag_pack('a', 9, 'c', 3))""".stripMargin),
      Some("""
        SELECT 6 AS sz, '[65,98,99]' AS cps, 'Hi' AS s2,
               '1 KB' AS fb0, '4.7 KB' AS fb1, '1024.00 MB' AS fb3,
               '500 Bytes' AS fbb,
               '01:02:03' AS ft1, '1.02:03:04' AS ft2,
               '{"AlternateDataStreamName":"","DirectoryName":"lib","DirectoryPath":"/usr/local/lib","Extension":"gz","Filename":"file.tar.gz","RootPath":"/","Scheme":""}' AS pp,
               '[[1,2],[3,4,5]]' AS spl,
               TRUE AS bhk, FALSE AS bhk2,
               '{"a":1,"b":2,"c":3}' AS bm""")),

    "q_kql_scalar_tail6" -> QueryDef(
      // scalar tail batch 6 — the cast tail: toguid (hyphenated + bare-hex
      // canonicalization, null on garbage) and todecimal (Kusto's decimal
      // is the reference's money type — TransactionLogEntry.cs:325 —
      // mapped to decimal(38,18) per the §1.2 money discipline; exact
      // decimal addition, null on unparseable). Decimals surface through
      // tostring so both engines compare the canonical 18-digit rendering.
      (s, dir) => kqlRun(s, dir,
        """print g1 = toguid('74BE27DE-1E4E-49D4-B4D1-5E0D9A6C2A9F')
          | | project g1,
          |     g2 = toguid('74be27de1e4e49d4b4d15e0d9a6c2a9f'),
          |     g3 = isnull(toguid('not-a-guid')),
          |     g4 = isnull(toguid('74be27de-1e4e-49d4-b4d1-5e0d9a6c2a9')),
          |     d1 = tostring(todecimal('123.4567890123456789')),
          |     d2 = tostring(todecimal('0.1') + todecimal('0.2')),
          |     d3 = isnull(todecimal('abc')),
          |     d4 = tostring(todecimal(25))""".stripMargin),
      Some("""
        SELECT '74be27de-1e4e-49d4-b4d1-5e0d9a6c2a9f' AS g1,
               '74be27de-1e4e-49d4-b4d1-5e0d9a6c2a9f' AS g2,
               TRUE AS g3, TRUE AS g4,
               '123.456789012345678900' AS d1,
               -- decimal(38,18) + decimal(38,18) promotes to (38,17) under
               -- Spark's precision capping — 17 fractional digits here
               '0.30000000000000000' AS d2,
               TRUE AS d3,
               '25.000000000000000000' AS d4""")),

    "q_kql_scalar_tail7" -> QueryDef(
      // scalar tail batch 7: guid↔base64 (.NET GUID byte order — Data1/2/3
      // little-endian; vectors cross-checked against Python's
      // uuid.bytes_le), Sunday-anchored endofweek (µs-resolution last
      // instant), dayofyear passthrough, element-wise array_iif (numeric
      // conditions, short-else null fill), beta_pdf via the native gamma
      (s, dir) => kqlRun(s, dir,
        """print b64 = base64_encode_fromguid('74be27de-1e4e-49d4-b4d1-5e0d9a6c2a9f')
          | | project b64,
          |     b64rt = base64_decode_toguid(base64_encode_fromguid('74BE27DE-1E4E-49D4-B4D1-5E0D9A6C2A9F')),
          |     b64bad = isnull(base64_decode_toguid('!!notbase64!!')),
          |     eow = format_datetime(endofweek(datetime(2024-03-15)), 'yyyy-MM-dd HH:mm:ss'),
          |     sow = format_datetime(startofweek(datetime(2024-03-17)), 'yyyy-MM-dd'),
          |     doy = dayofyear(datetime(2024-03-01)),
          |     aiif = to_json(array_iif(dynamic([true, false, true]), dynamic([1, 2, 3]), dynamic([9, 8, 7]))),
          |     aiif2 = to_json(array_iif(dynamic([1, 0]), dynamic([10, 20]), dynamic([30]))),
          |     bp = round(beta_pdf(0.3, 2.0, 5.0), 6),
          |     bi_u = round(beta_inv(0.42, 1.0, 1.0), 9),
          |     bi_sq = round(beta_inv(0.25, 2.0, 1.0), 9),
          |     bi_co = round(beta_inv(0.75, 1.0, 2.0), 9),
          |     bi_rt = abs(beta_cdf(beta_inv(0.3, 2.0, 5.0), 2.0, 5.0) - 0.3)
          |       < 0.000000001,
          |     bi_bad = isnull(beta_inv(1.5, 2.0, 5.0))""".stripMargin),
      Some("""
        SELECT '3ie+dE4e1Em00V4Nmmwqnw==' AS b64,
               '74be27de-1e4e-49d4-b4d1-5e0d9a6c2a9f' AS b64rt,
               TRUE AS b64bad,
               '2024-03-16 23:59:59' AS eow, '2024-03-17' AS sow,
               61 AS doy,
               '[1,8,3]' AS aiif, '[10,null]' AS aiif2,
               round(pow(0.3, 1.0) * pow(0.7, 4.0) * gamma(7.0) / (gamma(2.0) * gamma(5.0)), 6) AS bp,
               -- closed-form quantiles: uniform inv = p; cdf x² → √p;
               -- cdf 1-(1-x)² → 1-√(1-p)
               0.42 AS bi_u, 0.5 AS bi_sq, 0.5 AS bi_co,
               TRUE AS bi_rt, TRUE AS bi_bad""")),

    "q_kql_scalar_tail8" -> QueryDef(
      // repeat (dynamic-array replication), SCALAR range (inclusive stop,
      // real steps, null on zero/wrong-signed step), strrep (string
      // repetition — expansion-ordered after `repeat` so the emitted Spark
      // repeat( survives)
      (s, dir) => kqlRun(s, dir,
        """print r1 = to_json(repeat(7, 3)), r2 = to_json(repeat('x', 0)),
          |     rg = to_json(range(1, 10, 2)),
          |     rg2n = array_length(range(2.0, 3.0, 0.25)),
          |     rg2v = todouble(range(2.0, 3.0, 0.25)[3]) == 2.75,
          |     rg3 = to_json(range(5, 8)), rgn = isnull(range(1, 10, -1)),
          |     sr = strrep('ab', 3)""".stripMargin),
      Some("""
        SELECT '[7,7,7]' AS r1, '[]' AS r2, '[1,3,5,7,9]' AS rg,
               CAST(5 AS BIGINT) AS rg2n, TRUE AS rg2v, '[5,6,7,8]' AS rg3,
               TRUE AS rgn, 'ababab' AS sr""")),

    "q_kql_nondet" -> QueryDef(
      // the nondeterministic scalar tail — new_guid() and rand([n]). The
      // draws are irreproducible by definition, so the gate is PROPERTY
      // booleans: range containment over 200 rows of draws, the RFC-4122
      // v4 textual shape, distinctness of 200 guid draws, and two guids in
      // one row differing. (The q_sketch tolerance-boolean pattern, with
      // probability-1 properties instead of tolerances.)
      (s, dir) => kqlRun(s, dir,
        """range i from 1 to 200 step 1
          | | extend r = rand(), ri = rand(1000), g = new_guid(), g2 = new_guid()
          | | summarize r_in = countif(r >= 0.0 and r < 1.0),
          |     ri_in = countif(ri >= 0 and ri < 1000),
          |     fmt_in = countif(g matches regex
          |       '^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$'),
          |     uq = dcount(g), pr = countif(g != g2)
          | | project r_ok = r_in == 200, ri_ok = ri_in == 200,
          |     fmt_ok = fmt_in == 200, uniq_ok = uq == 200,
          |     pair_ok = pr == 200""".stripMargin),
      Some("""
        SELECT TRUE AS r_ok, TRUE AS ri_ok, TRUE AS fmt_ok,
               TRUE AS uniq_ok, TRUE AS pair_ok""")),

    "q_kql_compression" -> QueryDef(
      // zlib/gzip base64 codecs (JDK java.util.zip): roundtrip equality,
      // decode of externally-produced fixed payloads ('hello graft'
      // compressed with zlib/gzip mtime=0), and null-on-garbage — all
      // through the native-expression eval path; oracle restates
      (s, dir) => kqlRun(s, dir,
        """print rt = zlib_decompress_from_base64_string(
          |       zlib_compress_to_base64_string('graft zlib roundtrip'))
          | | project ok1 = rt == 'graft zlib roundtrip',
          |     dec1 = zlib_decompress_from_base64_string('eJzLSM3JyVdIL0pMKwEAGZgESQ=='),
          |     ok2 = gzip_decompress_from_base64_string(
          |       gzip_compress_to_base64_string('graft gzip roundtrip')) == 'graft gzip roundtrip',
          |     dec2 = gzip_decompress_from_base64_string('H4sIAAAAAAACA8tIzcnJV0gvSkwrAQCC7OE2CwAAAA=='),
          |     bad1 = isnull(zlib_decompress_from_base64_string('AAAA')),
          |     bad2 = isnull(gzip_decompress_from_base64_string('AAAA'))""".stripMargin),
      Some("""
        SELECT TRUE AS ok1, 'hello graft' AS dec1,
               TRUE AS ok2, 'hello graft' AS dec2,
               TRUE AS bad1, TRUE AS bad2""")),

    "q_kql_ipfuncs2" -> QueryDef(
      // IPv4/IPv6 tail: prefix-aware compare/match (either side may carry
      // '/m'; effective prefix = least of both + optional arg),
      // netmask-suffix extraction, and literal-range membership on the
      // canonical IPv6 form — constants through the rewrite path
      (s, dir) => kqlRun(s, dir,
        """print c1 = ipv4_compare('192.168.1.1', '192.168.1.1')
          | | project c1,
          |     c2 = ipv4_compare('10.0.0.2', '10.0.0.1'),
          |     c3 = ipv4_compare('10.0.0.1', '10.0.0.2'),
          |     c4 = ipv4_compare('192.168.1.1/24', '192.168.1.255'),
          |     c5 = ipv4_compare('127.0.0.1', '127.0.0.5', 24),
          |     m1 = ipv4_is_match('192.168.1.1', '192.168.1.255', 24),
          |     m2 = ipv4_is_match('192.168.1.1', '192.168.2.1', 24),
          |     m3 = ipv4_is_match('10.1.2.3/16', '10.1.255.255'),
          |     any4 = ipv4_is_in_any_range('10.1.2.3', '192.168.0.0/16', '10.0.0.0/8'),
          |     ns1 = ipv4_netmask_suffix('192.168.1.1/24'),
          |     ns2 = ipv4_netmask_suffix('192.168.1.1'),
          |     nsb = isnull(ipv4_netmask_suffix('999.1.2.3/8')),
          |     r1 = ipv6_is_in_range('2001:db8:0:1::1', '2001:db8::/32'),
          |     r2 = ipv6_is_in_range('2001:db9::1', '2001:db8::/32'),
          |     r3 = ipv6_is_in_any_range('::1', '2001:db8::/32', '::1/128'),
          |     bad = isnull(ipv4_compare('300.1.2.3', '1.2.3.4'))""".stripMargin),
      Some("""
        SELECT 0 AS c1, 1 AS c2, -1 AS c3, 0 AS c4, 0 AS c5,
               TRUE AS m1, FALSE AS m2, TRUE AS m3, TRUE AS any4,
               24 AS ns1, 32 AS ns2, TRUE AS nsb,
               TRUE AS r1, FALSE AS r2, TRUE AS r3, TRUE AS bad""")),

    "q_series_iir_dot" -> QueryDef(
      // series_iir (direct-form-I feedback fold: cumsum and damped
      // instances), series_dot_product, series_magnitude — constants
      // through the rewrite path, oracle restates closed-form values
      (s, dir) => kqlRun(s, dir,
        """print x = dynamic([1.0, 2.0, 3.0, 4.0, 5.0])
          | | project
          |     cum = to_json(transform(series_iir(x, dynamic([1.0]), dynamic([1.0, -1.0])), v -> round(v, 6))),
          |     damp = to_json(transform(series_iir(x, dynamic([1.0]), dynamic([1.0, -0.5])), v -> round(v, 6))),
          |     dot = round(series_dot_product(x, x), 6),
          |     dotw = round(series_dot_product(x, dynamic([2.0, 2.0, 2.0, 2.0, 2.0])), 6),
          |     mag = round(series_magnitude(x), 6)""".stripMargin),
      Some("""
        SELECT '[1.0,3.0,6.0,10.0,15.0]' AS cum,
               '[1.0,2.5,4.25,6.125,8.0625]' AS damp,
               55.0 AS dot, 30.0 AS dotw,
               round(sqrt(55.0), 6) AS mag""")),

    // ---- TPC-H-ish headline aggregations / joins (A6, §2.d) ---------------

    "q1_pricing_summary" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decSum(col("l_quantity"), "sum_qty"),
          decSum(col("l_extendedprice"), "sum_base_price"),
          revenue("sum_disc_price"),
          expr(s"sum(cast($RevenueTermSql as decimal(18,4)) * (cast(1.0 as decimal(4,2)) + cast(l_tax as decimal(4,2))))")
            .cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", round(col("sum_qty") / col("count_order"), 6)),
      Some(s"""
        SELECT l_returnflag, l_linestatus,
               SUM(CAST(l_quantity AS DECIMAL(28,2)))::DOUBLE AS sum_qty,
               SUM(CAST(l_extendedprice AS DECIMAL(28,2)))::DOUBLE AS sum_base_price,
               SUM($RevenueTermDk)::DOUBLE AS sum_disc_price,
               SUM(CAST($RevenueTermDk AS DECIMAL(18,4)) * (CAST(1.0 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))))::DOUBLE AS sum_charge,
               count(*) AS count_order,
               round(SUM(CAST(l_quantity AS DECIMAL(28,2)))::DOUBLE / count(*), 6) AS avg_qty
        FROM lineitem GROUP BY 1, 2"""),
      headline = true),

    "q3_shipping_priority" -> QueryDef(
      (s, dir) => {
        val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val ord  = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
        val li   = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(revenue("revenue"))
          .select(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"),
            col("o_orderpriority"), col("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""
        SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
               SUM($RevenueTermDk)::DOUBLE AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
      headline = true),

    "q5_region_revenue" -> QueryDef(
      (s, dir) => {
        val dims = broadcast(
          t(s, dir, "customer")
            .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
            .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey")))
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(dims, col("o_custkey") === col("c_custkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(revenue("revenue"), count(lit(1)).as("n_lineitems"))
      },
      Some(s"""
        SELECT r_name, n_name,
               SUM($RevenueTermDk)::DOUBLE AS revenue,
               count(*) AS n_lineitems
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2"""),
      headline = true),

    "q6_forecast_revenue" -> QueryDef(
      // TPC-H Q6 shape: the pushdown showcase — every predicate reaches the
      // parquet scan, 4-column ReadSchema, single partial-agg, no shuffle of
      // data rows beyond the 1-row final agg
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .agg(
          expr("sum(cast(l_extendedprice as decimal(18,2)) * cast(l_discount as decimal(4,2)))")
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items")),
      Some("""
        SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2)))::DOUBLE AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    "q18_large_orders" -> QueryDef(
      // group-HAVING semi-join shape (TPC-H Q18): find big orders from the
      // fact table, then enrich — aggregate BEFORE the join, so the shuffle
      // carries order-level rows, not lineitem-level
      (s, dir) => {
        val big = t(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(decSum(col("l_quantity"), "total_qty"))
          .filter(col("total_qty") > 150.0)
        big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate").cast("date").as("o_orderdate"), col("total_qty"))
      },
      Some("""
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate, total_qty
        FROM (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(28,2)))::DOUBLE AS total_qty
              FROM lineitem GROUP BY 1)
        JOIN orders ON l_orderkey = o_orderkey
        WHERE total_qty > 150.0""")),

    "q10_top_customers" -> QueryDef(
      // returned-item revenue per customer, top 20 (TPC-H Q10 shape):
      // fact-side filter + shuffle agg, broadcast dims, bounded top-k
      (s, dir) => t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(revenue("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20),
      Some(s"""
        SELECT c_custkey, c_name, n_name,
               SUM($RevenueTermDk)::DOUBLE AS revenue, count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ---- two-sided dimension bridge (TPC-H Q7 shape) ----------------------

    "q7_volume_shipping" -> QueryDef(
      // revenue between nation PAIRS: the same dim table (nation) joins the
      // fact twice through different bridges (supplier side and
      // customer-via-orders side) — both broadcast; year from the nanos-free
      // lineitem shipdate
      (s, dir) => {
        val n1 = broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation")))
        val n2 = broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation")))
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "supplier").select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(n1, col("s_nationkey") === col("n1_key"))
          .join(n2, col("c_nationkey") === col("n2_key"))
          .filter(col("supp_nation") < col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("bigint").as("l_year"))
          .agg(count(lit(1)).as("n_items"), revenue("revenue"))
      },
      Some(s"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               EXTRACT(year FROM l_shipdate) AS l_year,
               count(*) AS n_items, SUM($RevenueTermDk)::DOUBLE AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name < n2.n_name
        GROUP BY 1, 2, 3""")),

    // ---- HAVING over a global aggregate (TPC-H Q11 shape) -----------------

    "q11_supplier_value" -> QueryDef(
      // suppliers whose shipped value exceeds 0.1% of ALL shipped value:
      // the scalar-subquery-in-HAVING shape. The global total is a 1-row
      // aggregate broadcast back onto the per-supplier rows — NOT an
      // unpartitioned window, which would move every per-supplier row to a
      // single task at scale (supplier count grows with the data)
      (s, dir) => {
        // threshold compare stays in DECIMAL end-to-end: a double window sum
        // is order-dependent, and a supplier within ulps of the 0.1% cut
        // could flip membership between engines/runs
        val sv = t(s, dir, "lineitem")
          .groupBy(col("l_suppkey").as("suppkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(28,2)")).as("dv"))
        sv.crossJoin(broadcast(sv.agg(sum(col("dv")).as("total"))))
          .filter(col("dv") > col("total") * lit(java.math.BigDecimal.valueOf(0.001)))
          .join(broadcast(t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
            col("suppkey") === col("s_suppkey"))
          .select(col("s_name"), col("s_nationkey"),
            round(col("dv").cast("double"), 2).as("value"))
      },
      Some("""
        WITH sv AS (SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS dv
                    FROM lineitem GROUP BY 1)
        SELECT s_name, s_nationkey, round(CAST(dv AS DOUBLE), 2) AS value
        FROM sv JOIN supplier ON l_suppkey = s_suppkey
        WHERE dv > (SELECT SUM(dv) FROM sv) * 0.001""")),

    // ---- semi-join / outer-join analytics (TPC-H Q4/Q13 shapes) -----------
    // left_semi and left_outer are the two join types the mirror plane never
    // uses (it is inner/anti only) — covered here so the analytics surface
    // spans every join strategy Spark offers

    "q4_late_orders" -> QueryDef(
      // orders with at least one lineitem shipped > 90 days after the order
      // date: EXISTS ⇒ left_semi (no fan-out, no dedup needed)
      (s, dir) => t(s, dir, "orders")
        .join(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey")
            && to_date(col("l_shipdate")) > date_add(to_date(col("o_orderdate")), 90),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_late_orders")),
      Some("""
        SELECT o_orderpriority, count(*) AS n_late_orders FROM orders WHERE EXISTS (
          SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
            AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY)
        GROUP BY 1""")),

    "q13_order_distribution" -> QueryDef(
      // customers-per-order-count histogram: left_outer keeps zero-order
      // customers (count(col) skips the outer-join nulls), then a second
      // aggregation over the first — the classic double-agg distribution
      (s, dir) => t(s, dir, "customer").select("c_custkey")
        .join(
          t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
          col("o_custkey") === col("c_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders")
        .agg(count(lit(1)).as("n_custs")),
      Some("""
        SELECT n_orders, count(*) AS n_custs FROM (
          SELECT c_custkey, count(o_orderkey) AS n_orders
          FROM customer LEFT JOIN orders ON o_custkey = c_custkey GROUP BY 1)
        GROUP BY 1""")),

    // ---- part-dimension analytics (TPC-H Q14/Q19 shapes): conditional agg
    // over a broadcast dim join; disjunctive multi-column predicate bundles -

    "q14_promo_revenue" -> QueryDef(
      (s, dir) => {
        val grouped = t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part").select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_type")
          .agg(count(lit(1)).as("n_items"), revenue("type_revenue"))
        // share-of-total via broadcast 1-row aggregate (p_type groups are
        // bounded, but the no-unpartitioned-window rule is uniform — PlanSpec
        // pins it across the whole registry)
        grouped
          .crossJoin(broadcast(grouped.agg(sum(col("type_revenue")).as("_tot"))))
          .withColumn("revenue_share", round(col("type_revenue") / col("_tot"), 6))
          .drop("_tot")
      },
      Some(s"""
        WITH g AS (
          SELECT p_type, count(*) AS n_items,
                 SUM($RevenueTermDk)::DOUBLE AS type_revenue
          FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1)
        SELECT p_type, n_items, type_revenue,
               round(type_revenue / SUM(type_revenue) OVER (), 6) AS revenue_share
        FROM g""")),

    "q19_disjunctive_filter" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)
            && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)
            && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)
            && col("l_quantity").between(20, 30)))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"), revenue("revenue")),
      Some(s"""
        SELECT p_brand, count(*) AS n_items, SUM($RevenueTermDk)::DOUBLE AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand='Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand='Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand='Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
        GROUP BY 1""")),

    // ---- extent↔blob map-back join (J4) -----------------------------------

    "q_blob_map_join" -> QueryDef(
      // J4 shape: aggregate the big fact stream, then hash-join the small
      // dimension map back (broadcast — metadata-sized, like the
      // extent↔blob map of BlobStagingOrchestration.cs:213-242)
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_blobs"), decSum(col("l_extendedprice"), "total_size"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_blobs"), col("total_size")),
      Some("""
        SELECT s_suppkey, s_name, n_blobs, total_size
        FROM (SELECT l_suppkey, count(*) AS n_blobs,
                     SUM(CAST(l_extendedprice AS DECIMAL(28,2)))::DOUBLE AS total_size
              FROM lineitem GROUP BY 1)
        JOIN supplier ON l_suppkey = s_suppkey""")),

    // ---- creation-time map-back join (J5) ---------------------------------

    "q_creation_map_join" -> QueryDef(
      // J5 shape: the per-partition-tuple scalar map (U3 output) joined back
      // onto the item stream (BlobAnalysisOrchestration.cs:177-184)
      (s, dir) => {
        val ord = t(s, dir, "orders").withColumn("p0", year(col("o_orderdate")).cast("bigint"))
        val ctMap = ord.select("p0").distinct()
          .withColumn("creation_date",
            expr("to_timestamp(concat(cast(p0 as string), '-01-01'))").cast("date"))
        ord.join(broadcast(ctMap), Seq("p0"))
          .groupBy(col("creation_date"))
          .agg(count(lit(1)).as("n_items"), decSum(col("o_totalprice"), "total_size"))
      },
      Some("""
        SELECT CAST(CAST(p0 || '-01-01' AS TIMESTAMP) AS DATE) AS creation_date,
               count(*) AS n_items,
               SUM(CAST(o_totalprice AS DECIMAL(28,2)))::DOUBLE AS total_size
        FROM (SELECT *, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS p0 FROM orders)
        GROUP BY 1""")),

    // ---- arg_max dedup — the MLK_DeltaStatus view (A1, A2, P5, W3, W4) ----

    "q_argmax_latest_event" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("event_type").as("last_type"), col("value").as("last_value"))
      },
      Some("""
        SELECT user_id, event_id AS last_event_id, event_type AS last_type, value AS last_value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1"""),
      headline = true),

    "q_status_view_argmax" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("last_value"),
          count(lit(1)).as("n_updates")),
      Some("""
        SELECT user_id, event_type, value AS last_value, cnt AS n_updates
        FROM (SELECT user_id, event_type, value,
                     count(*) OVER (PARTITION BY user_id, event_type) AS cnt,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1""")),

    // ---- add⋉remove annihilation (J1, O2) ---------------------------------

    "q_add_remove_annihilation" -> QueryDef(
      (s, dir) => {
        // (user, day) granularity keeps the anti-join non-trivial at every SF:
        // a click-day survives only if that user made no purchase the same day.
        val ev = t(s, dir, "events")
          .withColumn("day", to_date(timestamp_micros(expr("ts div 1000"))))
        val adds    = ev.filter(col("event_type") === "click").select("user_id", "day").distinct()
        val removes = ev.filter(col("event_type") === "purchase").select("user_id", "day").distinct()
        adds.join(removes, Seq("user_id", "day"), "left_anti")
      },
      Some("""
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'click'
        EXCEPT
        SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'purchase'""")),

    // ---- checkpoint-vs-state diff (J2, O3) --------------------------------

    "q_log_delta" -> QueryDef(
      (s, dir) => {
        // events.ts is read as epoch-nanos LONG (nanosAsLong); the cutoff is
        // 2024-01-15T00:00:00Z in epoch nanos. The value>100 restriction keeps
        // the (user, event_type) sets sparse so BOTH diff directions are
        // non-empty at every SF — a 0-row result would be a vacuous check.
        val cutoffNs = 1705276800000000000L
        val ev   = t(s, dir, "events").filter(col("value") > 100)
        val prev = ev.filter(col("ts") < cutoffNs).select("user_id", "event_type").distinct()
        val cur  = ev.filter(col("ts") >= cutoffNs).select("user_id", "event_type").distinct()
        cur.except(prev).withColumn("action", lit("Add"))
          .unionByName(prev.except(cur).withColumn("action", lit("Remove")))
      },
      Some("""
        SELECT user_id, event_type, 'Add' AS action FROM
          (SELECT DISTINCT user_id, event_type FROM events WHERE value > 100 AND ts >= TIMESTAMP '2024-01-15'
           EXCEPT SELECT DISTINCT user_id, event_type FROM events WHERE value > 100 AND ts < TIMESTAMP '2024-01-15')
        UNION ALL
        SELECT user_id, event_type, 'Remove' AS action FROM
          (SELECT DISTINCT user_id, event_type FROM events WHERE value > 100 AND ts < TIMESTAMP '2024-01-15'
           EXCEPT SELECT DISTINCT user_id, event_type FROM events WHERE value > 100 AND ts >= TIMESTAMP '2024-01-15')""")),

    // ---- remove→historical-add resolution + skip propagation (J3, P7) -----

    "q_remove_resolution" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("state",
          when(col("o_orderdate") < lit("1997-01-01"), "Skipped").otherwise("Done"))
        .groupBy("state")
        .agg(count(lit(1)).as("n_removes"), decSum(col("l_quantity"), "sum_qty")),
      Some("""
        SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 'Skipped' ELSE 'Done' END AS state,
               count(*) AS n_removes,
               SUM(CAST(l_quantity AS DECIMAL(28,2)))::DOUBLE AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R' GROUP BY 1""")),

    // ---- distinct partition tuples / grouped ingestion (A3, A4, O6) -------

    "q_distinct_partitions" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_returnflag").as("p0"), col("l_linestatus").as("p1")).distinct(),
      Some("SELECT DISTINCT l_returnflag AS p0, l_linestatus AS p1 FROM lineitem")),

    "q_partition_groups" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("p0"), col("l_linestatus").as("p1"))
        .agg(
          count(lit(1)).as("n_files"),
          decSum(col("l_extendedprice"), "total_size"),
          min(col("l_shipdate").cast("date")).as("min_created"),
          max(col("l_shipdate").cast("date")).as("max_created")),
      Some("""
        SELECT l_returnflag AS p0, l_linestatus AS p1, count(*) AS n_files,
               SUM(CAST(l_extendedprice AS DECIMAL(28,2)))::DOUBLE AS total_size,
               min(CAST(l_shipdate AS DATE)) AS min_created,
               max(CAST(l_shipdate AS DATE)) AS max_created
        FROM lineitem GROUP BY 1, 2""")),

    // ---- retention / go-back skip (P7, O5) --------------------------------

    "q_retention_skip" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .withColumn("state",
          when(col("o_orderdate") < lit("1996-07-01"), "Skipped").otherwise("Analyzed"))
        .groupBy("state")
        .agg(count(lit(1)).as("n_items"),
          min(col("o_orderdate").cast("date")).as("min_created"),
          max(col("o_orderdate").cast("date")).as("max_created")),
      Some("""
        SELECT CASE WHEN o_orderdate < TIMESTAMP '1996-07-01' THEN 'Skipped' ELSE 'Analyzed' END AS state,
               count(*) AS n_items,
               min(CAST(o_orderdate AS DATE)) AS min_created,
               max(CAST(o_orderdate AS DATE)) AS max_created
        FROM orders GROUP BY 1""")),

    // ---- earliest incomplete batch (P1, P2, A7) ---------------------------

    "q_earliest_incomplete" -> QueryDef(
      (s, dir) => t(s, dir, "orders").filter(col("o_orderstatus") =!= "F")
        .agg(min(col("o_orderkey")).as("start_tx_id"), count(lit(1)).as("n_incomplete")),
      Some("""
        SELECT min(o_orderkey) AS start_tx_id, count(*) AS n_incomplete
        FROM orders WHERE o_orderstatus <> 'F'""")),

    // ---- latest-schema arg_max ≤ tx (P5, W4) ------------------------------

    "q_latest_schema" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        t(s, dir, "orders").filter(col("o_orderdate") < lit("1999-01-01"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderkey").as("last_order"),
            col("o_orderdate").cast("date").as("last_date"))
      },
      Some("""
        SELECT o_custkey, o_orderkey AS last_order, CAST(o_orderdate AS DATE) AS last_date
        FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01') WHERE rn = 1""")),

    // ---- union of action streams (U1, U2) ---------------------------------

    "q_union_streams" -> QueryDef(
      (s, dir) => {
        val adds = t(s, dir, "lineitem").select(col("l_orderkey").as("id"), lit("Add").as("action"))
        val removes = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("id"), lit("Remove").as("action"))
        adds.unionByName(removes).groupBy("action")
          .agg(count(lit(1)).as("n_items"), countDistinct(col("id")).as("n_distinct"))
      },
      Some("""
        SELECT action, count(*) AS n_items, count(DISTINCT id) AS n_distinct
        FROM (SELECT l_orderkey AS id, 'Add' AS action FROM lineitem
              UNION ALL
              SELECT o_orderkey AS id, 'Remove' AS action FROM orders WHERE o_orderstatus = 'F')
        GROUP BY 1""")),

    // ---- creation-time scalar expression over distinct tuples (U3, O7) ----

    "q_creation_time_expr" -> QueryDef(
      (s, dir) => t(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("bigint").as("p0")).distinct()
        .withColumn("creation_time",
          date_format(expr("to_timestamp(concat(cast(p0 as string), '-01-01'))"),
            "yyyy-MM-dd HH:mm:ss")),
      Some("""
        SELECT p0, strftime(CAST(p0 || '-01-01' AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS creation_time
        FROM (SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS p0 FROM orders)""")),

    // ---- ordered incremental fold / running state (W1, W2, §2.h) ----------

    "q_running_fold" -> QueryDef(
      (s, dir) => {
        val w    = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .withColumn("running", sum(col("value")).over(wcum))
          .filter(col("rn") <= 3)
          .select(col("user_id"), col("rn").cast("bigint").as("seq"), col("event_id"),
            round(col("running"), 6).as("running_value"))
      },
      Some("""
        SELECT user_id, CAST(rn AS BIGINT) AS seq, event_id, round(running, 6) AS running_value
        FROM (SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                     sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS running
              FROM events) WHERE rn <= 3""")),

    // ---- sessionization (stacked windows — the streaming-state analog) ----

    "q_sessionization" -> QueryDef(
      (s, dir) => {
        // ts is epoch-nanos LONG; `ts div 1000` = truncate-to-micros, the
        // same truncation DuckDB's epoch_us applies before subtracting
        val w    = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("us", expr("ts div 1000"))
          .withColumn("prev_us", lag(col("us"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_us").isNull ||
              col("us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("session_id", sum(col("new_sess")).over(wcum))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            (max(col("us")) - min(col("us"))).as("dur_us"))
      },
      Some("""
        SELECT user_id, session_id, count(*) AS n_events,
               max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
        FROM (SELECT user_id, ts,
                     -- CAST: DuckDB's windowed sum yields HUGEINT (→ float64
                     -- through the compare harness); Spark emits BIGINT
                     CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM (SELECT *,
                           CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                     > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
                    FROM events))
        GROUP BY 1, 2"""),
      headline = true),

    // ---- rollup aggregation (beyond-reference analytics surface) ----------

    "q_rollup_revenue" -> QueryDef(
      (s, dir) => t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"), decSum(col("l_quantity"), "sum_qty")),
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n_items,
               SUM(CAST(l_quantity AS DECIMAL(28,2)))::DOUBLE AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""")),

    // ---- as-of attribution: last preceding click per purchase -------------
    // the training-pipeline event-attribution op, in its scalable form: ONE
    // shuffle on user_id, carry-forward via ignore-nulls window (no
    // per-pair join, no range-join blowup)

    "q_asof_attribution" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // arithmetic on µs-truncated instants: DuckDB truncates parquet
        // TIMESTAMP(NANOS) to µs, so truncate-each-then-subtract matches it
        // (subtract-then-truncate would drift by 1µs on sub-µs remainders)
        t(s, dir, "events")
          .withColumn("us", expr("ts div 1000"))
          .withColumn("last_click_us",
            last(when(col("event_type") === "click", col("us")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase" && col("last_click_us").isNotNull)
          .select(col("user_id"), col("event_id").as("purchase_id"),
            (col("us") - col("last_click_us")).as("gap_us"))
      },
      Some("""
        SELECT user_id, event_id AS purchase_id,
               epoch_us(ts) - last_click_us AS gap_us
        FROM (SELECT user_id, event_id, ts, event_type,
                     last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS last_click_us
              FROM events)
        WHERE event_type = 'purchase' AND last_click_us IS NOT NULL""")),

    // ---- exact quantiles (order statistics) -------------------------------

    "q_value_quantiles" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          count(lit(1)).as("n")),
      Some("""
        SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.95), 6) AS p95, count(*) AS n
        FROM events GROUP BY 1""")),

    // ---- sketch aggregations (the 100 TB scale path for distinct/quantile) -
    // Sketches can't hash-match an exact oracle, so each query emits
    // tolerance BOOLEANS computed against the exact answer in the same plan;
    // the oracle asserts them TRUE. A sketch drifting out of tolerance fails
    // the gate instead of silently passing a rows-only check.

    "q_sketch_distinct" -> QueryDef(
      (s, dir) => {
        val ev = t(s, dir, "events").groupBy("event_type").agg(
          approx_count_distinct(col("user_id"), 0.05).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        val li = t(s, dir, "lineitem").groupBy(col("l_returnflag").as("grp")).agg(
          approx_count_distinct(col("l_orderkey"), 0.05).as("approx_keys"),
          countDistinct(col("l_orderkey")).as("exact_keys"))
        ev.select(
            concat(lit("events:"), col("event_type")).as("grp"),
            col("exact_users").as("exact_count"),
            // 3σ at rsd=0.05, same band as the lineitem side: the sparse
            // "exact at low cardinality" premise only held at sf0.01
            // (~150 distinct users); at sf0.1 (1,500) the estimator is in
            // its dense regime and a 5% band is a coin flip (the sf0.1
            // sweep caught exactly that — CORRECTNESS_SF01_r12)
            (abs(col("approx_users") - col("exact_users"))
              <= col("exact_users").cast("double") * 0.15).as("within_tol"))
          .unionByName(li.select(
            concat(lit("lineitem:"), col("grp")).as("grp"),
            col("exact_keys").as("exact_count"),
            // dense-mode HLL at rsd=0.05: allow 3σ = 15%
            (abs(col("approx_keys") - col("exact_keys"))
              <= col("exact_keys").cast("double") * 0.15).as("within_tol")))
      },
      Some("""
        SELECT 'events:' || event_type AS grp, count(DISTINCT user_id) AS exact_count,
               TRUE AS within_tol FROM events GROUP BY event_type
        UNION ALL
        SELECT 'lineitem:' || l_returnflag, count(DISTINCT l_orderkey), TRUE
        FROM lineitem GROUP BY l_returnflag""")),

    "q_sketch_quantiles" -> QueryDef(
      // percentile_approx (GK-sketch) vs exact percentile, 2%-of-value
      // tolerance; exact-quantile parity itself is covered by
      // q_value_quantiles, so only the booleans are emitted here
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50_sketch"),
          expr("percentile(value, 0.5)").as("p50_exact"),
          percentile_approx(col("value"), lit(0.95), lit(10000)).as("p95_sketch"),
          expr("percentile(value, 0.95)").as("p95_exact"))
        .select(
          col("event_type"),
          (abs(col("p50_sketch") - col("p50_exact"))
            <= greatest(abs(col("p50_exact")) * 0.02, lit(1.0))).as("p50_within_tol"),
          (abs(col("p95_sketch") - col("p95_exact"))
            <= greatest(abs(col("p95_exact")) * 0.02, lit(1.0))).as("p95_within_tol")),
      Some("""
        SELECT event_type, TRUE AS p50_within_tol, TRUE AS p95_within_tol
        FROM events GROUP BY 1""")),

    // ---- salted skew join (100 TB hot-key mitigation; row-identical to the
    // plain join, so the oracle IS the plain join) --------------------------

    "q_skew_salted_join" -> QueryDef(
      (s, dir) => {
        val fact = t(s, dir, "events").withColumnRenamed("user_id", "k")
        val dim = t(s, dir, "customer")
          .filter(col("c_custkey") <= 150)
          .select(col("c_custkey").as("k"), col("c_nationkey"))
        SkewJoin.saltedJoin(fact, dim, "k", buckets = 8)
          .groupBy("c_nationkey")
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("k")).as("n_users"),
            max(col("value")).as("max_value"))
      },
      Some("""
        SELECT c_nationkey, count(*) AS n_events,
               count(DISTINCT user_id) AS n_users, max(value) AS max_value
        FROM events JOIN customer ON user_id = c_custkey
        WHERE c_custkey <= 150 GROUP BY 1""")),

    // ---- bucketed point-in-interval join (range join, no nested loop) -----

    "q_interval_join" -> QueryDef(
      // hot-window alignment: hours in the top 5% by event count become
      // UNALIGNED [-30min, +90min) incident windows; every event joins to
      // the windows containing it via RangeJoin's bucketed equi-join — the
      // threshold is a quantile (scale-free: non-vacuous at every SF), the
      // windows derive in-plan (deterministic)
      (s, dir) => {
        val H = 3600000000000L // 1h in nanos
        val ev = t(s, dir, "events").select(col("event_type"), col("ts"))
        val hourly = ev.groupBy(expr(s"ts div $H").as("b"))
          .agg(count(lit(1)).as("cnt"))
        val thr = hourly.agg(expr("percentile(cnt, 0.95)").as("q"))
        val windows = hourly.crossJoin(broadcast(thr))
          .filter(col("cnt") >= col("q"))
          .select((col("b") * H - 1800000000000L).as("w_start"),
                  (col("b") * H + 5400000000000L).as("w_end"))
        RangeJoin.pointInInterval(ev, "ts", windows, "w_start", "w_end", bucketWidth = H)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_pairs"), countDistinct(col("w_start")).as("n_windows"))
          .orderBy("event_type")
      },
      Some("""
        WITH hourly AS (SELECT epoch_ns(ts)//3600000000000 AS b, count(*) AS cnt
                        FROM events GROUP BY 1),
        thr AS (SELECT quantile_cont(cnt, 0.95) AS q FROM hourly),
        win AS (SELECT b*3600000000000 - 1800000000000 AS ws,
                       b*3600000000000 + 5400000000000 AS we
                FROM hourly, thr WHERE cnt >= q),
        pairs AS (SELECT e.event_type, w.ws FROM events e
                  JOIN win w ON epoch_ns(e.ts) >= w.ws AND epoch_ns(e.ts) < w.we)
        SELECT event_type, count(*) AS n_pairs, count(DISTINCT ws) AS n_windows
        FROM pairs GROUP BY 1 ORDER BY 1""")),

    // ---- dynamic/JSON scalar extraction (§2.g dynamic columns) ------------

    "q_props_extract" -> QueryDef(
      (s, dir) => t(s, dir, "events")
        .select(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("bigint").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n")),
      Some("""
        SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k, count(*) AS n
        FROM events GROUP BY 1""")),

    // ---- training-data extensions: dedup ----------------------------------

    "dedup_exact" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper")),
      Some("""
        SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keeper
        FROM documents GROUP BY 1""")),

    "dedup_fingerprint" -> QueryDef(
      (s, dir) => t(s, dir, "documents")
        .groupBy(TextFunctions.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper")),
      Some("""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
               count(*) AS n_copies, min(doc_id) AS keeper
        FROM documents GROUP BY 1""")),

    "dedup_ngram_jaccard" -> QueryDef(
      (s, dir) => {
        // EXACT shingle self-join — inherently O(colliding pairs), so the
        // corpus slice is bounded and the bound is SURFACED as a result
        // column (covered_id_bound, oracle-matched): no silent coverage cap.
        // The unbounded scale path for near-dup detection is
        // dedup_minhash_lsh; this query is its exact teaching baseline.
        // The bound is DATA-DERIVED (3/5 of the corpus row count, truncating
        // — 300 at sf0.01, 3000 at sf0.1) so the slice scales with the
        // corpus and real near-dup pairs land INSIDE it at every recorded
        // sweep scale: a fixed 300 went vacuous (0 rows) at sf0.1 where the
        // generator spreads pair partners across the full id range.
        // Both engines derive the identical bound from the identical count.
        // Derived IN-PLAN (broadcast 1-row scalar, the repo's standard
        // scalar-broadcast shape) so plan-only consumers (PlanDump,
        // RewriteFixpointSpec's build pass) never execute a scan at
        // DataFrame-construction time. NOTE the generator contract this
        // leans on: doc_id is DENSE in [0, count), so an id bound of
        // 3·count/5 covers 3/5 of the corpus — a sparse-id corpus would
        // need percentile_approx(doc_id, 0.6) instead.
        val docs  = t(s, dir, "documents")
        val bd = broadcast(docs.agg(
          floor(count(lit(1)) * 3 / 5).cast("long").as("_bound")))
        ngramJaccardPairs(
          docs.crossJoin(bd).filter(col("doc_id") < col("_bound")).drop("_bound"), 0.4)
          .crossJoin(bd)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"),
            col("_bound").as("covered_id_bound"))
      },
      Some("""
        WITH bd AS (SELECT 3 * count(*) // 5 AS bound FROM documents),
             sh AS (SELECT DISTINCT doc_id,
                      unnest(list_transform(range(1, greatest(length(text) - 9, 1) + 1),
                                            i -> substr(text, CAST(i AS INT), 10))) AS sh
                    FROM documents WHERE doc_id < (SELECT bound FROM bd)),
             sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             it AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard,
               CAST((SELECT bound FROM bd) AS BIGINT) AS covered_id_bound
        FROM it JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.4""")),

    "dedup_clusters" -> QueryDef(
      // near-dup CLUSTERS (connected components over the exact pair graph):
      // pair detection says who matches whom; dedup keeps one doc per
      // component, so the cluster id (min reachable doc_id) is the real
      // output of a dedup pass. Iterative min-label propagation — one
      // shuffle per round, rounds = component diameter (tiny for near-dup
      // chains). Oracle: DuckDB recursive-CTE transitive closure over the
      // identical edge set. Bounded slice like the exact pair query; the
      // unbounded scale path feeds minhash pairs into the same propagation.
      (s, dir) => {
        val bound = 300L
        val docs  = t(s, dir, "documents").filter(col("doc_id") < bound)
        val edges = ngramJaccardPairs(docs, 0.4)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
        DedupFunctions.connectedComponents(docs.select(col("doc_id").as("id")), edges)
          .select(col("id").as("doc_id"), col("cluster_id"))
      },
      Some("""
        WITH sh AS (SELECT DISTINCT doc_id,
                      unnest(list_transform(range(1, greatest(length(text) - 9, 1) + 1),
                                            i -> substr(text, CAST(i AS INT), 10))) AS sh
                    FROM documents WHERE doc_id < 300),
             sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             it AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
             e0 AS (SELECT doc_a, doc_b
                    FROM it JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
                    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.4),
             edges AS (SELECT doc_a AS a, doc_b AS b FROM e0
                       UNION SELECT doc_b, doc_a FROM e0),
             reach AS (
               WITH RECURSIVE r(a, b) AS (
                 SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
                 UNION
                 SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
               SELECT * FROM r)
        SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY 1""")),

    "text_entropy" -> QueryDef(
      // per-document token-entropy quality signal (−Σ p log2 p, bits) with
      // its log2(n) ceiling — sorted-distinct fold keeps the double
      // summation order identical in DuckDB (list_reduce left fold there,
      // aggregate left fold here), so the rounded values are exact
      (s, dir) => t(s, dir, "documents")
        .withColumn("_tok", split(col("text"), " "))
        .select(col("doc_id"),
          round(TextFunctions.tokenEntropy(col("_tok")), 6).as("h"),
          round(log2(size(col("_tok")).cast("double")), 6).as("h_max")),
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        SELECT doc_id,
          round(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(list_sort(list_distinct(w)),
              x -> (CAST(len(list_filter(w, y -> y = x)) AS DOUBLE) / len(w))
                   * log2(CAST(len(list_filter(w, y -> y = x)) AS DOUBLE) / len(w)))),
            (a, b) -> a + b), 6) AS h,
          round(log2(CAST(len(w) AS DOUBLE)), 6) AS h_max
        FROM t""")),

    "curate_quality_lr" -> QueryDef(
      // in-engine quality-classifier TRAINING (fastText-filter style) as
      // distributed full-batch logistic regression — the pcaTrace scale
      // shape: one aggregation pass per round, driver holds d+1 weights.
      // Label: doc contains the token 'the' (text-derivable, separable —
      // the capped marker-count feature carries it); the length and
      // diversity features ride along as noise LR must down-weight. Gates:
      // convex-loss strict decrease, wide-margin trained accuracy, the
      // informative weight's sign; exact corpus/class counts cross-check
      // the label lowering against DuckDB
      (s, dir) => {
        val docs  = t(s, dir, "documents")
        val words = split(col("text"), " ")
        val feats = Seq(
          least(size(filter(words, x => x === "the")), lit(3)).cast("double"),
          size(words).cast("double") / lit(100.0),
          size(array_distinct(words)).cast("double") / size(words).cast("double"))
        val label = array_contains(words, "the").cast("int")
        val (n, nPos, losses, w, acc) =
          graft.functions.Classifier.logRegTrace(docs, feats, label, 40, 2.0)
        import s.implicits._
        Seq((n, nPos, losses.size - 1,
          losses.head > losses.last + 0.1, acc >= 0.95, w(1) > 0.0))
          .toDF("n_docs", "n_pos", "n_rounds", "ok_loss_drop", "ok_acc", "ok_weight")
      },
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN list_contains(string_split(text, ' '), 'the')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               40 AS n_rounds,
               TRUE AS ok_loss_drop, TRUE AS ok_acc, TRUE AS ok_weight
        FROM documents""")),

    "curate_dedup_keep_best" -> QueryDef(
      // the step real pipelines run AFTER near-dup clustering: keep ONE doc
      // per cluster — the highest-quality member (doc_id tie-break). Same
      // edge set and components as dedup_clusters, then a per-cluster
      // max_by; the composition is exactly fuzzy-dedup-with-quality-policy.
      (s, dir) => {
        val bound = 300L
        val docs  = t(s, dir, "documents").filter(col("doc_id") < bound)
        val edges = ngramJaccardPairs(docs, 0.4)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
        val clusters = DedupFunctions
          .connectedComponents(docs.select(col("doc_id").as("id")), edges)
          .select(col("id").as("doc_id"), col("cluster_id"))
        val scored = docs.select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("q"))
        // shuffle_hash pin: both sides are one-row-per-document, never
        // broadcastable on a misestimate; hash-build beats sorting both
        clusters.hint("shuffle_hash").join(scored, Seq("doc_id"))
          .groupBy(col("cluster_id"))
          .agg(
            count(lit(1)).as("n_members"),
            max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("kept_doc"),
            max(col("q")).as("best_quality"))
      },
      Some(s"""
        WITH sh AS (SELECT DISTINCT doc_id,
                      unnest(list_transform(range(1, greatest(length(text) - 9, 1) + 1),
                                            i -> substr(text, CAST(i AS INT), 10))) AS sh
                    FROM documents WHERE doc_id < 300),
             sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
             it AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
             e0 AS (SELECT doc_a, doc_b
                    FROM it JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
                    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.4),
             edges AS (SELECT doc_a AS a, doc_b AS b FROM e0
                       UNION SELECT doc_b, doc_a FROM e0),
             reach AS (
               WITH RECURSIVE r(a, b) AS (
                 SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
                 UNION
                 SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
               SELECT * FROM r),
             cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY 1),
             q AS (SELECT doc_id,
                     floor(((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' '))) * 0.5
                           + (CASE WHEN (CAST(length(text) AS DOUBLE) - (len(string_split(text, ' ')) - 1.0)) / len(string_split(text, ' ')) >= 3
                                     AND (CAST(length(text) AS DOUBLE) - (len(string_split(text, ' ')) - 1.0)) / len(string_split(text, ' ')) <= 10
                                   THEN 1.0 ELSE 0.0 END) * 0.2
                           + least(CAST(${dkHits("en")} AS DOUBLE) / len(string_split(text, ' ')) * 10.0, 1.0) * 0.3) * 1000000 + 0.5) / 1000000 AS q
                   FROM documents WHERE doc_id < 300),
             j AS (SELECT cl.cluster_id, cl.doc_id, q.q,
                          row_number() OVER (PARTITION BY cluster_id
                                             ORDER BY q.q DESC, cl.doc_id) AS rn,
                          count(*) OVER (PARTITION BY cluster_id) AS cnt,
                          max(q.q) OVER (PARTITION BY cluster_id) AS mq
                   FROM cl JOIN q USING (doc_id))
        SELECT cluster_id, cnt AS n_members, doc_id AS kept_doc,
               mq AS best_quality
        FROM j WHERE rn = 1""")),

    "dedup_pipeline_full" -> QueryDef(
      // THE end-to-end dedup composition over the ENTIRE corpus — no
      // doc_id bound anywhere: minhash-LSH edges (word 5-grams, exact-
      // verified at jaccard >= 0.8) -> connected components (min-label
      // propagation) -> keep-best-per-cluster (quality score, doc_id
      // tie-break). This is the C4/RefinedWeb fuzzy-dedup recipe as ONE
      // declarative plan, every stage the bucketed/sublinear scale shape:
      // LSH shuffles on (band, bandHash), components shuffle on node id,
      // keep-best is one partial-friendly groupBy.
      //
      // Band geometry: 64 hashes as 16 bands x 4 rows (not the 8x8 used by
      // dedup_minhash_lsh's recall study). Rows=4 centers the S-curve at
      // (1/16)^(1/4) ~ 0.5, so a pair at the 0.8 exact threshold collides
      // in >= 1 band with p ~ 1-(1-0.8^4)^16 ~ 0.9998 and the corpus's
      // weakest real pair (0.875) with p ~ 1-7e-7 — the LSH edge set
      // EQUALS the exact >= 0.8 pair set with overwhelming margin, which
      // is what lets the DuckDB twin restate the whole pipeline from the
      // exact pair graph (recursive-CTE closure). Seeded + deterministic.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val edges = DedupFunctions.minHashNearDups(docs, "doc_id", "text",
            numHashes = 64, bands = 16, threshold = 0.8, wordGrams = 5)
          .select(col("id_a"), col("id_b"))
        val clusters = DedupFunctions.connectedComponents(
            docs.select(col("doc_id").as("id")), edges)
          .select(col("id").as("doc_id"), col("cluster_id"))
        val scored = docs.select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("q"))
        // shuffle_hash pin: both sides are one-row-per-document, never
        // broadcastable on a misestimate; hash-build beats sorting both
        clusters.hint("shuffle_hash").join(scored, Seq("doc_id"))
          .groupBy(col("cluster_id"))
          .agg(
            count(lit(1)).as("n_members"),
            max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("kept_doc"),
            max(col("q")).as("best_quality"))
      },
      Some(s"""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             gr AS (SELECT DISTINCT doc_id,
                      unnest(list_transform(range(1, greatest(len(w) - 4, 0) + 1),
                             i -> list_aggregate(list_slice(w, CAST(i AS INT), CAST(i + 4 AS INT)),
                                                 'string_agg', ' '))) AS g
                    FROM tok),
             sz AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY 1),
             it AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                    FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
             e0 AS (SELECT doc_a, doc_b
                    FROM it JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
                    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
             edges AS (SELECT doc_a AS a, doc_b AS b FROM e0
                       UNION SELECT doc_b, doc_a FROM e0),
             reach AS (
               WITH RECURSIVE r(a, b) AS (
                 SELECT doc_id, doc_id FROM documents
                 UNION
                 SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a)
               SELECT * FROM r),
             cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY 1),
             q AS (SELECT doc_id,
                     floor(((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' '))) * 0.5
                           + (CASE WHEN (CAST(length(text) AS DOUBLE) - (len(string_split(text, ' ')) - 1.0)) / len(string_split(text, ' ')) >= 3
                                     AND (CAST(length(text) AS DOUBLE) - (len(string_split(text, ' ')) - 1.0)) / len(string_split(text, ' ')) <= 10
                                   THEN 1.0 ELSE 0.0 END) * 0.2
                           + least(CAST(${dkHits("en")} AS DOUBLE) / len(string_split(text, ' ')) * 10.0, 1.0) * 0.3) * 1000000 + 0.5) / 1000000 AS q
                   FROM documents),
             j AS (SELECT cl.cluster_id, cl.doc_id, q.q,
                          row_number() OVER (PARTITION BY cluster_id
                                             ORDER BY q.q DESC, cl.doc_id) AS rn,
                          count(*) OVER (PARTITION BY cluster_id) AS cnt,
                          max(q.q) OVER (PARTITION BY cluster_id) AS mq
                   FROM cl JOIN q USING (doc_id))
        SELECT cluster_id, cnt AS n_members, doc_id AS kept_doc,
               mq AS best_quality
        FROM j WHERE rn = 1"""),
      headline = true),

    "dedup_minhash_lsh" -> QueryDef(
      // RefinedWeb/C4-style document dedup: minhash over word 5-grams,
      // jaccard ≥ 0.8 — word grams keep candidate density sane on corpora
      // with heavy shared vocabulary (char shingles degenerate to ~all-pairs).
      // GATE (the q_sketch pattern): the LSH pipeline runs over the FULL
      // corpus; an exact word-5-gram Jaccard pass over the bounded doc_id
      // slice is the in-plan ground truth, and the output asserts per-doc
      // recall — every exact ≥0.8 pair in the slice must be reported by LSH.
      // Deterministic (seeded hash params), so the booleans are stable.
      // Precision is structural: the LSH path exact-verifies candidates.
      // The recall assertion covers pairs with exact Jaccard ≥ 0.85 — a pair
      // AT the 0.8 threshold misses all 8 bands with ~23% probability by
      // design (1-(1-0.8^8)^8), so demanding it would gate on a coin flip if
      // the corpus ever grows such a pair; at 0.85 the miss rate is ~4% per
      // pair and every observed near-dup in the fixtures sits ≥ 0.95 (misses
      // < 1e-3). Borderline 0.80-0.85 pairs are excused, not required.
      (s, dir) => {
        val docs  = t(s, dir, "documents")
        val bound = 300L
        val lsh = DedupFunctions.minHashNearDups(docs, "doc_id", "text",
          numHashes = 64, bands = 8, threshold = 0.8, wordGrams = 5)
        val exact = DedupFunctions.exactJaccardPairs(
          docs.filter(col("doc_id") < bound).select("doc_id", "text"),
          "doc_id", "text", wordGrams = 5, threshold = 0.8)
        val missedDocs = exact
          .join(lsh.select(col("id_a"), col("id_b"), lit(1).as("f")),
            Seq("id_a", "id_b"), "left_outer")
          .filter(col("f").isNull && col("jaccard") >= 0.85)
          .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
          .distinct()
        docs.filter(col("doc_id") < bound).select("doc_id")
          .join(missedDocs.withColumn("missed", lit(true)), Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("missed").isNull.as("recall_ok"))
      },
      Some("SELECT doc_id, TRUE AS recall_ok FROM documents WHERE doc_id < 300"),
      headline = true),

    "dedup_simhash" -> QueryDef(
      // maxHamming=3 is the bound the 4×16-bit chunk prefilter is SOUND for
      // (pigeonhole: distance ≤ 3 ⇒ ≥ 1 chunk agrees).
      // GATE: the chunked pipeline runs over the FULL corpus; a brute-force
      // all-pairs Hamming pass over the bounded doc_id slice is the in-plan
      // ground truth. Per doc, the chunk-prefilter pair set restricted to the
      // slice must EQUAL the exact pair set (the prefilter is provably
      // complete for ≤3, so any difference is a bug — this pins it).
      (s, dir) => {
        val docs  = t(s, dir, "documents")
        val bound = 300L
        val cand = DedupFunctions.simHashNearDups(docs, "doc_id", "text", maxHamming = 3)
          .filter(col("id_a") < bound && col("id_b") < bound)
          .select(col("id_a"), col("id_b"), lit(1).as("c"))
        val sliceHash = DedupFunctions.simHash(
          docs.filter(col("doc_id") < bound), "doc_id", "text")
        val exact = sliceHash.as("a")
          .join(sliceHash.as("b"), col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
          .filter(col("hamming") <= 3)
          .select(col("id_a"), col("id_b"), lit(1).as("e"))
        val disagreeing = cand.join(exact, Seq("id_a", "id_b"), "full_outer")
          .filter(col("c").isNull || col("e").isNull)
          .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
          .distinct()
        docs.filter(col("doc_id") < bound).select("doc_id")
          .join(disagreeing.withColumn("bad", lit(true)), Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("bad").isNull.as("prefilter_exact"))
      },
      Some("SELECT doc_id, TRUE AS prefilter_exact FROM documents WHERE doc_id < 300")),

    // ---- training-data extensions: similarity search ----------------------

    "sim_cosine_topk" -> QueryDef(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        SimilarityFunctions.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
            "vec_id", "embedding", 10)
          .withColumn("rank", col("rank").cast("bigint"))
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
             sc AS (SELECT query_id, neighbor_id,
                           round(list_inner_product(qv, cv) /
                                 (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
                                 6) AS cos
                    FROM q, c WHERE query_id <> neighbor_id)
        SELECT query_id, neighbor_id, cos, rank FROM
          (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM sc) WHERE rank <= 10"""),
      headline = true),

    "sim_ann_lsh" -> QueryDef(
      // OR-amplified sign-LSH ANN (6 planes × 12 tables ⇒ candidates ≈ 19% of
      // the corpus per query).
      // GATE: recall@10 vs the in-plan brute-force exact top-k. The corpus is
      // synthetic near-orthogonal noise — the hardest case for sign-LSH — so
      // the pinned floor is modest: measured per-query recall is 0.3–0.7 at
      // sf0.01 and 0.2–0.9 at sf0.1 (deterministic, seeded); the gate asserts
      // ≥ 0.15 for every query, catching any regression to the
      // single-table/low-recall shape (which measured 0.0 on some queries).
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q   = emb.filter(col("vec_id") < 5)
        val ann = SimilarityFunctions.lshTopK(emb, q, "vec_id", "embedding",
          k = 10, nPlanes = 6, nTables = 12)
        val exact = SimilarityFunctions.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        SimilarityFunctions.recallAtK(exact, ann)
          .select(col("query_id"), (col("recall") >= 0.15).as("recall_ok"))
      },
      Some("SELECT vec_id AS query_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 5")),

    "sim_ann_lsh_clustered" -> QueryDef(
      // the HAPPY-PATH ANN gate, complementing sim_ann_lsh's worst case: the
      // corpus is deterministically re-clustered in-plan (member = centroid
      // of id%8 + 0.15 × own embedding — SimilarityFunctions.clusteredCorpus)
      // so same-cluster cosines sit near 1/(1+0.15²) ≈ 0.98 and sign-LSH
      // buckets align with cluster structure. GATE: recall@10 ≥ 0.8 per
      // query vs in-plan brute force — measured 1.00 for ALL 40 queries at
      // sf0.01 AND sf0.1 (the corpus is a bounded id slice, so the gate is
      // SF-invariant; thresholds calibrated with tools/GateProbe).
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val corpus = SimilarityFunctions.clusteredCorpus(
          emb, "vec_id", "embedding", nClusters = 8, nMembers = 400, noiseScale = 0.15)
        val q     = corpus.filter(col("vec_id") < 8 + 40)
        val ann   = SimilarityFunctions.lshTopK(corpus, q, "vec_id", "embedding",
          k = 10, nPlanes = 6, nTables = 8)
        val exact = SimilarityFunctions.bruteForceTopK(corpus, q, "vec_id", "embedding", 10)
        SimilarityFunctions.recallAtK(exact, ann)
          .select(col("query_id"), (col("recall") >= 0.8).as("recall_ok"))
      },
      Some("SELECT vec_id AS query_id, TRUE AS recall_ok FROM embeddings " +
        "WHERE vec_id >= 8 AND vec_id < 48")),

    "sim_mrl_topk" -> QueryDef(
      // Matryoshka truncation ANN on the clustered happy-path corpus:
      // shortlist on the 16-dim prefix (4× cheaper scoring), exact re-rank
      // of 50 candidates on the full 64 dims. GATE: recall@10 ≥ 0.8 per
      // query vs in-plan brute force (centroid structure survives any
      // prefix, so the truncated pass keeps same-cluster candidates)
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val corpus = SimilarityFunctions.clusteredCorpus(
          emb, "vec_id", "embedding", nClusters = 8, nMembers = 400, noiseScale = 0.15)
        val q     = corpus.filter(col("vec_id") < 8 + 40)
        val ann   = SimilarityFunctions.mrlTopK(corpus, q, "vec_id", "embedding",
          prefixDim = 16, shortlist = 50, k = 10)
        val exact = SimilarityFunctions.bruteForceTopK(corpus, q, "vec_id", "embedding", 10)
        SimilarityFunctions.recallAtK(exact, ann)
          .select(col("query_id"), (col("recall") >= 0.8).as("recall_ok"))
      },
      Some("SELECT vec_id AS query_id, TRUE AS recall_ok FROM embeddings " +
        "WHERE vec_id >= 8 AND vec_id < 48")),

    "sim_ivf_topk" -> QueryDef(
      // IVF scale path: 16 coarse cells from 2 distributed Lloyd iterations
      // (deterministic leading-vector init), 2-probe, exact ranking within
      // cells. GATE: recall@10 vs the in-plan brute-force exact top-k —
      // measured floor 0.7 at sf0.01 (GateProbe, deterministic) and 1.0 at
      // sf0.1; gate ≥ 0.6 = floor minus one hit at k=10, so a real routing
      // regression still fails loudly while a benign tie-order/JVM-upgrade
      // perturbation that sheds a single hit on the floor query does not.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q   = emb.filter(col("vec_id") < 5)
        // index-build memoized per SF dir: the quantizer is part of the IVF
        // INDEX, built once — not recomputed per query
        val centroids = SimilarityFunctions.cachedKmeansCentroids(
          emb, "embedding", "vec_id", k = 16, iters = 2, cacheKey = dir)
        val ivf = SimilarityFunctions.ivfTopK(emb, q, "vec_id", "embedding",
          k = 10, centroids, nProbe = 2)
        val exact = SimilarityFunctions.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        SimilarityFunctions.recallAtK(exact, ivf)
          .select(col("query_id"), (col("recall") >= 0.6).as("recall_ok"))
      },
      Some("SELECT vec_id AS query_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 5")),

    "sim_pq_topk" -> QueryDef(
      // product quantization — the COMPRESSED 100 TB ANN path: 8 subspaces
      // × 16 centroids (4-bit codes, 32× smaller than the float vectors),
      // ADC scoring via a broadcast Q×m×k lookup table, then exact re-rank
      // of the 200-candidate shortlist (full-precision reads touch
      // Q×shortlist rows, never the corpus). GATE: recall@10 vs the exact
      // in-plan top-k — measured ≥0.7 at every SF with shortlist=200 on
      // this unstructured corpus (PQ's distortion worst case); gate ≥ 0.5.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q   = emb.filter(col("vec_id") < 5)
        val cb = SimilarityFunctions.cachedPqTrain(
          emb, "embedding", "vec_id", m = 8, k = 16, dim = 64, cacheKey = dir)
        val codes = SimilarityFunctions.pqEncode(emb, "embedding", "vec_id", cb)
        val pq = SimilarityFunctions.pqRerankTopK(
          codes, emb, q, "vec_id", "embedding", k = 10, shortlist = 200, cb)
        val exact = SimilarityFunctions.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        SimilarityFunctions.recallAtK(exact, pq)
          .select(col("query_id"), (col("recall") >= 0.5).as("recall_ok"))
      },
      Some("SELECT vec_id AS query_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 5")),

    "sim_ivfpq_topk" -> QueryDef(
      // the PRODUCTION ANN composition — IVF coarse routing (16 k-means
      // cells, 3-probe) × PQ-ADC shortlist (8×16 codebook, 200 candidates
      // scored from codes only inside the probed cells) × exact cosine
      // re-rank. Both index artifacts (centroids, codebook) build once and
      // persist via IndexStore; search touches ≈ 3/16 of the corpus as
      // codes and Q×200 full-precision rows. GATE: recall@10 vs the
      // in-plan exact top-k — measured ≥ 0.8 per query at sf0.01 AND sf0.1
      // (GateProbe, deterministic); gate ≥ 0.7 (floor minus one-hit margin).
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val q   = emb.filter(col("vec_id") < 5)
        val centroids = SimilarityFunctions.cachedKmeansCentroids(
          emb, "embedding", "vec_id", k = 16, iters = 2, cacheKey = dir)
        val cb = SimilarityFunctions.cachedPqTrain(
          emb, "embedding", "vec_id", m = 8, k = 16, dim = 64, cacheKey = dir)
        val ann = SimilarityFunctions.ivfpqTopK(emb, q, "vec_id", "embedding",
          k = 10, centroids, cb, nProbe = 3, shortlist = 200)
        val exact = SimilarityFunctions.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        SimilarityFunctions.recallAtK(exact, ann)
          .select(col("query_id"), (col("recall") >= 0.7).as("recall_ok"))
      },
      Some("SELECT vec_id AS query_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 5")),

    "embed_label_centroids" -> QueryDef(
      // element-wise label centroids via posexplode + partial-agg mean —
      // the distributed vector aggregation shape (no driver-side vectors)
      (s, dir) => t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("v").cast("double")), 6).as("centroid_v"),
          count(lit(1)).as("n_vecs"))
        .filter(col("pos") < 8),
      Some("""
        SELECT label, CAST(t.pos AS INT) AS pos,
               round(avg(CAST(embedding[CAST(t.pos AS INT) + 1] AS DOUBLE)), 6) AS centroid_v,
               count(*) AS n_vecs
        FROM embeddings, range(8) AS t(pos)
        GROUP BY 1, 2""")),

    "embed_kmeans" -> QueryDef(
      // spherical k-means Lloyd trace (SimilarityFunctions.kmeansTrace):
      // k=8, 3 update rounds from the leading-k init, inertia measured
      // before the first and after every round — each pass distributed, the
      // driver holds only the k×dim matrix and the scalar inertias. The
      // gate is Lloyd's invariant: assignment AND normalized-mean update
      // both improve the cosine objective, so the inertia trace must be
      // non-increasing (mono_ok, with an n-scaled FP slack) and strictly
      // better at the end (improved_ok) — a wrong mean or assignment
      // lowering breaks monotonicity, so this is not vacuous. n oracle-exact.
      (s, dir) => {
        val (n, in) = SimilarityFunctions.kmeansTrace(
          t(s, dir, "embeddings"), "embedding", "vec_id", k = 8, iters = 3)
        s.range(1).select(
          lit(n).as("n"), lit(8L).as("k"), lit(3L).as("iters"),
          lit(in.zip(in.tail).forall { case (a, b) => b <= a + 1e-6 * n })
            .as("mono_ok"),
          lit(in.last < in.head).as("improved_ok"))
      },
      Some("""
        SELECT count(*) AS n, CAST(8 AS BIGINT) AS k, CAST(3 AS BIGINT) AS iters,
               TRUE AS mono_ok, TRUE AS improved_ok
        FROM embeddings""")),

    "embed_pca" -> QueryDef(
      // top principal direction by power iteration (SimilarityFunctions
      // .pcaTrace): covariance NEVER materializes — each round is one
      // distributed pass (s = (x−μ)·v per row, Σ s·(x−μ) per dimension),
      // driver holds only μ/v/scalars. Gate: the Rayleigh quotient of
      // power iterates on a PSD matrix is monotonically non-decreasing
      // (mono_ok, n-free FP slack) and must strictly improve end-to-end
      // on non-isotropic data (improved_ok); n and dim oracle-exact.
      (s, dir) => {
        val (n, dim, rq) = SimilarityFunctions.pcaTrace(
          t(s, dir, "embeddings"), "embedding", iters = 3)
        s.range(1).select(
          lit(n).as("n"), lit(dim.toLong).as("dim"), lit(3L).as("iters"),
          lit(rq.zip(rq.tail).forall { case (a, b) => b >= a - 1e-9 }).as("mono_ok"),
          lit(rq.last > rq.head).as("improved_ok"))
      },
      Some("""
        SELECT count(*) AS n, CAST(64 AS BIGINT) AS dim,
               CAST(3 AS BIGINT) AS iters,
               TRUE AS mono_ok, TRUE AS improved_ok
        FROM embeddings""")),

    "sim_cosine_neardup" -> QueryDef(
      // threshold 0.45 sits just under the corpus's max pairwise cosine
      // (~0.51 at sf0.01) so the result is non-empty — a 0.9 threshold finds
      // nothing in this synthetic data and would be a vacuous check.
      // GATE vs the exact all-pairs cosine set on the bounded vec_id slice:
      //   containment_ok — every LSH pair inside the slice appears in the
      //     exact ≥threshold set (strict: the pipeline exact-verifies);
      //   recall_ok — ≥ half the exact pairs found (the exact pairs here sit
      //     BARELY over threshold — cos 0.45–0.48 — where 4-plane OR-LSH
      //     collision is genuinely probabilistic; measured 2/3 found at
      //     sf0.01, 3/4 at sf0.1 with 10 tables, deterministic seeds).
      // n_exact_pairs is oracle-checked exactly, keeping the row non-vacuous.
      (s, dir) => {
        val emb   = t(s, dir, "embeddings")
        val bound = 300L
        val lsh = SimilarityFunctions.cosineNearDups(emb, "vec_id", "embedding",
          threshold = 0.45, nPlanes = 4, nTables = 10)
        val slice = emb.filter(col("vec_id") < bound)
          .select(col("vec_id").as("id"), col("embedding").as("v"))
        // keep a LOOSE superset (threshold − 1e-4) with a strict flag: the
        // LSH side filters on round(normalized-dot, 6), so a pair a hair
        // under 0.45 by the raw formula can legitimately be reported —
        // containment checks against the loose set, count/recall against the
        // strict (DuckDB-matching) set
        val pairsAll = slice.as("a").join(slice.as("b"), col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            SimilarityFunctions.cosine(col("a.v"), col("b.v")).as("cos"))
          .filter(col("cos") >= 0.45 - 1e-4)
          .select(col("id_a"), col("id_b"), (col("cos") >= 0.45).as("strict"))
        val lshSlice = lsh.filter(col("id_a") < bound && col("id_b") < bound)
          .select(col("id_a"), col("id_b"), lit(1).as("f"))
        pairsAll.join(lshSlice, Seq("id_a", "id_b"), "full_outer")
          .agg(
            // coalesce: an empty join (no near-dups at this SF) must yield
            // (0, TRUE, TRUE) like the oracle's count(*)=0 row, not NULLs
            coalesce(sum(when(col("strict"), 1L).otherwise(0L)), lit(0L))
              .cast("bigint").as("n_exact_pairs"),
            (coalesce(sum(when(col("strict").isNull, 1).otherwise(0)), lit(0)) === 0)
              .as("containment_ok"),
            (coalesce(sum(when(col("strict") && col("f").isNotNull, 1).otherwise(0)), lit(0))
              >= coalesce(sum(when(col("strict"), 1).otherwise(0)), lit(0)) / 2.0)
              .as("recall_ok"))
      },
      Some("""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 300)
        SELECT count(*) AS n_exact_pairs, TRUE AS containment_ok, TRUE AS recall_ok
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_inner_product(a.e, b.e) /
              (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))) >= 0.45""")),

    // ---- training-data extensions: text analysis --------------------------

    "text_token_stats" -> QueryDef(
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens"),
        length(col("text")).cast("bigint").as("n_chars"),
        TextFunctions.distinctTokenCount(col("text")).cast("bigint").as("n_distinct"),
        round(length(col("text")).cast("double") / TextFunctions.tokenCount(col("text")), 6)
          .as("chars_per_token")),
      Some("""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) AS n_chars,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS chars_per_token
        FROM documents""")),

    "text_repetition" -> QueryDef(
      // distinct-token ratio: the standard cheap repetition/boilerplate
      // signal in pretraining curation. Pure array expressions — one scan,
      // zero shuffle at any corpus size.
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        round(TextFunctions.repetitionRatio(col("text")), 6).as("rep_ratio"),
        (TextFunctions.repetitionRatio(col("text")) < 0.5).as("is_repetitive")),
      Some("""
        SELECT doc_id,
               round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS rep_ratio,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) < 0.5 AS is_repetitive
        FROM documents""")),

    "curate_pii_scrub" -> QueryDef(
      // PII detection + masking. The corpus is synthetic (no real PII), so
      // emails/phones are INJECTED deterministically in-plan — identical
      // construction in the oracle — then detected (regexp_extract_all
      // count) and masked (global regexp_replace). One scan, zero shuffle;
      // richer patterns plug into the same two expressions at 100 TB.
      (s, dir) => {
        val injected = t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" reach me at user"),
              col("doc_id").cast("string"), lit("@example.com")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" call 555-867-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("text")).as("line"))
        injected.select(
          col("doc_id"),
          TextFunctions.piiCount(col("line"), TextFunctions.EmailPattern)
            .cast("bigint").as("n_emails"),
          TextFunctions.piiCount(col("line"), TextFunctions.PhonePattern)
            .cast("bigint").as("n_phones"),
          length(TextFunctions.piiScrub(
            TextFunctions.piiScrub(col("line"), TextFunctions.EmailPattern, "<EMAIL>"),
            TextFunctions.PhonePattern, "<PHONE>")).cast("bigint").as("scrubbed_len"))
      },
      Some("""
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                        THEN text || ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com'
                      WHEN doc_id % 3 = 1
                        THEN text || ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE text END AS line
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(line, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
               len(regexp_extract_all(line, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS n_phones,
               length(regexp_replace(
                 regexp_replace(line, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g')) AS scrubbed_len
        FROM base""")),

    "curate_pii_redact_full" -> QueryDef(
      // Luhn-gated full PII redaction — the deep training-data scrub pass
      // (curate_pii_scrub's email/phone counting sibling goes the last
      // mile here): email → SSN → phone → IPv4 by shared-dialect regex
      // (Java/RE2 common subset, global replace in both engines), then
      // credit-card candidates (13–19 digit runs) validated by an in-plan
      // Luhn fold (double every 2nd digit from the right, fold >9 to −9,
      // sum % 10) and replaced only when the checksum holds — the invalid
      // twin number survives verbatim, pinning the gate both ways. The
      // corpus has no real PII, so rows synthesize deterministic PII from
      // doc_id (identical arithmetic in the oracle); md5 of the redacted
      // text makes the compare byte-exact. At scale this is one narrow
      // projection pass — no shuffle, no UDF; the HOF fold touches only
      // the few digit-run candidates per row.
      (s, dir) => {
        val f = t(s, dir, "documents").where(col("doc_id") < 40)
          .select(col("doc_id"), concat(
            substring(col("text"), 1, 40), lit(" reach user"),
            col("doc_id").cast("string"),
            lit("@mail.example.org call 415-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
            lit(" ssn 078-05-1120 ip 10."),
            pmod(col("doc_id"), lit(250)).cast("string"),
            lit(".3.77 card 4111111111111111 bad 4111111111111112 end")).as("t0"))
        val luhnFold =
          """aggregate(regexp_extract_all(t4, '\\d{13,19}', 0), t4, (acc, c) ->
            | CASE WHEN aggregate(sequence(1, length(c)), 0, (sm, i) ->
            |   sm + CASE WHEN i % 2 = 0
            |        THEN CASE WHEN 2 * CAST(substr(reverse(c), i, 1) AS INT) > 9
            |             THEN 2 * CAST(substr(reverse(c), i, 1) AS INT) - 9
            |             ELSE 2 * CAST(substr(reverse(c), i, 1) AS INT) END
            |        ELSE CAST(substr(reverse(c), i, 1) AS INT) END) % 10 = 0
            | THEN replace(acc, c, '<CC>') ELSE acc END)""".stripMargin
        f.withColumn("t1", regexp_replace(col("t0"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"))
          .withColumn("t2", regexp_replace(col("t1"), "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"))
          .withColumn("t3", regexp_replace(col("t2"), "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"))
          .withColumn("t4", regexp_replace(col("t3"), "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"))
          .withColumn("red", expr(luhnFold))
          .select(col("doc_id"), md5(col("red")).as("h"),
            length(col("red")).cast("long").as("len"))
          .orderBy("doc_id")
      },
      Some("""
        WITH f AS (
          SELECT doc_id,
            substr(text, 1, 40) || ' reach user' || doc_id || '@mail.example.org call 415-555-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ssn 078-05-1120 ip 10.' ||
            (doc_id % 250) || '.3.77 card 4111111111111111 bad 4111111111111112 end' AS t
          FROM documents WHERE doc_id < 40),
        r1 AS (SELECT doc_id,
          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t FROM f),
        r2 AS (SELECT doc_id, regexp_replace(t, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t FROM r1),
        r3 AS (SELECT doc_id, regexp_replace(t, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS t FROM r2),
        r4 AS (SELECT doc_id, regexp_replace(t, '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t FROM r3),
        r5 AS (SELECT doc_id,
          list_reduce(list_concat([t], regexp_extract_all(t, '\d{13,19}')),
            (acc, c) -> CASE WHEN list_sum(list_transform(generate_series(1, length(c)),
                i -> CASE WHEN i % 2 = 0
                     THEN CASE WHEN 2 * CAST(substr(reverse(c), i, 1) AS INT) > 9
                          THEN 2 * CAST(substr(reverse(c), i, 1) AS INT) - 9
                          ELSE 2 * CAST(substr(reverse(c), i, 1) AS INT) END
                     ELSE CAST(substr(reverse(c), i, 1) AS INT) END)) % 10 = 0
              THEN replace(acc, c, '<CC>') ELSE acc END) AS t FROM r4)
        SELECT doc_id, md5(t) AS h, CAST(length(t) AS BIGINT) AS len
        FROM r5 ORDER BY doc_id""")),

    "text_langid" -> QueryDef(
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.langId(col("text")).as("predicted_lang"),
        TextFunctions.langHits(col("text"), "en").cast("bigint").as("en_hits"),
        TextFunctions.langHits(col("text"), "de").cast("bigint").as("de_hits")),
      Some(s"""
        SELECT doc_id,
               CASE WHEN ${dkHits("en")} + ${dkHits("de")} + ${dkHits("es")} + ${dkHits("fr")} = 0 THEN 'und'
                    WHEN ${dkHits("en")} >= ${dkHits("de")} AND ${dkHits("en")} >= ${dkHits("es")}
                         AND ${dkHits("en")} >= ${dkHits("fr")} THEN 'en'
                    WHEN ${dkHits("de")} >= ${dkHits("es")} AND ${dkHits("de")} >= ${dkHits("fr")} THEN 'de'
                    WHEN ${dkHits("es")} >= ${dkHits("fr")} THEN 'es'
                    ELSE 'fr' END AS predicted_lang,
               CAST(${dkHits("en")} AS BIGINT) AS en_hits,
               CAST(${dkHits("de")} AS BIGINT) AS de_hits
        FROM documents""")),

    "text_chunking" -> QueryDef(
      // overlapping fixed-stride chunking (width 200, stride 150) — the
      // training-data chunk lattice. Expression-only (chunkStarts sequence +
      // posexplode + substr), so chunking N docs is one codegen'd map with
      // ZERO shuffles at any scale; chunks surface as md5 + length, not
      // text, keeping the dump compact while content-verifying every byte.
      (s, dir) => {
        val stride = 150; val width = 200
        t(s, dir, "documents")
          .select(col("doc_id"), col("text").as("__txt"),
            posexplode(graft.functions.TextFunctions.chunkStarts(col("text"), stride))
              .as(Seq("chunk_ix", "chunk_start")))
          .select(col("doc_id"), col("chunk_ix").cast("long"),
            col("chunk_start").cast("long"),
            length(expr(s"substr(__txt, chunk_start + 1, $width)")).cast("long")
              .as("chunk_len"),
            md5(expr(s"substr(__txt, chunk_start + 1, $width)")).as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_ix"))
      },
      Some("""
        SELECT doc_id, CAST(s // 150 AS BIGINT) AS chunk_ix,
               CAST(s AS BIGINT) AS chunk_start,
               CAST(length(substr(text, CAST(s AS INT) + 1, 200)) AS BIGINT) AS chunk_len,
               md5(substr(text, CAST(s AS INT) + 1, 200)) AS chunk_md5
        FROM (SELECT doc_id, text, unnest(range(0, length(text), 150)) AS s
              FROM documents WHERE length(text) > 0)
        ORDER BY doc_id, chunk_ix""")),

    "text_fingerprint_rolling" -> QueryDef(
      // native codegen'd Catalyst expression (RollingHash). The hash values
      // are engine-specific (no SQL twin), so the GATE asserts the
      // fingerprint-induced partition of the corpus EQUALS the md5-canonical
      // partition (dedup_fingerprint's key — SQL-reproducible):
      //   fp_consistent — every doc in an md5 group has the same rolling fp
      //     (trivially true unless the expression is non-deterministic);
      //   fp_injective — no rolling fp spans two different md5 groups
      //     (a rolling-hash collision would break this).
      // Group stats (n_copies, keeper) are oracle-checked exactly.
      (s, dir) => {
        val canon = trim(regexp_replace(lower(col("text")), "\\s+", " "))
        val base = t(s, dir, "documents").select(
          col("doc_id"),
          md5(canon).as("canon_hash"),
          graft.functions.expressions.RollingHash.rollingHash(canon).as("fp"))
        val perGroup = base.groupBy("canon_hash").agg(
          count(lit(1)).as("n_copies"),
          min(col("doc_id")).as("keeper"),
          countDistinct(col("fp")).as("nfp"),
          min(col("fp")).as("fp"))
        val perFp = base.groupBy("fp")
          .agg(countDistinct(col("canon_hash")).as("ncanon"))
        perGroup.join(perFp, Seq("fp"))
          .select(col("canon_hash"), col("n_copies"), col("keeper"),
            (col("nfp") === 1).as("fp_consistent"),
            (col("ncanon") === 1).as("fp_injective"))
      },
      Some("""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS canon_hash,
               count(*) AS n_copies, min(doc_id) AS keeper,
               TRUE AS fp_consistent, TRUE AS fp_injective
        FROM documents GROUP BY 1""")),

    "text_quality" -> QueryDef(
      (s, dir) => t(s, dir, "documents").select(
        col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality")),
      Some(s"""
        SELECT doc_id,
               floor(((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' '))) * 0.5
                     + (CASE WHEN (CAST(length(text) AS DOUBLE) - (len(string_split(text, ' ')) - 1.0)) / len(string_split(text, ' ')) >= 3
                               AND (CAST(length(text) AS DOUBLE) - (len(string_split(text, ' ')) - 1.0)) / len(string_split(text, ' ')) <= 10
                             THEN 1.0 ELSE 0.0 END) * 0.2
                     + least(CAST(${dkHits("en")} AS DOUBLE) / len(string_split(text, ' ')) * 10.0, 1.0) * 0.3) * 1000000 + 0.5) / 1000000 AS quality
        FROM documents""")),

    // ---- training-data extensions: corpus curation -------------------------
    // The C4/RefinedWeb-style selection steps between dedup and training:
    // per-domain quota capping, deterministic split assignment, benchmark
    // contamination detection, and PII-ish token scrubbing. All exact,
    // DuckDB-oracled, and one-shuffle shapes.

    "curate_source_cap" -> QueryDef(
      // per-domain quota (cap docs per source, smallest doc_id wins — the
      // anti-domination step web corpora apply before training). One shuffle
      // on source; a pathologically hot domain concentrates its rows on one
      // task during ranking — at that scale pre-filter with an approximate
      // per-domain count and only rank domains above quota (the filter is
      // this same plan shape), or salt the rank's first phase.
      (s, dir) => {
        val cap = 15
        val w = Window.partitionBy("source").orderBy("doc_id")
        t(s, dir, "documents")
          .withColumn("rk", row_number().over(w))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_total"),
            sum(when(col("rk") <= cap, 1L).otherwise(0L)).cast("bigint").as("n_kept"),
            max(when(col("rk") <= cap, col("doc_id"))).as("max_kept_id"))
      },
      Some("""
        SELECT source, count(*) AS n_total,
               CAST(SUM(CASE WHEN rk <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               max(CASE WHEN rk <= 15 THEN doc_id END) AS max_kept_id
        FROM (SELECT source, doc_id,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
              FROM documents)
        GROUP BY 1""")),

    "curate_split_assign" -> QueryDef(
      // deterministic train/val/test assignment by multiplicative bucket
      // hash of the stable doc id — reproducible across engines/runs/
      // partitionings (the property a random() split lacks), pure per-row
      // arithmetic, zero shuffle before the 3-group count. 761 ≡ the Knuth
      // multiplier 2654435761 mod 1000, so buckets equal the classic form
      // without its ANSI overflow at ids past ~3.5e9 (see bucketHash).
      (s, dir) => t(s, dir, "documents")
        .withColumn("bucket", bucketHash(col("doc_id"), m = 1000L, mult = 761L))
        .withColumn("split",
          when(col("bucket") < 980, "train").when(col("bucket") < 990, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id")),
      Some("""
        SELECT CASE WHEN ((doc_id % 1000) * 761) % 1000 < 980 THEN 'train'
                    WHEN ((doc_id % 1000) * 761) % 1000 < 990 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
        FROM documents GROUP BY 1""")),

    "curate_contamination" -> QueryDef(
      // benchmark-contamination detection: corpus docs sharing >= 3 distinct
      // word-8-grams with any benchmark doc (here: doc_id < 20 stands in for
      // the benchmark set). Grams join on xxhash64 longs; the benchmark side
      // is tiny at any corpus scale, so candidate volume is bounded by
      // benchmark grams, never corpus². The 8-gram order keeps common-phrase
      // noise out (cf. the 10-gram/13-gram choices in public decontamination
      // write-ups).
      (s, dir) => {
        val grams = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("tok"))
          .select(col("doc_id"),
            explode(array_distinct(TextFunctions.wordNGrams(col("tok"), 8))).as("g"))
          .select(col("doc_id"), xxhash64(col("g")).as("g"))
        val bench  = grams.filter(col("doc_id") < 20).select(col("doc_id").as("bench_id"), col("g"))
        val corpus = grams.filter(col("doc_id") >= 20).select(col("doc_id").as("corpus_id"), col("g"))
        // Bloom prefilter: the benchmark side is FIXED-size at any corpus
        // scale, so its gram hashes fold into a broadcast-sized bloom probed
        // by a codegen'd expression BEFORE the shuffle — corpus-side shuffle
        // volume drops to ~matches + 1% FPR of the explode output. False
        // positives are removed by the exact join that follows; false
        // negatives cannot occur, so the result is bit-identical. Capacity
        // is a static bound (bench docs × grams/doc) rather than a count()
        // job — an overestimate only wastes bloom bits — and the built
        // filter memoizes per dataset so plan-only consumers (PlanDump,
        // PlanSpec) trigger the one build job at most once per JVM.
        val bloomBytes = contaminationBloomCache.computeIfAbsent(dir, _ =>
          BloomContains.serialize(bench.stat.bloomFilter("g", 20L * 1024, 0.01)))
        val pre = corpus.filter(
          BloomContains.bloomContains(lit(bloomBytes), col("g")))
        pre.join(bench, Seq("g"))
          .groupBy("corpus_id", "bench_id")
          .agg(count(lit(1)).as("n_shared_grams"))
          .filter(col("n_shared_grams") >= 3)
      },
      Some("""
        WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             g AS (SELECT DISTINCT doc_id,
                     unnest(list_transform(range(1, greatest(len(tk) - 7, 0) + 1),
                            i -> array_to_string(list_slice(tk, CAST(i AS INT), CAST(i AS INT) + 7), ' '))) AS gm
                   FROM tok)
        SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, count(*) AS n_shared_grams
        FROM (SELECT doc_id, gm FROM g WHERE doc_id >= 20) c
        JOIN (SELECT doc_id, gm FROM g WHERE doc_id < 20) b USING (gm)
        GROUP BY 1, 2 HAVING count(*) >= 3""")),

    "curate_stratified_sample" -> QueryDef(
      // UNIFORM-RATE deterministic sampling with per-class accounting: every
      // doc whose hash bucket falls under the quota (~20.6%) is kept, and
      // the census reports kept/total per language stratum. NOT class
      // balancing — kept counts inherit the input skew; balancing would set
      // a per-class quota on the same bucket hash (vary the `< quota` bound
      // by stratum). Hash-based (not rand()): the SAME docs are kept on
      // every run, engine, and partitioning — resumable sampling. Zero
      // shuffle before the per-class count.
      (s, dir) => t(s, dir, "documents")
        .withColumn("keep", bucketHash(col("doc_id"), m = 97L, mult = 53L) < 20L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).cast("bigint").as("n_kept")),
      Some("""
        SELECT lang, count(*) AS n_total,
               CAST(SUM(CASE WHEN ((doc_id % 97) * 53) % 97 < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM documents GROUP BY 1""")),

    "curate_class_balance" -> QueryDef(
      // TRUE class balancing (the complement of the uniform-rate sampler
      // above): every language keeps at most K docs, selected by hash RANK —
      // deterministic like all hash selection here, but the quota is
      // per-class, so skewed classes equalize (en 218→50 while fr 64→50 at
      // sf0.01). One shuffle on the class key; rank-per-class is the same
      // window shape (and the same hot-class caveat) as curate_source_cap.
      (s, dir) => {
        val k = 50
        val w = Window.partitionBy("lang")
          .orderBy(bucketHash(col("doc_id"), m = 97L, mult = 53L), col("doc_id"))
        t(s, dir, "documents")
          .withColumn("rk", row_number().over(w))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("rk") <= k, 1L).otherwise(0L)).cast("bigint").as("n_kept"))
      },
      Some("""
        SELECT lang, count(*) AS n_total,
               CAST(SUM(CASE WHEN rk <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM (SELECT lang,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY ((doc_id % 97) * 53) % 97, doc_id) AS rk
              FROM documents)
        GROUP BY 1""")),

    "curate_quality_filter" -> QueryDef(
      // the C4-style keep/reject filter WITH rejection accounting: every doc
      // gets a verdict (first failing rule wins: too short → low lexical
      // diversity → kept), and the output is the per-verdict census a corpus
      // pipeline reports after each filter stage. Single scan, one tiny agg.
      (s, dir) => {
        val nTok = TextFunctions.tokenCount(col("text")).cast("double")
        val diversity = TextFunctions.distinctTokenCount(col("text")).cast("double") / nTok
        t(s, dir, "documents")
          .withColumn("verdict",
            when(nTok < 20, "too_short")
              .when(diversity < 0.4, "low_diversity")
              .otherwise("kept"))
          .groupBy("verdict")
          .agg(count(lit(1)).as("n_docs"))
      },
      Some("""
        SELECT CASE WHEN len(string_split(text, ' ')) < 20 THEN 'too_short'
                    WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                         / len(string_split(text, ' ')) < 0.4 THEN 'low_diversity'
                    ELSE 'kept' END AS verdict,
               count(*) AS n_docs
        FROM documents GROUP BY 1""")),

    "curate_pack" -> QueryDef(
      // sequence packing (concat-then-chunk): per source shard, documents in
      // stable doc_id order are laid head-to-tail and chunked at a 512-token
      // context boundary — each doc's bin is the chunk its FIRST token lands
      // in. The deterministic streaming-pack every LLM training pipeline
      // runs before batching; one shuffle on source, window arithmetic only.
      // A hot shard concentrates on one task at extreme scale — shard-split
      // upstream (the source column IS the parallelism unit by design).
      (s, dir) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "documents")
          .withColumn("n_tok", TextFunctions.tokenCount(col("text")).cast("long"))
          .withColumn("off", sum(col("n_tok")).over(w) - col("n_tok"))
          .withColumn("bin_id", expr("off div 512"))
          .groupBy("source", "bin_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("bigint").as("n_tokens"))
      },
      Some("""
        SELECT source, (off // 512) AS bin_id, count(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM (SELECT source, len(string_split(text, ' ')) AS n_tok,
                     CAST(sum(len(string_split(text, ' '))) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                          - len(string_split(text, ' ')) AS BIGINT) AS off
              FROM documents)
        GROUP BY 1, 2""")),

    "curate_scrub_numbers" -> QueryDef(
      // PII-ish scrubbing accounting over the event props (the digit-masking
      // shape; real pipelines swap the pattern for emails/phones/SSNs):
      // per event type, how many payloads carry digits and how many digit
      // chars masking removes. Zero shuffle before the small final agg;
      // replace-and-measure arithmetic is stated identically in the oracle.
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_props"),
          sum(when(col("props") =!= regexp_replace(col("props"), "\\d", ""), 1L)
            .otherwise(0L)).cast("bigint").as("n_with_digits"),
          sum(length(col("props")) - length(regexp_replace(col("props"), "\\d", "")))
            .cast("bigint").as("n_digit_chars")),
      Some("""
        SELECT event_type, count(*) AS n_props,
               CAST(SUM(CASE WHEN props <> regexp_replace(props, '\d', '', 'g') THEN 1 ELSE 0 END) AS BIGINT) AS n_with_digits,
               CAST(SUM(length(props) - length(regexp_replace(props, '\d', '', 'g'))) AS BIGINT) AS n_digit_chars
        FROM events GROUP BY 1""")),

    // ---- training-data extensions: multimodal columns ---------------------
    // Media corpus derived from `documents` (payload = UTF-8 text bytes, kind
    // = doc_id mod 3), so byte-level outputs of the mapPartitions plumbing are
    // reproducible in ANSI SQL — real oracles, not just row counts.

    "mm_decode_stats" -> QueryDef(
      (s, dir) => Multimodal.decode(
          Multimodal.corpusFromDocuments(t(s, dir, "documents")))
        .toDF()
        .groupBy("kind")
        .agg(
          count(lit(1)).as("n_media"),
          sum(col("n_bytes")).cast("bigint").as("total_bytes"),
          sum(when(col("ok"), 1L).otherwise(0L)).cast("bigint").as("n_ok")),
      Some("""
        SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               count(*) AS n_media,
               CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
               CAST(SUM(CASE WHEN strlen(text) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
        FROM documents GROUP BY 1""")),

    "mm_frame_stats" -> QueryDef(
      // video frame sampling: every-10th byte-range slices, ≤ 8 frames; the
      // slice arithmetic is closed-form, so frame counts and byte totals are
      // oracle-checked exactly
      (s, dir) => Multimodal.sampleFrames(
          Multimodal.corpusFromDocuments(t(s, dir, "documents")))
        .groupBy("media_id")
        .agg(
          count(lit(1)).cast("bigint").as("n_frames"),
          sum(length(col("frame_bytes"))).cast("bigint").as("frame_bytes_total")),
      Some("""
        WITH v AS (
          SELECT doc_id AS media_id, strlen(text) AS len,
                 greatest(strlen(text) // 80, 1) AS fs
          FROM documents WHERE doc_id % 3 = 2 AND strlen(text) > 0),
        f AS (
          SELECT media_id, len, fs,
                 least(8, (len + 10*fs - 1) // (10*fs)) AS nf
          FROM v)
        SELECT media_id,
               CAST(nf AS BIGINT) AS n_frames,
               CAST((nf - 1) * fs + least(fs, len - (nf - 1) * 10 * fs) AS BIGINT) AS frame_bytes_total
        FROM f""")),

    "mm_feature_l1" -> QueryDef(
      // feature extraction (byte-histogram stub behind the real batched
      // mapPartitions contract): the normalized histogram's L1 mass is 1 for
      // any non-empty payload — checked per kind against the oracle
      (s, dir) => {
        val corpus = Multimodal.corpusFromDocuments(t(s, dir, "documents"))
        val feats  = Multimodal.extractFeatures(corpus).toDF()
        val l1 = feats.select(col("media_id"),
          aggregate(col("features"), lit(0.0d), (acc, x) => acc + x.cast("double")).as("l1"))
        corpus.toDF().select(col("media_id"), col("kind"))
          .join(l1, Seq("media_id"))
          .filter(abs(col("l1") - 1.0d) < 0.001)
          .groupBy("kind")
          .agg(count(lit(1)).as("n_unit_mass"))
      },
      Some("""
        SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               count(*) AS n_unit_mass
        FROM documents WHERE strlen(text) > 0 GROUP BY 1""")),

    "mm_image_decode" -> QueryDef(
      // REAL image decode (JDK ImageIO, no stub): the corpus carries real
      // PNG payloads whose dimensions follow a closed form of doc_id, so
      // width/height/channel sums are oracle-exact; truncated payloads
      // (doc_id % 5 == 0, 10 bytes) must FAIL decode — decodeStrict returns
      // ok = false with zero dims, and the oracle counts them the same way
      (s, dir) => Multimodal.decodeStrict(
          Multimodal.imageCorpusFromDocuments(t(s, dir, "documents")))
        .toDF()
        .agg(
          count(lit(1)).as("n_media"),
          sum(when(col("ok"), 1L).otherwise(0L)).cast("bigint").as("n_ok"),
          sum(col("width").cast("bigint")).as("sum_w"),
          sum(col("height").cast("bigint")).as("sum_h"),
          sum(col("n_channels").cast("bigint")).as("sum_c")),
      Some("""
        SELECT count(*) AS n_media,
               CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
               CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 16 + doc_id % 31 ELSE 0 END) AS BIGINT) AS sum_w,
               CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 16 + doc_id % 17 ELSE 0 END) AS BIGINT) AS sum_h,
               CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 3 ELSE 0 END) AS BIGINT) AS sum_c
        FROM documents WHERE doc_id % 3 = 0""")),

    "mm_audio_decode" -> QueryDef(
      // REAL audio decode (JDK javax.sound.sampled, no stub): the corpus
      // carries real 16-bit PCM WAV payloads whose channel counts and
      // frame-exact durations follow closed forms of doc_id, so the sums
      // are oracle-exact; truncated payloads (doc_id % 5 == 0, 10 bytes)
      // must FAIL decode — decodeStrict returns ok = false with zeros, and
      // the oracle counts them the same way. Header-only decode + one
      // mapPartitions pass, zero shuffle before the final agg.
      (s, dir) => Multimodal.decodeStrict(
          Multimodal.audioCorpusFromDocuments(t(s, dir, "documents")))
        .toDF()
        .agg(
          count(lit(1)).as("n_media"),
          sum(when(col("ok"), 1L).otherwise(0L)).cast("bigint").as("n_ok"),
          sum(col("n_channels").cast("bigint")).as("sum_ch"),
          sum(when(col("ok"), col("sample_rate").cast("bigint"))
            .otherwise(0L)).as("sum_rate"),
          sum(col("duration_ms")).cast("bigint").as("sum_ms")),
      Some("""
        SELECT count(*) AS n_media,
               CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
               CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 1 + doc_id % 2 ELSE 0 END) AS BIGINT) AS sum_ch,
               CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 8000 ELSE 0 END) AS BIGINT) AS sum_rate,
               CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN 50 + (doc_id % 50) * 10 ELSE 0 END) AS BIGINT) AS sum_ms
        FROM documents WHERE doc_id % 3 = 1""")),

    "mm_audio_pcm" -> QueryDef(
      // REAL PCM signal decode (not just headers): every 16-bit sample of
      // every readable clip streams through AudioInputStream and folds to
      // integer stats in the same partition pass — zero shuffle before the
      // final agg. The corpus' samples are a closed form of (doc_id, frame,
      // channel), so the oracle recomputes EVERY sample value in SQL and
      // the sums compare exactly; truncated payloads (doc_id % 5 == 0)
      // fail decode and contribute zeros on both sides.
      (s, dir) => Multimodal.audioPcmStats(
          Multimodal.audioCorpusFromDocuments(t(s, dir, "documents")))
        .agg(
          count(lit(1)).cast("bigint").as("n_clips"),
          sum(when(col("ok"), 1L).otherwise(0L)).cast("bigint").as("n_ok"),
          sum(col("n_samples")).cast("bigint").as("n_samples"),
          sum(col("sum_abs")).cast("bigint").as("sum_abs"),
          max(col("peak")).cast("bigint").as("peak")),
      Some("""
        WITH a AS (SELECT doc_id AS id, 400 + (doc_id % 50) * 80 AS nf,
                          1 + doc_id % 2 AS ch
                   FROM documents WHERE doc_id % 3 = 1),
             ok AS (SELECT * FROM a WHERE id % 5 <> 0),
             s AS (SELECT (id * 31 + f.g * 7 + c.g * 13) % 65536 AS m
                   FROM ok,
                        LATERAL unnest(range(0, nf)) f(g),
                        LATERAL unnest(range(0, ch)) c(g)),
             v AS (SELECT CASE WHEN m >= 32768 THEN m - 65536 ELSE m END AS x
                   FROM s)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_clips,
               (SELECT CAST(count(*) AS BIGINT) FROM ok) AS n_ok,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(abs(x)) AS BIGINT) AS sum_abs,
               CAST(max(abs(x)) AS BIGINT) AS peak
        FROM v""")),

    "embed_int8_quantize" -> QueryDef(
      // symmetric per-vector int8 quantization (the embedding-compression
      // step a training pipeline runs before ANN indexing / shipping):
      // scale = max|v|/127, codes = round(v/scale). All array-HOF work, one
      // shuffle for the per-label rollup. Approximate-operator rule: the
      // reconstruction-error bound (≤ scale/2) and the code-range bound
      // (|code| ≤ 127) are asserted IN-PLAN against the exact vectors; the
      // oracle pins counts and asserts the booleans TRUE.
      (s, dir) => {
        val xd    = transform(col("embedding"), v => v.cast("double"))
        val scale = array_max(transform(xd, v => abs(v))) / lit(127.0)
        val codes = transform(xd, v =>
          when(scale === 0d, lit(0.0)).otherwise(round(v / scale)))
        val recon = transform(codes, c => c * scale)
        val maxErr  = array_max(zip_with(xd, recon, (a, b) => abs(a - b)))
        val qOk     = maxErr <= scale * 0.5 + lit(1e-9)
        val rangeOk = array_max(transform(codes, c => abs(c))) <= lit(127.0)
        t(s, dir, "embeddings")
          .select(col("label").cast("int").as("label"),
            qOk.as("q_ok"), rangeOk.as("range_ok"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            min(col("q_ok")).as("q_ok"), min(col("range_ok")).as("range_ok"))
          .orderBy(col("label"))
      },
      Some("""
        SELECT CAST(label AS INT) AS label, count(*) AS n_vecs,
               TRUE AS q_ok, TRUE AS range_ok
        FROM embeddings GROUP BY 1 ORDER BY 1""")),

    // ---- KQL tabular pipeline (§2.i; the reference's outward query surface:
    // DatabaseGateway.cs:85-96 status view, LoadTest.cs:22-27 `T | count`,
    // LoadTest.cs:74-89 `T | where … | count`). Each query is a literal KQL
    // string parsed by KqlPipeline into a DataFrame plan; the oracle is the
    // equivalent SQL — proving the PIPELINE, not a hand-built plan. ---------

    "q_kql_count" -> QueryDef(
      (s, dir) => kqlRun(s, dir, "events | count"),
      Some("""SELECT count(*) AS "Count" FROM events""")),

    "q_kql_countof_docs" -> QueryDef(
      // OVERLAPPING plain-text countof over the real document corpus with a
      // BORDERED needle (' a ' — prefix == suffix, so matches may share the
      // boundary space in 'a a a' runs): exercises the native countof_scan
      // byte-scan expression, not the replace() shortcut (legal only for
      // self-overlap-free needles) and not the retired sequence()+filter
      // fallback that allocated a length(text)-element array per row
      // (round-16 verdict #6 / ADVICE #3). The sum differs from the
      // non-overlapping count on this corpus (843 vs 815 at sf0.01), so a
      // regression to non-overlap semantics hash-fails here.
      (s, dir) => kqlRun(s, dir,
        """documents
          | | extend n = countof(text, ' a ')
          | | summarize docs_with = countif(n > 0), total_overlapping = sum(n)""".stripMargin),
      Some("""
        SELECT count(*) FILTER (n > 0) AS docs_with,
               CAST(sum(n) AS BIGINT) AS total_overlapping FROM (
          SELECT CAST(CASE WHEN length(' a ') = 0 THEN 0 ELSE
            len(list_filter(range(1, greatest(length(text) - length(' a ') + 2, 1)),
                __i -> substring(text, __i, length(' a ')) = ' a ')) END AS BIGINT) AS n
          FROM documents)""")),

    "q_kql_where_project" -> QueryDef(
      (s, dir) => kqlRun(s, dir,
        """orders
          | | where o_orderpriority == '1-URGENT' and o_totalprice > 150000.0
          | | project o_orderkey, o_custkey, o_totalprice
          | | order by o_orderkey asc
          | | take 50""".stripMargin),
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
        ORDER BY o_orderkey LIMIT 50""")),

    "q_kql_summarize" -> QueryDef(
      // extend + summarize by: integral quantities summed as LONG (exact,
      // order-independent — the decimal-sum convention via tolong)
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | where l_shipdate > datetime(1997-06-30)   // KQL datetime literal
          | | extend qty = tolong(l_quantity)
          | | summarize n = count(), parts = dcount(l_partkey),
          |             sum_qty = sum(qty), max_qty = max(qty)
          |   by l_returnflag, l_linestatus
          | | order by l_returnflag asc, l_linestatus asc""".stripMargin),
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               count(DISTINCT l_partkey) AS parts,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               MAX(CAST(l_quantity AS BIGINT)) AS max_qty
        FROM lineitem WHERE l_shipdate > TIMESTAMP '1997-06-30'
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    "q_kql_top" -> QueryDef(
      // KQL `top N by` defaults to DESC (ADX semantics); o_orderkey unique →
      // deterministic without a tiebreak
      (s, dir) => kqlRun(s, dir,
        "orders | top 15 by o_orderkey | project o_orderkey, o_orderstatus, o_orderpriority"),
      Some("""
        SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
        ORDER BY o_orderkey DESC LIMIT 15""")),

    "q_kql_join" -> QueryDef(
      // tabular join through the KQL surface: fact-side shuffle join with
      // explicit $left/$right keys; aggregates stay integer-exact (counts +
      // key max) per the oracle-parity rules
      (s, dir) => kqlRun(s, dir,
        """customer
          | | join kind=inner (orders) on $left.c_custkey == $right.o_custkey
          | | summarize n_orders = count(), max_order = max(o_orderkey) by c_mktsegment
          | | order by c_mktsegment asc""".stripMargin),
      Some("""
        SELECT c_mktsegment, count(*) AS n_orders, max(o_orderkey) AS max_order
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_union_source" -> QueryDef(
      // union as the first segment with withsource labeling — the
      // multi-table-logs idiom; columns match by NAME with null padding
      (s, dir) => kqlRun(s, dir,
        """union withsource=src nation, region
          | | summarize n = count(), named = countif(isnotempty(r_name)) by src
          | | order by src asc""".stripMargin),
      Some("""
        SELECT src, count(*) AS n,
               CAST(count(CASE WHEN r_name IS NOT NULL AND r_name != '' THEN 1 END) AS BIGINT) AS named
        FROM (SELECT 'nation' AS src, NULL AS r_name FROM nation
              UNION ALL SELECT 'region', r_name FROM region)
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_union_fuzzy" -> QueryDef(
      // union isfuzzy=true — ADX's resilient union: operands that fail to
      // resolve (dropped/renamed tables in a fleet-wide query) are skipped
      // instead of failing the whole statement; the surviving legs union
      // normally. Both the source form and the piped-operator form ride
      // through a missing table here
      (s, dir) => kqlRun(s, dir,
        """union isfuzzy=true withsource=src this_table_is_gone, nation
          | | where isnotempty(n_name)
          | | union isfuzzy=true (also_not_a_table), (region | project n_name = r_name)
          | | summarize n = count(), names = countif(isnotempty(n_name))""".stripMargin),
      Some("""
        SELECT CAST((SELECT count(*) FROM nation) + (SELECT count(*) FROM region)
                 AS BIGINT) AS n,
               CAST((SELECT count(*) FROM nation) + (SELECT count(*) FROM region)
                 AS BIGINT) AS names""")),

    "q_kql_toscalar" -> QueryDef(
      // let x = toscalar(subquery): eager 1×1 evaluation bound as a literal
      // — the ADX threshold-query idiom (exact max keeps both engines
      // bit-identical)
      (s, dir) => kqlRun(s, dir,
        """let mx = toscalar(orders | summarize max(o_orderkey));
          |orders | where o_orderkey == mx | project o_orderkey, o_orderstatus""".stripMargin),
      Some("""
        SELECT o_orderkey, o_orderstatus FROM orders
        WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)""")),

    "q_kql_mvexpand_typed" -> QueryDef(
      // mv-expand `to typeof(long)`: the expanded element casts (try_cast —
      // null on failure, the ADX contract); render is the identity
      (s, _) => kqlRun(s, "",
        """range x from 1 to 3 step 1
          | | extend arr = split('10;20;oops', ';')
          | | mv-expand arr to typeof(long)
          | | summarize s = sum(arr), n = count(), bad = countif(isnull(arr))
          | | render barchart""".stripMargin),
      Some("""
        SELECT CAST(90 AS BIGINT) AS s, CAST(9 AS BIGINT) AS n,
               CAST(3 AS BIGINT) AS bad""")),

    "q_kql_top_others" -> QueryDef(
      // top-nested `with others`: the dashboard idiom — top-k plus ONE
      // remainder bucket aggregated from the raw non-top rows (broadcast
      // anti-join on ≤k keys, never a re-aggregation of aggregates)
      (s, dir) => kqlRun(s, dir,
        """events
          | | top-nested 3 of event_type with others = 'OTHER' by cnt = count()
          | | order by cnt desc, event_type asc""".stripMargin),
      Some("""
        WITH agg AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1),
        top3 AS (SELECT event_type, cnt FROM agg ORDER BY cnt DESC, event_type ASC LIMIT 3)
        SELECT event_type, cnt FROM top3
        UNION ALL
        SELECT 'OTHER', count(*) FROM events
        WHERE event_type NOT IN (SELECT event_type FROM top3)
        ORDER BY cnt DESC, event_type ASC""")),

    "q_kql_partition_cumsum" -> QueryDef(
      // grouped serialized-row functions: `partition by key (order by … |
      // extend …)` lowers to windows PARTITIONED by the key — one shuffle on
      // a high-cardinality key, bounded per-group state; ScanOps' two-pass
      // machinery stays reserved for the global-order spelling
      (s, dir) => kqlRun(s, dir,
        """orders
          | | where o_totalprice > 400000.0
          | | partition by o_custkey (order by o_orderkey asc
          |     | extend cum = row_cumsum(tolong(floor(o_totalprice))),
          |              prev_key = prev(o_orderkey))
          | | project o_custkey, o_orderkey, cum, prev_key
          | | order by o_custkey asc, o_orderkey asc""".stripMargin),
      Some("""
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_key
        FROM orders WHERE o_totalprice > 400000.0
        ORDER BY o_custkey, o_orderkey""")),

    "q_kql_cumsum_restart" -> QueryDef(
      // ADX row_cumsum(term, restart): global serialized order with segment
      // restarts — the restart-aware two-pass scan (ScanOps.cumSumRestart).
      // The restart fires on custkey change (prev() boundary exchange), so
      // the result equals the per-custkey partitioned window sum.
      (s, dir) => kqlRun(s, dir,
        """orders
          | | where o_totalprice > 450000.0
          | | order by o_custkey asc, o_orderkey asc | serialize
          | | extend pk = prev(o_custkey)
          | | extend cum = row_cumsum(tolong(floor(o_totalprice)), o_custkey != pk)
          | | project o_custkey, o_orderkey, cum
          | | order by o_custkey asc, o_orderkey asc""".stripMargin),
      Some("""
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM orders WHERE o_totalprice > 450000.0
        ORDER BY o_custkey, o_orderkey""")),

    "q_kql_scan_funnel" -> QueryDef(
      // restricted KQL `scan`: signup→purchase funnel with latest-start
      // attribution and reset-on-completion (ScanSteps). Scale shape: ONE
      // shuffle on user_id then a streaming per-partition fold — for two
      // steps the semantics collapse to the window/lag closed form the
      // oracle spells out (latest preceding A, newer than the previous B).
      (s, dir) => kqlRun(s, dir,
        """events
          | | where event_type in ('signup', 'purchase')
          | | scan partition by user_id order by ts with (
          |     step signup output=none: event_type == 'signup';
          |     step purchase: event_type == 'purchase')
          | | project user_id, signup_us = signup_ts div 1000, purchase_us = purchase_ts div 1000
          | | order by user_id asc, purchase_us asc""".stripMargin),
      // outputs are µs-truncated instants: DuckDB reads parquet
      // TIMESTAMP(NANOS) at µs precision (the q_asof_attribution
      // convention); ns→µs truncation is monotone and the data has no µs
      // ties, so the pairing is unchanged
      Some("""
        WITH lp AS (SELECT user_id, event_type, epoch_us(ts) AS tn FROM events
                    WHERE event_type IN ('signup','purchase')),
        m AS (SELECT user_id, event_type, tn,
                max(CASE WHEN event_type = 'signup' THEN tn END)
                  OVER (PARTITION BY user_id ORDER BY tn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_a
              FROM lp),
        b AS (SELECT user_id, tn AS purchase_us, last_a,
                lag(tn) OVER (PARTITION BY user_id ORDER BY tn) AS prev_b
              FROM m WHERE event_type = 'purchase')
        SELECT user_id, last_a AS signup_us, purchase_us
        FROM b WHERE last_a IS NOT NULL AND (prev_b IS NULL OR last_a > prev_b)
        ORDER BY user_id, purchase_us""")),

    "q_kql_scan_declare" -> QueryDef(
      // general-scan `declare`: per-key state variables with per-step
      // assignments (ScanSteps.scanDeclare). n_signups counts the signups
      // of each completion-to-completion span (declared state resets at
      // completion, NOT at a step-0 restart). Same scale shape as the
      // funnel: one key shuffle, streaming fold, O(steps+vars) state; the
      // update operand is a staged codegen'd column. Oracle: completions
      // from the funnel closed form, counter as an interval count between
      // consecutive completions.
      (s, dir) => kqlRun(s, dir,
        """events
          | | where event_type in ('signup', 'purchase')
          | | scan declare (n_signups = 0) partition by user_id order by ts with (
          |     step signup output=none: event_type == 'signup' => n_signups = n_signups + 1;
          |     step purchase: event_type == 'purchase')
          | | project user_id, signup_us = signup_ts div 1000, purchase_us = purchase_ts div 1000, n_signups
          | | order by user_id asc, purchase_us asc""".stripMargin),
      Some("""
        WITH lp AS (SELECT user_id, event_type, epoch_us(ts) AS tn FROM events
                    WHERE event_type IN ('signup','purchase')),
        m AS (SELECT user_id, event_type, tn,
                max(CASE WHEN event_type = 'signup' THEN tn END)
                  OVER (PARTITION BY user_id ORDER BY tn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_a
              FROM lp),
        b AS (SELECT user_id, tn AS purchase_us, last_a,
                lag(tn) OVER (PARTITION BY user_id ORDER BY tn) AS prev_b
              FROM m WHERE event_type = 'purchase'),
        comp AS (SELECT user_id, last_a AS signup_us, purchase_us
                 FROM b WHERE last_a IS NOT NULL AND (prev_b IS NULL OR last_a > prev_b)),
        comp2 AS (SELECT *, lag(purchase_us)
                    OVER (PARTITION BY user_id ORDER BY purchase_us) AS prev_c
                  FROM comp)
        SELECT c.user_id, c.signup_us, c.purchase_us,
               (SELECT count(*) FROM lp s
                WHERE s.user_id = c.user_id AND s.event_type = 'signup'
                  AND s.tn <= c.purchase_us
                  AND (c.prev_c IS NULL OR s.tn > c.prev_c)) AS n_signups
        FROM comp2 c ORDER BY user_id, purchase_us""")),

    "q_kql_scan_matches" -> QueryDef(
      // ADX scan output modes + with_match_id: `output=all` (the ADX
      // default) emits EVERY admitted row — here each signup row emits
      // immediately (purchase_ts still null) and each completing purchase
      // emits with its attributed signup; `mid` is the per-key 0-based
      // sequence id (every signup admission starts a new instance, so a
      // completion carries the ordinal of its attributed signup). Same
      // scale shape as the funnel: one key shuffle, streaming fold.
      (s, dir) => kqlRun(s, dir,
        """events
          | | where event_type in ('signup', 'purchase')
          | | scan with_match_id = mid partition by user_id order by ts with (
          |     step signup: event_type == 'signup';
          |     step purchase: event_type == 'purchase')
          | | project user_id, signup_us = signup_ts div 1000, purchase_us = purchase_ts div 1000, mid
          | | order by user_id asc, mid asc, purchase_us asc""".stripMargin),
      // oracle: signup rows are themselves (mid = per-user signup ordinal);
      // completions come from the funnel closed form, joined back to the
      // signup ordinals on the attributed instant. Spark sorts nulls first
      // on asc — DuckDB needs it spelled out.
      Some("""
        WITH lp AS (SELECT user_id, event_type, epoch_us(ts) AS tn FROM events
                    WHERE event_type IN ('signup','purchase')),
        sg AS (SELECT user_id, tn,
                 row_number() OVER (PARTITION BY user_id ORDER BY tn) - 1 AS mid
               FROM lp WHERE event_type = 'signup'),
        m AS (SELECT user_id, event_type, tn,
                max(CASE WHEN event_type = 'signup' THEN tn END)
                  OVER (PARTITION BY user_id ORDER BY tn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_a
              FROM lp),
        b AS (SELECT user_id, tn AS purchase_us, last_a,
                lag(tn) OVER (PARTITION BY user_id ORDER BY tn) AS prev_b
              FROM m WHERE event_type = 'purchase'),
        comp AS (SELECT user_id, last_a AS signup_us, purchase_us
                 FROM b WHERE last_a IS NOT NULL AND (prev_b IS NULL OR last_a > prev_b))
        SELECT user_id, signup_us, purchase_us, mid FROM (
          SELECT user_id, tn AS signup_us, CAST(NULL AS BIGINT) AS purchase_us, mid FROM sg
          UNION ALL
          SELECT c.user_id, c.signup_us, c.purchase_us, s.mid
          FROM comp c JOIN sg s ON s.user_id = c.user_id AND s.tn = c.signup_us
        ) ORDER BY user_id, mid, purchase_us NULLS FIRST""")),

    "q_kql_invoke" -> QueryDef(
      // `invoke` + let-bound lambda: scalar args macro-substitute into the
      // body, the tabular parameter binds to the frame-so-far — the whole
      // call compiles to the same plan as writing the body inline (filter
      // pushed to the scan, partial-agg count), zero runtime overhead.
      (s, dir) => kqlRun(s, dir,
        """let big_orders = (T:(*), minTotal:real = 100000.0) {
          |   T | where o_totalprice >= minTotal };
          | orders
          | | invoke big_orders(400000.0)
          | | summarize n = count() by o_orderpriority
          | | order by o_orderpriority asc""".stripMargin),
      Some("""
        SELECT o_orderpriority, count(*) AS n FROM orders
        WHERE o_totalprice >= 400000.0
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    "q_kql_fork" -> QueryDef(
      // `fork`: multiple result tables from one pass over the frame-so-far
      // (KqlPipeline.runMulti — run()'s one-DataFrame contract can't carry
      // them). Each leg applies to the SAME base frame; Spark reuses the
      // shared scan subtree across legs. The driver gate needs one frame,
      // so the legs union under a `leg` label — exactly what a caller of
      // runMulti would do to persist both.
      (s, dir) => {
        val legs = graft.kql.KqlPipeline.runMulti(
          Map("lineitem" -> t(s, dir, "lineitem")),
          """lineitem
            | | fork
            |     flagged = (where l_returnflag == 'R' | summarize n = count() by l_linestatus)
            |     bulky   = (where l_quantity >= 45 | summarize n = count() by l_linestatus)""".stripMargin)
        legs.map { case (nm, df) => df.withColumn("leg", lit(nm)) }
          .reduce(_.unionByName(_))
          .select("leg", "l_linestatus", "n")
          .orderBy("leg", "l_linestatus")
      },
      Some("""
        SELECT * FROM (
          SELECT 'flagged' AS leg, l_linestatus, count(*) AS n FROM lineitem
          WHERE l_returnflag = 'R' GROUP BY l_linestatus
          UNION ALL
          SELECT 'bulky', l_linestatus, count(*) FROM lineitem
          WHERE l_quantity >= 45 GROUP BY l_linestatus
        ) ORDER BY leg, l_linestatus""")),

    "q_kql_find" -> QueryDef(
      // `find in (…)`: cross-table search. Lowers to union-by-name with
      // null padding + ONE filter; Catalyst pushes the disjuncts through
      // the union so each table scans with its own pushed predicate, and a
      // column missing from a table reads as null there (no match) — no
      // per-table driver loop, one distributed plan.
      (s, dir) => kqlRun(s, dir,
        "find withsource=src in (customer, supplier) " +
          "where c_acctbal > 9000.0 or s_acctbal > 9000.0 " +
          "| summarize n = count() by src | order by src asc"),
      Some("""
        SELECT * FROM (
          SELECT 'customer' AS src, count(*) AS n FROM customer WHERE c_acctbal > 9000.0
          UNION ALL
          SELECT 'supplier', count(*) FROM supplier WHERE s_acctbal > 9000.0
        ) ORDER BY src""")),

    "q_kql_parse_regex" -> QueryDef(
      // parse kind=regex with TYPED captures: pattern chunks are raw
      // regular expressions, the numeric capture lands as a LONG through
      // the null-on-failure cast, and take_anyif picks a predicate-masked
      // exemplar in the same aggregation pass
      (s, dir) => kqlRun(s, dir,
        """orders
          | | where o_orderkey <= 200
          | | extend line = strcat('id=', tostring(o_orderkey), ';  status: ',
          |     o_orderstatus, ' !')
          | | parse kind=regex line with 'id=' k:long ';\s+status:\s+' st ' !'
          | | summarize n = count(), ks = sum(k),
          |     any_even = take_anyif(k, k % 2 == 0) by st
          | | project st, n, ks, even_ok = any_even % 2 == 0
          | | order by st asc""".stripMargin),
      Some("""
        SELECT o_orderstatus AS st, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS ks,
               TRUE AS even_ok
        FROM orders WHERE o_orderkey <= 200
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_parse_kv" -> QueryDef(
      // `parse-kv`: key-value extraction via ONE codegen'd str_to_map per
      // row + per-key cast. The kv string is built in-plan from orders
      // columns, parsed back out, and aggregated — proving the round-trip
      // with integer-exact sums the oracle can state directly.
      (s, dir) => kqlRun(s, dir,
        """orders
          | | extend kv = strcat('pri=', o_orderpriority, ';key=', tostring(o_orderkey))
          | | parse-kv kv as (pri:string, key:long) with (pair_delimiter=';', kv_delimiter='=')
          | | summarize n = count(), s = sum(key) by pri
          | | order by pri asc""".stripMargin),
      Some("""
        SELECT o_orderpriority AS pri, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS s
        FROM orders GROUP BY o_orderpriority ORDER BY pri""")),

    "q_kql_has_phrase" -> QueryDef(
      // multi-term `has` needle = ADX adjacent-term phrase match; compiles
      // to ONE codegen'd boundary-anchored RLIKE (no split/array per row).
      // Oracle runs the identical regex through DuckDB's RE2.
      (s, dir) => kqlRun(s, dir,
        """documents
          | | where text has 'data-column'
          | | project doc_id
          | | order by doc_id asc""".stripMargin),
      Some("""
        SELECT doc_id FROM documents
        WHERE regexp_matches(text,
          '(?i)(^|[^0-9A-Za-z])data[^0-9A-Za-z]+column([^0-9A-Za-z]|$)')
        ORDER BY doc_id""")),

    "q_kql_join_default" -> QueryDef(
      // bare `| join` = ADX innerunique: the left side dedups on the join
      // keys before the join. Left projects ONLY the key, so the unspecified
      // survivor can't leak nondeterminism into the oracle compare — the
      // oracle spells the dedup as SELECT DISTINCT.
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | where l_orderkey < 1000
          | | project l_orderkey
          | | join (orders | project o_orderkey, o_orderstatus) on $left.l_orderkey == $right.o_orderkey
          | | summarize n = count() by o_orderstatus
          | | order by o_orderstatus asc""".stripMargin),
      Some("""
        SELECT o_orderstatus, count(*) AS n
        FROM (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_orderkey < 1000) l
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_lookup" -> QueryDef(
      // KQL lookup = dimension enrichment; compiles to a BROADCAST leftouter
      // join (PlanSpec pins the broadcast), so the fact side never shuffles
      (s, dir) => kqlRun(s, dir,
        """supplier
          | | lookup (nation) on $left.s_nationkey == $right.n_nationkey
          | | summarize n_suppliers = count() by n_name
          | | order by n_name asc""".stripMargin),
      Some("""
        SELECT n_name, count(*) AS n_suppliers
        FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_union" -> QueryDef(
      // union is by-NAME with null padding (KQL semantics), proven by the
      // projected shared column surviving from both legs
      (s, dir) => kqlRun(s, dir,
        """nation
          | | project name = n_name
          | | union (region | project name = r_name)
          | | summarize n = count(), d = dcount(name)""".stripMargin),
      Some("""
        SELECT count(*) AS n, count(DISTINCT name) AS d
        FROM (SELECT n_name AS name FROM nation
              UNION ALL SELECT r_name FROM region)""")),

    "q_kql_mvexpand" -> QueryDef(
      // mv-expand compiles to a generator (explode) — per-token rows without
      // a UDF; bounded to a doc slice so the explode volume is fixed
      (s, dir) => kqlRun(s, dir,
        """documents
          | | where doc_id < 30
          | | extend w = split(text, ' ')
          | | mv-expand w
          | | summarize n_tokens = count(), n_distinct = dcount(w) by doc_id
          | | order by doc_id asc""".stripMargin),
      Some("""
        SELECT doc_id, count(*) AS n_tokens, count(DISTINCT w) AS n_distinct
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents WHERE doc_id < 30)
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_parse" -> QueryDef(
      // parse extracts between literal anchors via one compiled regex per
      // output column; dcount(nm) pins the extraction itself (a wrong
      // capture collapses the distinct count)
      (s, dir) => kqlRun(s, dir,
        """nation
          | | extend line = strcat('name=', n_name, ';region=', tostring(n_regionkey))
          | | parse line with 'name=' nm ';region=' reg
          | | summarize n = count(), d = dcount(nm) by reg
          | | order by reg asc""".stripMargin),
      Some("""
        SELECT CAST(n_regionkey AS VARCHAR) AS reg, count(*) AS n,
               count(DISTINCT n_name) AS d
        FROM nation GROUP BY 1 ORDER BY 1""")),

    "q_kql_summarize_if" -> QueryDef(
      // masked-aggregate family + exact percentile. percentile stays on an
      // integer key column: interpolation of exactly-representable doubles
      // is bit-identical across engines (money doubles would not be)
      (s, dir) => kqlRun(s, dir,
        """orders
          | | summarize hi = countif(o_totalprice > 150000.0),
          |             d = dcountif(o_custkey, o_totalprice > 150000.0),
          |             p50 = percentile(o_orderkey, 50),
          |             sk = sumif(o_custkey, o_totalprice > 150000.0),
          |             ak = avgif(o_custkey, o_totalprice > 150000.0),
          |             mn = minif(o_orderkey, o_totalprice > 150000.0),
          |             mx = maxif(o_orderkey, o_totalprice > 150000.0)
          |   by o_orderstatus
          | | order by o_orderstatus asc""".stripMargin),
      Some("""
        SELECT o_orderstatus,
               count(CASE WHEN o_totalprice > 150000.0 THEN 1 END) AS hi,
               count(DISTINCT CASE WHEN o_totalprice > 150000.0 THEN o_custkey END) AS d,
               quantile_cont(o_orderkey, 0.5) AS p50,
               CAST(sum(CASE WHEN o_totalprice > 150000.0 THEN o_custkey END) AS BIGINT) AS sk,
               avg(CASE WHEN o_totalprice > 150000.0 THEN o_custkey END) AS ak,
               min(CASE WHEN o_totalprice > 150000.0 THEN o_orderkey END) AS mn,
               max(CASE WHEN o_totalprice > 150000.0 THEN o_orderkey END) AS mx
        FROM orders GROUP BY 1 ORDER BY 1""")),

    "q_kql_join_unique" -> QueryDef(
      // innerunique (KQL's default join kind) dedups the LEFT side on the
      // keys; projecting the left to its key first makes the surviving row
      // well-defined, so the query is oracle-exact
      (s, dir) => kqlRun(s, dir,
        """orders
          | | project o_custkey
          | | join kind=innerunique (customer) on $left.o_custkey == $right.c_custkey
          | | summarize n = count() by c_mktsegment
          | | order by c_mktsegment asc""".stripMargin),
      Some("""
        SELECT c_mktsegment, count(*) AS n
        FROM (SELECT DISTINCT o_custkey FROM orders) o
        JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_scalars" -> QueryDef(
      // the widened scalar surface through the tabular pipeline: case()
      // banding, 0-based indexed split, plain-text countof — each stated
      // with exact-arithmetic DuckDB twins (countof's division is exact for
      // a 1-char needle, so no cast-rounding divergence)
      (s, dir) => kqlRun(s, dir,
        """documents
          | | extend band = case(doc_id % 3 == 0, 'a', doc_id % 3 == 1, 'b', 'c'),
          |          first_w = split(text, ' ', 0),
          |          n_e = countof(text, 'e'),
          |          n_re = countof(text, 'e+', 'regex')
          | | summarize n = count(), d = dcount(first_w), se = sum(n_e),
          |     sre = sum(n_re) by band
          | | order by band asc""".stripMargin),
      Some("""
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'a'
                    WHEN doc_id % 3 = 1 THEN 'b' ELSE 'c' END AS band,
               count(*) AS n,
               count(DISTINCT string_split(text, ' ')[1]) AS d,
               CAST(sum(CAST((length(text) - length(replace(text, 'e', ''))) / 1 AS BIGINT)) AS BIGINT) AS se,
               CAST(sum(len(regexp_extract_all(text, 'e+'))) AS BIGINT) AS sre
        FROM documents GROUP BY 1 ORDER BY 1""")),

    "q_kql_make_series" -> QueryDef(
      // ADX's flagship time-series operator: dense per-group daily count
      // series over January 2024 on the epoch-nanos axis, gaps filled with
      // 0. Series compare as JSON text (arrays don't sort in the driver's
      // frame compare); axis_len pins the [from,to) grid arithmetic.
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count()
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          |     by event_type
          | | project event_type, n_json = to_json(n), axis_len = tolong(array_size(ts))
          | | order by event_type asc""".stripMargin),
      Some("""
        WITH e AS (SELECT event_type, epoch_ns(ts) AS tn FROM events),
             binned AS (
               SELECT event_type,
                      1704067200000000000 + CAST(floor((tn - 1704067200000000000) / 86400000000000) AS BIGINT) * 86400000000000 AS b,
                      count(*) AS n
               FROM e
               WHERE tn >= 1704067200000000000 AND tn < 1706659200000000000
               GROUP BY 1, 2),
             grid AS (
               SELECT k.event_type, g.b
               FROM (SELECT DISTINCT event_type FROM binned) k
               CROSS JOIN (SELECT unnest(range(1704067200000000000, 1706659200000000000, 86400000000000)) AS b) g)
        SELECT event_type,
               CAST(to_json(list(coalesce(n, 0) ORDER BY b)) AS VARCHAR) AS n_json,
               CAST(count(*) AS BIGINT) AS axis_len
        FROM grid LEFT JOIN binned USING (event_type, b)
        GROUP BY 1 ORDER BY 1""")),

    // ---- series analysis family (ADX series_* over make-series output) ---
    // All five share the q_kql_make_series daily-count grid; the analysis
    // itself is per-row array-HOF work (KqlCompat rewrites) — G groups in,
    // G rows out, zero extra shuffles after make-series' one.

    "q_series_stats" -> QueryDef(
      // series_stats_dynamic: min/max + first 0-based indices, avg, sample
      // stdev, sum, len — scalars out of the daily count series per type
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count()
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          |     by event_type
          | | extend st = series_stats_dynamic(n)
          | | project event_type, s_min = st.min, s_min_idx = st.min_idx,
          |     s_max = st.max, s_max_idx = st.max_idx,
          |     s_avg = round(st.avg, 6), s_stdev = round(st.stdev, 6),
          |     s_sum = st.sum, s_len = st.len
          | | order by event_type asc""".stripMargin),
      Some("""
        WITH e AS (SELECT event_type, epoch_ns(ts) AS tn FROM events),
             binned AS (
               SELECT event_type,
                      1704067200000000000 + CAST(floor((tn - 1704067200000000000) / 86400000000000) AS BIGINT) * 86400000000000 AS b,
                      count(*) AS n
               FROM e
               WHERE tn >= 1704067200000000000 AND tn < 1706659200000000000
               GROUP BY 1, 2),
             grid AS (
               SELECT k.event_type, g.b
               FROM (SELECT DISTINCT event_type FROM binned) k
               CROSS JOIN (SELECT unnest(range(1704067200000000000, 1706659200000000000, 86400000000000)) AS b) g),
             ser AS (
               SELECT event_type,
                      list(CAST(coalesce(n, 0) AS DOUBLE) ORDER BY b) AS l
               FROM grid LEFT JOIN binned USING (event_type, b)
               GROUP BY 1)
        SELECT event_type,
               list_min(l) AS s_min,
               CAST(list_position(l, list_min(l)) - 1 AS BIGINT) AS s_min_idx,
               list_max(l) AS s_max,
               CAST(list_position(l, list_max(l)) - 1 AS BIGINT) AS s_max_idx,
               round(list_sum(l) / len(l), 6) AS s_avg,
               round(sqrt(greatest(
                 (len(l) * list_sum(list_transform(l, v -> v * v)) - list_sum(l) * list_sum(l))
                   / (len(l) * (len(l) - 1)), 0)), 6) AS s_stdev,
               CAST(list_sum(l) AS DOUBLE) AS s_sum,
               CAST(len(l) AS BIGINT) AS s_len
        FROM ser ORDER BY event_type""")),

    "q_series_fit_poly" -> QueryDef(
      // series_fit_poly (native normal-equations solver, ascending
      // coefficients): an EXACT quadratic series recovers its coefficients
      // to 6 decimals with rsquare 1; on a real event series the degree-1
      // fit must agree with series_fit_line_dynamic's slope (arithmetic
      // identity) and degree 2 can never fit worse than degree 1 (nested
      // models); an underdetermined fit (n <= degree) is null.
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count()
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          | | extend f2 = series_fit_poly(n, 2), f1 = series_fit_poly(n, 1),
          |     fl = series_fit_line_dynamic(n),
          |     q = series_fit_poly(dynamic([2.0, 4.0, 4.0, 2.0, -2.0, -8.0, -16.0, -26.0]), 2)
          | | project rsq = round(q.rsquare, 6),
          |     c0 = round(q.coefficients[0], 6), c1 = round(q.coefficients[1], 6),
          |     c2 = round(q.coefficients[2], 6),
          |     fit_last = round(q.poly_fit[7], 6),
          |     deg1_is_line = abs(f1.coefficients[1] - fl.slope) < 1e-9
          |         and abs(f1.coefficients[0] - fl.interception) < 1e-9,
          |     nested_no_worse = f2.rsquare >= f1.rsquare - 1e-12,
          |     under = isnull(series_fit_poly(dynamic([1.0, 2.0]), 3))""".stripMargin),
      Some("""
        SELECT 1.0 AS rsq, 2.0 AS c0, 3.0 AS c1, -1.0 AS c2, -26.0 AS fit_last,
               TRUE AS deg1_is_line, TRUE AS nested_no_worse, TRUE AS under""")),

    "q_series_fit_line" -> QueryDef(
      // series_fit_line_dynamic: least-squares trend over the implicit
      // 0..n−1 axis; oracle restates it through DuckDB's regr_* aggregates
      // (slope/intercept/r² are arithmetic identities of the same sums).
      // last_fit pins the line_fit array without re-deriving the scalars.
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count()
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          |     by event_type
          | | extend f = series_fit_line_dynamic(n)
          | | project event_type, slope = round(f.slope, 6),
          |     icept = round(f.interception, 6), rsq = round(f.rsquare, 6),
          |     variance = round(f.variance, 6), rvariance = round(f.rvariance, 6),
          |     last_fit = round(f.line_fit[29], 6)
          | | order by event_type asc""".stripMargin),
      Some("""
        WITH e AS (SELECT event_type, epoch_ns(ts) AS tn FROM events),
             binned AS (
               SELECT event_type,
                      1704067200000000000 + CAST(floor((tn - 1704067200000000000) / 86400000000000) AS BIGINT) * 86400000000000 AS b,
                      count(*) AS n
               FROM e
               WHERE tn >= 1704067200000000000 AND tn < 1706659200000000000
               GROUP BY 1, 2),
             grid AS (
               SELECT k.event_type, g.b
               FROM (SELECT DISTINCT event_type FROM binned) k
               CROSS JOIN (SELECT unnest(range(1704067200000000000, 1706659200000000000, 86400000000000)) AS b) g),
             pts AS (
               SELECT event_type,
                      CAST(row_number() OVER (PARTITION BY event_type ORDER BY b) - 1 AS DOUBLE) AS i,
                      CAST(coalesce(n, 0) AS DOUBLE) AS v
               FROM grid LEFT JOIN binned USING (event_type, b))
        SELECT event_type,
               round(regr_slope(v, i), 6) AS slope,
               round(regr_intercept(v, i), 6) AS icept,
               round(regr_r2(v, i), 6) AS rsq,
               round(var_samp(v), 6) AS variance,
               round((1 - regr_r2(v, i)) * var_samp(v), 6) AS rvariance,
               round(regr_intercept(v, i) + regr_slope(v, i) * 29, 6) AS last_fit
        FROM pts GROUP BY 1 ORDER BY 1""")),

    "q_series_outliers" -> QueryDef(
      // series_outliers: Tukey-fence score per point; quartiles are type-7
      // interpolation on both sides (quantile_cont), scores compare as
      // round-6 JSON — arrays don't sort in the driver's frame compare
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count()
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          |     by event_type
          | | extend o = series_outliers(n)
          | | project event_type, o_json = to_json(transform(o, v -> round(v, 6)))
          | | order by event_type asc""".stripMargin),
      Some("""
        WITH e AS (SELECT event_type, epoch_ns(ts) AS tn FROM events),
             binned AS (
               SELECT event_type,
                      1704067200000000000 + CAST(floor((tn - 1704067200000000000) / 86400000000000) AS BIGINT) * 86400000000000 AS b,
                      count(*) AS n
               FROM e
               WHERE tn >= 1704067200000000000 AND tn < 1706659200000000000
               GROUP BY 1, 2),
             grid AS (
               SELECT k.event_type, g.b,
                      CAST(coalesce(n, 0) AS DOUBLE) AS v
               FROM (SELECT DISTINCT event_type FROM binned) k
               CROSS JOIN (SELECT unnest(range(1704067200000000000, 1706659200000000000, 86400000000000)) AS b) g
               LEFT JOIN binned USING (event_type, b)),
             q AS (
               SELECT event_type,
                      quantile_cont(v, 0.25) AS q25,
                      quantile_cont(v, 0.75) AS q75
               FROM grid GROUP BY 1)
        SELECT g.event_type,
               CAST(to_json(list(
                 round(CASE WHEN q75 - q25 <= 0 THEN 0
                            WHEN v > q75 THEN (v - q75) / (q75 - q25)
                            WHEN v < q25 THEN (v - q25) / (q75 - q25)
                            ELSE 0 END, 6)
                 ORDER BY g.b)) AS VARCHAR) AS o_json
        FROM grid g JOIN q USING (event_type)
        GROUP BY 1 ORDER BY 1""")),

    "q_series_fir" -> QueryDef(
      // series_fir with a centered normalized [1,1,1] filter IS a 3-point
      // moving average with renormalized edges — exactly SQL's
      // ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING window AVG, which is the
      // oracle spelling. Sums are integer-valued (counts) so the fold order
      // difference between engines is exact-safe.
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count()
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          |     by event_type
          | | extend sm = series_fir(n, dynamic([1, 1, 1]), true, true)
          | | project event_type, sm_json = to_json(transform(sm, v -> round(v, 6)))
          | | order by event_type asc""".stripMargin),
      Some("""
        WITH e AS (SELECT event_type, epoch_ns(ts) AS tn FROM events),
             binned AS (
               SELECT event_type,
                      1704067200000000000 + CAST(floor((tn - 1704067200000000000) / 86400000000000) AS BIGINT) * 86400000000000 AS b,
                      count(*) AS n
               FROM e
               WHERE tn >= 1704067200000000000 AND tn < 1706659200000000000
               GROUP BY 1, 2),
             grid AS (
               SELECT k.event_type, g.b,
                      CAST(coalesce(n, 0) AS DOUBLE) AS v
               FROM (SELECT DISTINCT event_type FROM binned) k
               CROSS JOIN (SELECT unnest(range(1704067200000000000, 1706659200000000000, 86400000000000)) AS b) g
               LEFT JOIN binned USING (event_type, b)),
             sm AS (
               SELECT event_type, b,
                      avg(v) OVER (PARTITION BY event_type ORDER BY b
                                   ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS m
               FROM grid)
        SELECT event_type,
               CAST(to_json(list(round(m, 6) ORDER BY b)) AS VARCHAR) AS sm_json
        FROM sm GROUP BY 1 ORDER BY 1""")),

    "q_series_fill" -> QueryDef(
      // the series_fill family over a gappy series (odd daily counts
      // knocked out to null): fill_forward / fill_backward / fill_const /
      // fill_linear, each an array HOF lane inside ONE codegen'd projection
      // — no extra shuffle beyond make-series' own. The oracle restates the
      // fills as IGNORE NULLS window functions over the same day grid, with
      // the identical interpolation spelling p + (q−p)·(i−pi)/(qi−pi).
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count()
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          |     by event_type
          | | extend g = transform(n, v -> if(v % 2 == 1, CAST(NULL AS DOUBLE), CAST(v AS DOUBLE)))
          | | extend ff = series_fill_forward(g), fb = series_fill_backward(g),
          |          fc = series_fill_const(g, -1.0), fl = series_fill_linear(g)
          | | project event_type,
          |     ff_json = to_json(transform(ff, v -> round(v, 6))),
          |     fb_json = to_json(transform(fb, v -> round(v, 6))),
          |     fc_json = to_json(transform(fc, v -> round(v, 6))),
          |     fl_json = to_json(transform(fl, v -> round(v, 6)))
          | | order by event_type asc""".stripMargin),
      Some("""
        WITH e AS (SELECT event_type, epoch_ns(ts) AS tn FROM events),
             binned AS (
               SELECT event_type,
                      1704067200000000000 + CAST(floor((tn - 1704067200000000000) / 86400000000000) AS BIGINT) * 86400000000000 AS b,
                      count(*) AS n
               FROM e
               WHERE tn >= 1704067200000000000 AND tn < 1706659200000000000
               GROUP BY 1, 2),
             grid AS (
               SELECT k.event_type, g.b, CAST(coalesce(n, 0) AS BIGINT) AS v
               FROM (SELECT DISTINCT event_type FROM binned) k
               CROSS JOIN (SELECT unnest(range(1704067200000000000, 1706659200000000000, 86400000000000)) AS b) g
               LEFT JOIN binned USING (event_type, b)),
             g2 AS (
               SELECT event_type, b,
                      CASE WHEN v % 2 = 1 THEN NULL ELSE CAST(v AS DOUBLE) END AS gv,
                      row_number() OVER (PARTITION BY event_type ORDER BY b) - 1 AS i
               FROM grid),
             f AS (
               SELECT event_type, b, gv, i,
                      last_value(gv IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff,
                      first_value(gv IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fb,
                      coalesce(gv, -1.0) AS fc,
                      last_value(CASE WHEN gv IS NOT NULL THEN i END IGNORE NULLS)
                        OVER (PARTITION BY event_type ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pi,
                      first_value(CASE WHEN gv IS NOT NULL THEN i END IGNORE NULLS)
                        OVER (PARTITION BY event_type ORDER BY b
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS qi
               FROM g2),
             f2 AS (
               SELECT event_type, b, ff, fb, fc,
                      CASE WHEN gv IS NOT NULL THEN gv
                           WHEN pi IS NULL AND qi IS NULL THEN NULL
                           WHEN pi IS NULL THEN fb
                           WHEN qi IS NULL THEN ff
                           ELSE ff + (fb - ff) * CAST(i - pi AS DOUBLE) / CAST(qi - pi AS DOUBLE)
                      END AS fl
               FROM f)
        SELECT event_type,
               CAST(to_json(list(round(ff, 6) ORDER BY b)) AS VARCHAR) AS ff_json,
               CAST(to_json(list(round(fb, 6) ORDER BY b)) AS VARCHAR) AS fb_json,
               CAST(to_json(list(round(fc, 6) ORDER BY b)) AS VARCHAR) AS fc_json,
               CAST(to_json(list(round(fl, 6) ORDER BY b)) AS VARCHAR) AS fl_json
        FROM f2 GROUP BY 1 ORDER BY 1""")),

    "q_series_arith" -> QueryDef(
      // element-wise series arithmetic lanes (multiply / add / divide) and
      // scalar folds (series_sum / series_avg) — all zip_with/aggregate
      // HOFs in one projection; counts are integer-valued so the folds are
      // fold-order exact-safe cross-engine.
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count()
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          |     by event_type
          | | extend a2 = series_multiply(n, n),
          |          d = series_divide(series_add(n, n), transform(n, v -> CAST(v + 1 AS DOUBLE))),
          |          tot = series_sum(n), mean = round(series_avg(n), 6)
          | | project event_type, tot, mean,
          |     a2_json = to_json(transform(a2, v -> round(v, 6))),
          |     d_json = to_json(transform(d, v -> round(v, 6)))
          | | order by event_type asc""".stripMargin),
      Some("""
        WITH e AS (SELECT event_type, epoch_ns(ts) AS tn FROM events),
             binned AS (
               SELECT event_type,
                      1704067200000000000 + CAST(floor((tn - 1704067200000000000) / 86400000000000) AS BIGINT) * 86400000000000 AS b,
                      count(*) AS n
               FROM e
               WHERE tn >= 1704067200000000000 AND tn < 1706659200000000000
               GROUP BY 1, 2),
             grid AS (
               SELECT k.event_type, g.b, CAST(coalesce(n, 0) AS DOUBLE) AS v
               FROM (SELECT DISTINCT event_type FROM binned) k
               CROSS JOIN (SELECT unnest(range(1704067200000000000, 1706659200000000000, 86400000000000)) AS b) g
               LEFT JOIN binned USING (event_type, b))
        SELECT event_type,
               sum(v) AS tot,
               round(sum(v) / count(*), 6) AS mean,
               CAST(to_json(list(round(v * v, 6) ORDER BY b)) AS VARCHAR) AS a2_json,
               CAST(to_json(list(round((v + v) / (v + 1), 6) ORDER BY b)) AS VARCHAR) AS d_json
        FROM grid GROUP BY 1 ORDER BY 1""")),

    "q_series_corr" -> QueryDef(
      // multi-aggregation make-series (n = count(), sv = sum(value) — one
      // shuffle builds both series) + series_pearson_correlation between
      // the two; svs pins the second series beyond what r alone would
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count(), sv = sum(value)
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          |     by event_type
          | | extend r = round(series_pearson_correlation(n, sv), 6),
          |     svs = round(series_sum(sv), 2)
          | | project event_type, r, svs
          | | order by event_type asc""".stripMargin),
      Some("""
        WITH e AS (SELECT event_type, epoch_ns(ts) AS tn, value FROM events),
             binned AS (
               SELECT event_type,
                      1704067200000000000 + CAST(floor((tn - 1704067200000000000) / 86400000000000) AS BIGINT) * 86400000000000 AS b,
                      count(*) AS n, sum(value) AS sv
               FROM e
               WHERE tn >= 1704067200000000000 AND tn < 1706659200000000000
               GROUP BY 1, 2),
             grid AS (
               SELECT k.event_type, g.b,
                      CAST(coalesce(n, 0) AS DOUBLE) AS nv,
                      CAST(coalesce(sv, 0) AS DOUBLE) AS svv
               FROM (SELECT DISTINCT event_type FROM binned) k
               CROSS JOIN (SELECT unnest(range(1704067200000000000, 1706659200000000000, 86400000000000)) AS b) g
               LEFT JOIN binned USING (event_type, b))
        SELECT event_type,
               round(corr(nv, svv), 6) AS r,
               round(sum(svv), 2) AS svs
        FROM grid GROUP BY 1 ORDER BY 1""")),

    "q_series_seasonal" -> QueryDef(
      // series_seasonal: per-phase means of the raw series repeated along
      // it (week-of-7 phases over the daily grid). Counts are integers, so
      // the phase sums are exact in double regardless of fold order and
      // the DuckDB avg() restates them exactly
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count()
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          |     by event_type
          | | extend sz = series_seasonal(n, 7)
          | | project event_type, s_json = to_json(transform(sz, v -> round(v, 6)))
          | | order by event_type asc""".stripMargin),
      Some("""
        WITH e AS (SELECT event_type, epoch_ns(ts) AS tn FROM events),
             binned AS (
               SELECT event_type,
                      1704067200000000000 + CAST(floor((tn - 1704067200000000000) / 86400000000000) AS BIGINT) * 86400000000000 AS b,
                      count(*) AS n
               FROM e
               WHERE tn >= 1704067200000000000 AND tn < 1706659200000000000
               GROUP BY 1, 2),
             grid AS (
               SELECT k.event_type, g.b,
                      CAST(coalesce(n, 0) AS DOUBLE) AS v,
                      CAST(((g.b - 1704067200000000000) / 86400000000000) % 7 AS INT) AS ph
               FROM (SELECT DISTINCT event_type FROM binned) k
               CROSS JOIN (SELECT unnest(range(1704067200000000000, 1706659200000000000, 86400000000000)) AS b) g
               LEFT JOIN binned USING (event_type, b)),
             pm AS (SELECT event_type, ph, avg(v) AS m FROM grid GROUP BY 1, 2)
        SELECT g.event_type,
               CAST(to_json(list(round(m, 6) ORDER BY g.b)) AS VARCHAR) AS s_json
        FROM grid g JOIN pm USING (event_type, ph)
        GROUP BY 1 ORDER BY 1""")),

    "q_series_decompose" -> QueryDef(
      // classical additive decomposition, period 7 (weekly) over the daily
      // grid: trend (centered MA-7, renormalized edges), per-phase seasonal
      // means, residual. The oracle restates each component with window
      // functions — AVG OVER ROWS ±3 IS the renormalized centered MA.
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count()
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          |     by event_type
          | | extend d = series_decompose(n, 7)
          | | project event_type,
          |     trend_json = to_json(transform(d.trend, v -> round(v, 6))),
          |     seasonal_json = to_json(transform(d.seasonal, v -> round(v, 6))),
          |     resid_json = to_json(transform(d.residual, v -> round(v, 6)))
          | | order by event_type asc""".stripMargin),
      Some("""
        WITH e AS (SELECT event_type, epoch_ns(ts) AS tn FROM events),
             binned AS (
               SELECT event_type,
                      1704067200000000000 + CAST(floor((tn - 1704067200000000000) / 86400000000000) AS BIGINT) * 86400000000000 AS b,
                      count(*) AS n
               FROM e
               WHERE tn >= 1704067200000000000 AND tn < 1706659200000000000
               GROUP BY 1, 2),
             grid AS (
               SELECT k.event_type, g.b,
                      CAST(coalesce(n, 0) AS DOUBLE) AS v
               FROM (SELECT DISTINCT event_type FROM binned) k
               CROSS JOIN (SELECT unnest(range(1704067200000000000, 1706659200000000000, 86400000000000)) AS b) g
               LEFT JOIN binned USING (event_type, b)),
             tr AS (
               SELECT event_type, b, v,
                      CAST(row_number() OVER (PARTITION BY event_type ORDER BY b) - 1 AS BIGINT) AS rn,
                      avg(v) OVER (PARTITION BY event_type ORDER BY b
                                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t
               FROM grid),
             se AS (
               SELECT event_type, b, v, t,
                      avg(v - t) OVER (PARTITION BY event_type, rn % 7) AS s
               FROM tr)
        SELECT event_type,
               CAST(to_json(list(round(t, 6) ORDER BY b)) AS VARCHAR) AS trend_json,
               CAST(to_json(list(round(s, 6) ORDER BY b)) AS VARCHAR) AS seasonal_json,
               CAST(to_json(list(round(v - t - s, 6) ORDER BY b)) AS VARCHAR) AS resid_json
        FROM se GROUP BY 1 ORDER BY 1""")),

    "q_series_anomalies" -> QueryDef(
      // series_decompose_anomalies = Tukey scores on the decomposition
      // residual (period 7). The Catalyst optimizer's extract-value
      // simplification collapses the emitted struct access, so only the
      // residual lane actually evaluates.
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count()
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          |     by event_type
          | | extend a = series_decompose_anomalies(n, 7)
          | | project event_type, a_json = to_json(transform(a, v -> round(v, 6)))
          | | order by event_type asc""".stripMargin),
      Some("""
        WITH e AS (SELECT event_type, epoch_ns(ts) AS tn FROM events),
             binned AS (
               SELECT event_type,
                      1704067200000000000 + CAST(floor((tn - 1704067200000000000) / 86400000000000) AS BIGINT) * 86400000000000 AS b,
                      count(*) AS n
               FROM e
               WHERE tn >= 1704067200000000000 AND tn < 1706659200000000000
               GROUP BY 1, 2),
             grid AS (
               SELECT k.event_type, g.b,
                      CAST(coalesce(n, 0) AS DOUBLE) AS v
               FROM (SELECT DISTINCT event_type FROM binned) k
               CROSS JOIN (SELECT unnest(range(1704067200000000000, 1706659200000000000, 86400000000000)) AS b) g
               LEFT JOIN binned USING (event_type, b)),
             tr AS (
               SELECT event_type, b, v,
                      CAST(row_number() OVER (PARTITION BY event_type ORDER BY b) - 1 AS BIGINT) AS rn,
                      avg(v) OVER (PARTITION BY event_type ORDER BY b
                                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t
               FROM grid),
             se AS (
               SELECT event_type, b,
                      v - t - avg(v - t) OVER (PARTITION BY event_type, rn % 7) AS res
               FROM tr),
             q AS (
               SELECT event_type,
                      quantile_cont(res, 0.25) AS q25,
                      quantile_cont(res, 0.75) AS q75
               FROM se GROUP BY 1)
        SELECT se.event_type,
               CAST(to_json(list(
                 round(CASE WHEN q75 - q25 <= 0 THEN 0
                            WHEN res > q75 THEN (res - q75) / (q75 - q25)
                            WHEN res < q25 THEN (res - q25) / (q75 - q25)
                            ELSE 0 END, 6)
                 ORDER BY se.b)) AS VARCHAR) AS a_json
        FROM se JOIN q USING (event_type)
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_narrow" -> QueryDef(
      // `evaluate narrow()`: wide→long (Row, Column, Value) string triples;
      // Row follows the pre-narrow sort (ZipIndex numbering, no
      // single-partition window). Doubles stringify shortest-round-trip on
      // both engines.
      (s, dir) => kqlRun(s, dir,
        """orders
          | | where o_orderkey <= 160
          | | project o_orderkey, o_orderstatus, o_totalprice
          | | order by o_orderkey asc
          | | evaluate narrow()
          | | order by Row asc, Column asc""".stripMargin),
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice,
                 row_number() OVER (ORDER BY o_orderkey) - 1 AS r
          FROM orders WHERE o_orderkey <= 160)
        SELECT r AS "Row", 'o_orderkey' AS "Column",
               CAST(o_orderkey AS VARCHAR) AS "Value" FROM base
        UNION ALL
        SELECT r, 'o_orderstatus', o_orderstatus FROM base
        UNION ALL
        SELECT r, 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM base
        ORDER BY 1, 2""")),

    "q_kql_basket" -> QueryDef(
      // `evaluate basket(0.05)`: frequent itemsets over (status, priority)
      // via ONE cube + support filter — the Apriori lattice in a single
      // shuffle. Wildcards surface as '*' for a total output order.
      (s, dir) => kqlRun(s, dir,
        """orders
          | | project o_orderstatus, o_orderpriority
          | | evaluate basket(0.05)
          | | project status = coalesce(o_orderstatus, '*'),
          |     priority = coalesce(o_orderpriority, '*'), Count, Percent
          | | order by Count desc, status asc, priority asc""".stripMargin),
      Some("""
        WITH total AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM orders),
             c AS (
               SELECT coalesce(o_orderstatus, '*') AS status,
                      coalesce(o_orderpriority, '*') AS priority,
                      count(*) AS cnt,
                      GROUPING(o_orderstatus) AS gs,
                      GROUPING(o_orderpriority) AS gp
               FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority))
        SELECT status, priority, cnt AS "Count",
               round(cnt * 100 / t, 6) AS "Percent"
        FROM c, total
        WHERE NOT (gs = 1 AND gp = 1) AND cnt >= t * 0.05
        ORDER BY cnt DESC, status, priority""")),

    "q_kql_reduce" -> QueryDef(
      // `reduce by`: pattern-group strings (digit runs → '*', deterministic
      // simplification of ADX's fuzzy plugin — see KqlPipeline). One
      // hash-groupBy; threshold drops patterns under 1% coverage.
      (s, dir) => kqlRun(s, dir,
        """events
          | | reduce by strcat(event_type, '#', tostring(user_id % 97))
          |     with threshold = 0.01
          | | order by Count desc, Pattern asc""".stripMargin),
      Some("""
        WITH s AS (SELECT event_type || '#' || CAST(user_id % 97 AS VARCHAR) AS v
                   FROM events),
             g AS (SELECT regexp_replace(v, '[0-9]+', '*', 'g') AS "Pattern",
                          count(*) AS "Count", min(v) AS "Representative"
                   FROM s GROUP BY 1),
             t AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM events)
        SELECT "Pattern", "Count", "Representative"
        FROM g, t WHERE "Count" >= t * 0.01
        ORDER BY "Count" DESC, "Pattern"""")),

    "q_kql_ipfuncs" -> QueryDef(
      // IPv4 + digest/base64 scalar tail over an inline datatable: the
      // whole row is scalar-expression work (codegen'd; no shuffle at all)
      (s, dir) => kqlRun(s, dir,
        """datatable (ip:string) [
          |   '10.1.2.3', '172.16.0.1', '172.32.0.1', '192.168.255.1',
          |   '8.8.8.8', '256.1.1.1', 'not-an-ip', '1.2.3'
          | ]
          | | extend ipn = parse_ipv4(ip),
          |     priv = ipv4_is_private(ip),
          |     in24 = ipv4_is_in_range(ip, '10.1.2.0/24'),
          |     rt = format_ipv4(parse_ipv4(ip)),
          |     b64 = base64_encode_tostring(ip),
          |     rb = base64_decode_tostring(base64_encode_tostring(ip)),
          |     h = hash_sha256(ip)
          | | project ip, ipn, priv, in24, rt, b64, rb, h
          | | order by ip asc""".stripMargin),
      Some("""
        WITH d AS (SELECT unnest(['10.1.2.3', '172.16.0.1', '172.32.0.1',
                                  '192.168.255.1', '8.8.8.8', '256.1.1.1',
                                  'not-an-ip', '1.2.3']) AS ip),
             p AS (
               SELECT ip,
                      CASE WHEN len(string_split(ip, '.')) = 4
                             AND NOT EXISTS (SELECT 1 FROM unnest(string_split(ip, '.')) u(o)
                                             WHERE TRY_CAST(o AS BIGINT) IS NULL
                                                OR TRY_CAST(o AS BIGINT) NOT BETWEEN 0 AND 255)
                        THEN CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
                           + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
                           + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
                           + CAST(string_split(ip, '.')[4] AS BIGINT)
                      END AS ipn
               FROM d)
        SELECT ip, ipn,
               (ipn BETWEEN 167772160 AND 184549375
                OR ipn BETWEEN 2886729728 AND 2887778303
                OR ipn BETWEEN 3232235520 AND 3232301055) AS priv,
               (ipn // 256 = 655618) AS in24,
               CASE WHEN ipn IS NOT NULL THEN
                 CAST(ipn // 16777216 % 256 AS VARCHAR) || '.' ||
                 CAST(ipn // 65536 % 256 AS VARCHAR) || '.' ||
                 CAST(ipn // 256 % 256 AS VARCHAR) || '.' ||
                 CAST(ipn % 256 AS VARCHAR)
               END AS rt,
               to_base64(CAST(ip AS BLOB)) AS b64,
               CAST(from_base64(to_base64(CAST(ip AS BLOB))) AS VARCHAR) AS rb,
               sha256(ip) AS h
        FROM p ORDER BY ip""")),

    "q_kql_graph_match" -> QueryDef(
      // make-graph + graph-match over a heterogeneous TPC-H graph:
      // customer→supplier edges (orders⋈lineitem) and supplier→part edges
      // (lineitem), nodes labeled by origin table. The 2-hop pattern
      // (c)-[e1]->(s)-[e2]->(p) counts paths through each supplier. The
      // qty = 50 edge predicates PUSH THROUGH the pattern's join chain
      // into both lineitem scans (graph-match is plain Catalyst joins), so
      // the match runs on ~2% of the edge list — the scale story at 100 TB.
      (s, dir) => kqlRun(s, dir,
        """let E = orders
          |   | join kind=inner hint.strategy=shuffle (lineitem) on $left.o_orderkey == $right.l_orderkey
          |   | project src = strcat('c', tostring(o_custkey)),
          |       dst = strcat('s', tostring(l_suppkey)), qty = l_quantity
          |   | union (lineitem
          |       | project src = strcat('s', tostring(l_suppkey)),
          |           dst = strcat('p', tostring(l_partkey)), qty = l_quantity);
          |let N = customer
          |   | project id = strcat('c', tostring(c_custkey)), label = 'cust'
          |   | union (supplier | project id = strcat('s', tostring(s_suppkey)), label = 'supp')
          |   | union (part | project id = strcat('p', tostring(p_partkey)), label = 'part');
          |E
          | | make-graph src --> dst with N on id
          | | graph-match (c)-[e1]->(s)-[e2]->(p)
          |     where c.label == 'cust' and p.label == 'part'
          |       and e1.qty == 50 and e2.qty == 50
          |     project sid = s.id
          | | summarize paths = count() by sid
          | | order by paths desc, sid asc
          | | take 10""".stripMargin),
      Some("""
        WITH ce AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS sid
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                    WHERE l_quantity = 50),
             pe AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS sid
                    FROM lineitem WHERE l_quantity = 50)
        SELECT c.sid, c.n * p.n AS paths
        FROM (SELECT sid, count(*) AS n FROM ce GROUP BY 1) c
        JOIN (SELECT sid, count(*) AS n FROM pe GROUP BY 1) p USING (sid)
        ORDER BY paths DESC, c.sid LIMIT 10""")),

    "q_kql_graph_components" -> QueryDef(
      // graph-mark-components — ADX's connected-components operator,
      // completing the graph family (make-graph / graph-match /
      // graph-shortest-paths / graph-to-table): weak components of the
      // sparse bulk-shipment graph via iterative min-label propagation
      // (one key shuffle per round, rounds = component diameter; 55
      // components, largest 39 nodes at sf0.01 — probed). Component id =
      // MIN reachable node id, so the recursive-closure oracle re-derives
      // the exact labeling
      (s, dir) => kqlRun(s, dir,
        """orders
          | | join kind=inner (lineitem) on $left.o_orderkey == $right.l_orderkey
          | | where l_quantity == 50 and o_orderkey < 3000
          | | project src = strcat('c', tostring(o_custkey)),
          |     dst = strcat('s', tostring(l_suppkey))
          | | make-graph src --> dst
          | | graph-mark-components with_component_id = comp
          | | graph-to-table nodes
          | | summarize n_nodes = count() by comp
          | | order by n_nodes desc, comp asc
          | | take 20""".stripMargin),
      Some("""
        WITH e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                           's' || CAST(l_suppkey AS VARCHAR) AS b
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                    WHERE l_quantity = 50 AND o_orderkey < 3000),
        edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        nodes AS (SELECT DISTINCT a AS id FROM edges),
        reach AS (
          WITH RECURSIVE rr(a, b) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT rr.a, e.b FROM rr JOIN edges e ON rr.b = e.a)
          SELECT * FROM rr),
        cl AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY 1)
        SELECT comp, count(*) AS n_nodes FROM cl GROUP BY 1
        ORDER BY n_nodes DESC, comp LIMIT 20""")),

    "q_kql_join_rightanti" -> QueryDef(
      // kind=rightanti: parts never shipped in bulk (no lineitem with
      // quantity ≥ 45). Lowered as the side-swapped left_anti — result
      // carries RIGHT-side columns only, the ADX contract.
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | where l_quantity >= 45
          | | join kind=rightanti (part) on $left.l_partkey == $right.p_partkey
          | | project p_partkey, p_brand
          | | order by p_partkey asc""".stripMargin),
      Some("""
        SELECT p_partkey, p_brand FROM part
        WHERE NOT EXISTS (SELECT 1 FROM lineitem
                          WHERE l_partkey = p_partkey AND l_quantity >= 45)
        ORDER BY p_partkey""")),

    // ---- ADX activity-analytics plugin family -----------------------------
    // All four lower through ActivityMetrics' explode-to-covered-bins
    // shapes (per-bin partials → bounded w-way explode → re-aggregate;
    // never a range self-join). Axis = epoch-nanos over the events span
    // (Jan 2024), day bins; the DuckDB twins restate the identical grid
    // arithmetic on epoch_us(ts)*1000.

    "q_kql_activity_counts" -> QueryDef(
      // per-day count / dcount / first-seen dcount / cumulative dcount
      (s, dir) => kqlRun(s, dir,
        """events
          | | evaluate activity_counts_metrics(user_id, ts,
          |     1704067200000000000, 1706659200000000000, 86400000000000)
          | | order by timestamp asc""".stripMargin),
      Some("""
        WITH b AS (SELECT user_id,
                     1704067200000000000 + (epoch_us(ts)*1000 - 1704067200000000000)
                       // 86400000000000 * 86400000000000 AS bin
                   FROM events
                   WHERE epoch_us(ts)*1000 >= 1704067200000000000
                     AND epoch_us(ts)*1000 < 1706659200000000000),
             per AS (SELECT bin, count(*) AS cnt, count(DISTINCT user_id) AS dc
                     FROM b GROUP BY 1),
             nu AS (SELECT bin, count(*) AS nd
                    FROM (SELECT user_id, min(bin) AS bin FROM b GROUP BY 1)
                    GROUP BY 1)
        SELECT per.bin AS "timestamp", cnt AS "count", dc AS dcount,
               coalesce(nd, 0) AS new_dcount,
               CAST(sum(coalesce(nd, 0)) OVER (ORDER BY per.bin) AS BIGINT)
                 AS aggregated_dcount
        FROM per LEFT JOIN nu USING (bin) ORDER BY 1""")),

    "q_kql_sliding_window" -> QueryDef(
      // trailing 7-day row count + distinct users per day: the rolling-MAU
      // shape. Spark explodes each per-day partial to the ≤7 grid points it
      // covers; the oracle restates the window as a bin range join.
      (s, dir) => kqlRun(s, dir,
        """events
          | | evaluate sliding_window_counts(user_id, ts,
          |     1704067200000000000, 1706659200000000000,
          |     604800000000000, 86400000000000)
          | | order by timestamp asc""".stripMargin),
      Some("""
        WITH b AS (SELECT user_id,
                     1704067200000000000 + (epoch_us(ts)*1000 - 1704067200000000000)
                       // 86400000000000 * 86400000000000 AS bin
                   FROM events
                   WHERE epoch_us(ts)*1000 >= 1704067200000000000
                     AND epoch_us(ts)*1000 < 1706659200000000000),
             grid AS (SELECT unnest(range(1704067200000000000,
                                          1706659200000000000,
                                          86400000000000)) AS t)
        SELECT t AS "timestamp", count(*) AS "count",
               count(DISTINCT user_id) AS dcount
        FROM grid JOIN b ON bin <= t AND bin > t - 604800000000000
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_active_users" -> QueryDef(
      // users active on ≥5 distinct days inside the trailing week, per day
      (s, dir) => kqlRun(s, dir,
        """events
          | | evaluate active_users_count(user_id, ts,
          |     1704067200000000000, 1706659200000000000,
          |     604800000000000, 86400000000000, 5, 86400000000000)
          | | order by timestamp asc""".stripMargin),
      Some("""
        WITH p AS (SELECT DISTINCT user_id,
                     1704067200000000000 + (epoch_us(ts)*1000 - 1704067200000000000)
                       // 86400000000000 * 86400000000000 AS pb
                   FROM events
                   WHERE epoch_us(ts)*1000 >= 1704067200000000000
                     AND epoch_us(ts)*1000 < 1706659200000000000),
             grid AS (SELECT unnest(range(1704067200000000000,
                                          1706659200000000000,
                                          86400000000000)) AS t),
             j AS (SELECT t, user_id
                   FROM grid JOIN p ON pb <= t AND pb > t - 604800000000000
                   GROUP BY 1, 2 HAVING count(DISTINCT pb) >= 5)
        SELECT t AS "timestamp", count(*) AS dcount
        FROM j GROUP BY 1 ORDER BY 1""")),

    "q_kql_activity_metrics" -> QueryDef(
      // per-day engagement: distinct users, first-seen users, adjacent-day
      // retention/churn (rates NULL on the first bin — no predecessor)
      (s, dir) => kqlRun(s, dir,
        """events
          | | evaluate activity_metrics(user_id, ts,
          |     1704067200000000000, 1706659200000000000, 86400000000000)
          | | order by timestamp asc""".stripMargin),
      Some("""
        WITH b AS (SELECT DISTINCT user_id,
                     1704067200000000000 + (epoch_us(ts)*1000 - 1704067200000000000)
                       // 86400000000000 * 86400000000000 AS bin
                   FROM events
                   WHERE epoch_us(ts)*1000 >= 1704067200000000000
                     AND epoch_us(ts)*1000 < 1706659200000000000),
             per AS (SELECT bin, count(*) AS dv FROM b GROUP BY 1),
             fs AS (SELECT bin, count(*) AS nv
                    FROM (SELECT user_id, min(bin) AS bin FROM b GROUP BY 1)
                    GROUP BY 1),
             ret AS (SELECT b2.bin, count(*) AS r
                     FROM b b1 JOIN b b2
                       ON b1.user_id = b2.user_id
                      AND b2.bin = b1.bin + 86400000000000
                     GROUP BY 1),
             j AS (SELECT per.bin, per.dv, coalesce(nv, 0) AS nv,
                          coalesce(r, 0) AS r, prev.dv AS prev
                   FROM per LEFT JOIN fs USING (bin)
                            LEFT JOIN ret ON ret.bin = per.bin
                            LEFT JOIN per prev
                              ON prev.bin + 86400000000000 = per.bin)
        SELECT bin AS "timestamp", dv AS dcount_values, nv AS dcount_newvalues,
               round(CAST(r AS DOUBLE) / prev, 6) AS retention_rate,
               round(1 - CAST(r AS DOUBLE) / prev, 6) AS churn_rate
        FROM j ORDER BY 1""")),

    "q_kql_diffpatterns_text" -> QueryDef(
      // token-share difference between English and non-English documents:
      // one explode + one hash groupBy, percents per cohort token total.
      // Threshold 0.05 (not 0.2): share differences SHRINK as the corpus
      // grows more uniform — 0.2 went vacuous (0 rows) at sf0.1 where the
      // max |diff| is 0.168; 0.05 yields 26 rows at sf0.01 and 13 at sf0.1.
      (s, dir) => kqlRun(s, dir,
        """documents
          | | evaluate diffpatterns_text(text, lang == 'en', 0.05)
          | | order by PercentDiff desc, token asc""".stripMargin),
      Some("""
        WITH tok AS (SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token,
                            lang = 'en' AS c
                     FROM documents),
             t2 AS (SELECT token, c FROM tok WHERE len(token) > 0),
             tot AS (SELECT CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS DOUBLE) AS ta,
                            CAST(sum(CASE WHEN NOT c THEN 1 ELSE 0 END) AS DOUBLE) AS tb
                     FROM t2),
             cand AS (SELECT token,
                        sum(CASE WHEN c THEN 1 ELSE 0 END) AS ca,
                        sum(CASE WHEN NOT c THEN 1 ELSE 0 END) AS cb
                      FROM t2 GROUP BY 1)
        SELECT token, CAST(ca AS BIGINT) AS CountA, CAST(cb AS BIGINT) AS CountB,
               round(ca * 100 / ta, 6) AS PercentA,
               round(cb * 100 / tb, 6) AS PercentB,
               round(round(ca * 100 / ta, 6) - round(cb * 100 / tb, 6), 6) AS PercentDiff
        FROM cand, tot
        WHERE abs(round(round(ca * 100 / ta, 6) - round(cb * 100 / tb, 6), 6)) >= 0.05
        ORDER BY PercentDiff DESC, token""")),

    "sim_hamming_topk" -> QueryDef(
      // sign-bit embeddings: 64-dim float vectors pack to ONE long (256×
      // compression), Hamming = xor + popcount per pair — integer-exact,
      // so this row hash-matches with NO tolerance gate. 5 broadcast
      // queries × corpus, top-10 by (hamming, id).
      (s, dir) => SimilarityFunctions.hammingTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding", nQueries = 5, k = 10)
        .orderBy(col("q_id"), col("ham"), col("vec_id")),
      Some("""
        WITH s AS (SELECT vec_id,
                     -- DuckDB's checked << rejects 1<<63; spell the sign
                     -- bit as the literal long (bit_or is two's-complement
                     -- clean either way)
                     list_aggregate(list_transform(
                       generate_series(1, len(embedding)),
                       i -> CASE WHEN embedding[i] <= 0 THEN 0
                                 WHEN i = 64 THEN CAST(-9223372036854775808 AS BIGINT)
                                 ELSE (CAST(1 AS BIGINT) << (i - 1)) END),
                       'bit_or') AS sig
                   FROM embeddings),
             q AS (SELECT vec_id AS q_id, sig AS q_sig FROM s WHERE vec_id < 5),
             d AS (SELECT q_id, s.vec_id,
                     CAST(bit_count(xor(sig, q_sig)) AS INT) AS ham,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY bit_count(xor(sig, q_sig)), s.vec_id) AS rn
                   FROM q, s)
        SELECT q_id, vec_id, ham FROM d WHERE rn <= 10
        ORDER BY q_id, ham, vec_id""")),

    "q_kql_funnel_completion" -> QueryDef(
      // funnel_sequence_completion: distinct users completing each prefix
      // of click→purchase within 1-day and 7-day budgets — one scan per
      // prefix, single-row aggregates unioned. Oracle: prefix 1 is plain
      // click dcount; prefix 2 is the scan closed form + span bound.
      (s, dir) => kqlRun(s, dir,
        """events
          | | where event_type in ('click', 'purchase')
          | | evaluate funnel_sequence_completion(user_id, ts, event_type,
          |     dynamic(['click', 'purchase']),
          |     dynamic([86400000000000, 604800000000000]))
          | | order by prefix asc, window asc""".stripMargin),
      Some("""
        WITH lp AS (SELECT user_id, event_type, epoch_us(ts) AS tn FROM events
                    WHERE event_type IN ('click','purchase')),
        c1 AS (SELECT count(DISTINCT user_id) AS d FROM lp
               WHERE event_type = 'click'),
        m AS (SELECT user_id, event_type, tn,
                max(CASE WHEN event_type = 'click' THEN tn END)
                  OVER (PARTITION BY user_id ORDER BY tn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_a
              FROM lp),
        b AS (SELECT user_id, tn, last_a,
                lag(tn) OVER (PARTITION BY user_id ORDER BY tn) AS prev_b
              FROM m WHERE event_type = 'purchase'),
        comp AS (SELECT user_id, tn - last_a AS dur FROM b
                 WHERE last_a IS NOT NULL AND (prev_b IS NULL OR last_a > prev_b))
        SELECT CAST(1 AS INT) AS prefix, CAST(86400000000000 AS BIGINT) AS "window", d AS dcount FROM c1
        UNION ALL SELECT 1, 604800000000000, d FROM c1
        UNION ALL SELECT 2, 86400000000000,
          (SELECT count(DISTINCT user_id) FROM comp WHERE dur <= 86400000000)
        UNION ALL SELECT 2, 604800000000000,
          (SELECT count(DISTINCT user_id) FROM comp WHERE dur <= 604800000000)
        ORDER BY 1, 2""")),

    "q_kql_geo_datetime" -> QueryDef(
      // datetime scalar tail + haversine geo distance over synthetic
      // per-order coordinates; meters round to 3 (the formula restates
      // identically on both engines, so only libm last-ulp noise is left)
      (s, dir) => kqlRun(s, dir,
        """orders
          | | where o_orderkey <= 400
          | | extend lon = (o_orderkey % 180) * 1.0 - 90.0,
          |     lat = (o_orderkey % 80) * 1.0 - 40.0
          | | project o_orderkey,
          |     dom = dayofmonth(o_orderdate), doy = dayofyear(o_orderdate),
          |     woy = week_of_year(o_orderdate),
          |     dist_m = round(geo_distance_2points(lon, lat, 10.0, 20.0), 3),
          |     near = geo_point_in_circle(lon, lat, 10.0, 20.0, 3000000.0)
          | | order by o_orderkey asc""".stripMargin),
      Some("""
        WITH f AS (SELECT o_orderkey, o_orderdate,
                     (o_orderkey % 180) * 1.0 - 90.0 AS lon,
                     (o_orderkey % 80) * 1.0 - 40.0 AS lat
                   FROM orders WHERE o_orderkey <= 400),
             g AS (SELECT o_orderkey, o_orderdate, lon, lat,
                     2.0 * 6371008.8 * asin(sqrt(
                       pow(sin(radians(20.0 - lat) / 2), 2) +
                       cos(radians(lat)) * cos(radians(20.0)) *
                       pow(sin(radians(10.0 - lon) / 2), 2))) AS d
                   FROM f)
        SELECT o_orderkey,
               CAST(day(o_orderdate) AS INT) AS dom,
               CAST(dayofyear(o_orderdate) AS INT) AS doy,
               CAST(weekofyear(o_orderdate) AS INT) AS woy,
               round(d, 3) AS dist_m,
               d <= 3000000.0 AS near
        FROM g ORDER BY o_orderkey""")),

    "q_kql_ipv4_lookup" -> QueryDef(
      // longest-prefix CIDR attribution of synthetic event IPs: every ip is
      // 10.x.y.7 (matches corp /8); user 42's ips also match the more
      // specific lab /16 and must attribute there — the longest-prefix
      // rule, exercised through the bucketed equi-join lowering.
      (s, dir) => kqlRun(s, dir,
        """let nets = datatable (cidr:string, net:string) [
          |   '10.0.0.0/8', 'corp',
          |   '10.42.0.0/16', 'lab',
          |   '192.168.1.0/24', 'home',
          |   '172.16.0.0/12', 'priv'
          | ];
          |events
          | | extend ip = strcat('10.', tostring(user_id % 200), '.',
          |     tostring(event_id % 250), '.7')
          | | evaluate ipv4_lookup(nets, ip, cidr)
          | | summarize n = count() by net
          | | order by net asc""".stripMargin),
      Some("""
        WITH nets(cidr, net) AS (VALUES
               ('10.0.0.0/8', 'corp'), ('10.42.0.0/16', 'lab'),
               ('192.168.1.0/24', 'home'), ('172.16.0.0/12', 'priv')),
             l AS (SELECT cidr, net,
                     CAST(coalesce(nullif(split_part(cidr, '/', 2), ''), '32') AS INT) AS mask,
                     CAST(string_split(split_part(cidr, '/', 1), '.')[1] AS BIGINT) * 16777216
                     + CAST(string_split(split_part(cidr, '/', 1), '.')[2] AS BIGINT) * 65536
                     + CAST(string_split(split_part(cidr, '/', 1), '.')[3] AS BIGINT) * 256
                     + CAST(string_split(split_part(cidr, '/', 1), '.')[4] AS BIGINT) AS base
                   FROM nets),
             r AS (SELECT cidr, net, mask,
                     base - base % (CAST(1 AS BIGINT) << (32 - mask)) AS lo,
                     base - base % (CAST(1 AS BIGINT) << (32 - mask))
                       + (CAST(1 AS BIGINT) << (32 - mask)) - 1 AS hi
                   FROM l),
             f AS (SELECT event_id,
                     167772160 + (user_id % 200) * 65536 + (event_id % 250) * 256 + 7 AS ipn
                   FROM events),
             j AS (SELECT f.event_id, r.net,
                     row_number() OVER (PARTITION BY f.event_id
                                        ORDER BY r.mask DESC, r.cidr DESC) AS rn
                   FROM f JOIN r ON f.ipn BETWEEN r.lo AND r.hi)
        SELECT net, count(*) AS n FROM j WHERE rn = 1
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_make_series_auto" -> QueryDef(
      // make-series with from/to omitted: the axis is deduced from the
      // data — from = bin(min ts, 1d), to = bin(max ts, 1d) + 1d (one
      // bounded 1-row aggregate; probed: 30 daily bins). Oracle rebuilds
      // the same axis with generate_series and a bins × groups fill
      (s, dir) => kqlRun(s, dir,
        """events
          | | where user_id < 50
          | | extend et = event_type
          | | make-series n = count() on ts step 86400000000000 by et
          | | project et, n_json = to_json(n)
          | | order by et asc""".stripMargin),
      Some("""
        WITH RECURSIVE src AS (SELECT epoch_ns(ts) AS tsn, event_type AS et
                     FROM events WHERE user_id < 50),
             rng AS (SELECT (min(tsn) // 86400000000000) * 86400000000000 AS lo,
                            (max(tsn) // 86400000000000) * 86400000000000
                              + 86400000000000 AS hi FROM src),
             bins AS (SELECT lo AS b, hi FROM rng
                      UNION ALL
                      SELECT b + 86400000000000, hi FROM bins
                      WHERE b + 86400000000000 < hi),
             ets AS (SELECT DISTINCT et FROM src),
             counts AS (SELECT et, (tsn // 86400000000000) * 86400000000000 AS b,
                               count(*) AS n FROM src GROUP BY 1, 2)
        SELECT e.et, CAST(to_json(list(coalesce(c.n, 0) ORDER BY b.b)) AS VARCHAR) AS n_json
        FROM ets e CROSS JOIN bins b
        LEFT JOIN counts c ON c.et = e.et AND c.b = b.b
        GROUP BY e.et ORDER BY e.et""")),

    "q_kql_welch_test" -> QueryDef(
      // welch_test p-values: fixed vectors against an independent replica
      // of the same t-CDF numerics, a significance boolean, null on
      // count<2, and the engine-side shape — group stats aggregated from
      // lineitem (A vs N quantities are i.i.d. uniform → expect p ≫ 0.05;
      // probed: p ≈ 0.087)
      (s, dir) => kqlRun(s, dir,
        """let ma = toscalar(lineitem | where l_returnflag == 'A' | summarize avg(todouble(l_quantity)));
          |let va = toscalar(lineitem | where l_returnflag == 'A' | summarize variance(todouble(l_quantity)));
          |let na = toscalar(lineitem | where l_returnflag == 'A' | count);
          |let mn = toscalar(lineitem | where l_returnflag == 'N' | summarize avg(todouble(l_quantity)));
          |let vn = toscalar(lineitem | where l_returnflag == 'N' | summarize variance(todouble(l_quantity)));
          |let nn = toscalar(lineitem | where l_returnflag == 'N' | count);
          |print p1 = round(welch_test(5.0, 2.0, 30, 4.0, 3.0, 40), 6)
          | | project p1,
          |     p2 = round(welch_test(10.0, 4.0, 25, 10.5, 5.0, 25), 6),
          |     p3 = round(welch_test(3.0, 1.0, 50, 3.0, 1.0, 50), 6),
          |     sig = welch_test(5.0, 2.0, 30, 4.0, 3.0, 40) < 0.05,
          |     bad = isnull(welch_test(1.0, 1.0, 1, 2.0, 1.0, 30)),
          |     same = welch_test(ma, va, na, mn, vn, nn) > 0.05""".stripMargin),
      Some("""
        SELECT 0.009836 AS p1, 0.408835 AS p2, 1.0 AS p3,
               TRUE AS sig, TRUE AS bad, TRUE AS same""")),

    "q_series_forecast" -> QueryDef(
      // series_decompose_forecast over a 12-point season-4 series with a
      // 0.5/step linear trend, extended 4 points; oracle restates the
      // values from an independent replica of the same closed-form folds
      (s, dir) => kqlRun(s, dir,
        """print f = series_decompose_forecast(dynamic([10.0, 12.5, 11.0, 9.5, 12.0, 14.5, 13.0, 11.5, 14.0, 16.5, 15.0, 13.5]), 4, 4)
          | | project fc = to_json(transform(f, v -> round(v, 6)))""".stripMargin),
      Some("""
        SELECT '[9.769231,12.548563,11.105672,9.996115,11.664336,14.443667,13.000777,11.89122,13.559441,16.338772,14.895882,13.786325,15.454545,18.233877,16.790987,15.68143]' AS fc""")),

    "q_kql_convert_units" -> QueryDef(
      // convert_* unit family: literal units resolve to double factors at
      // rewrite time (affine path for temperature); oracle restates the
      // closed-form values
      (s, dir) => kqlRun(s, dir,
        """print a = round(convert_length(1.0, 'Mile', 'Kilometer'), 6)
          | | project a,
          |     b = round(convert_length(12.0, 'Inch', 'Foot'), 6),
          |     c = round(convert_mass(1.0, 'Pound', 'Gram'), 6),
          |     d = round(convert_speed(100.0, 'KilometerPerHour', 'MeterPerSecond'), 6),
          |     e = round(convert_temperature(212.0, 'Fahrenheit', 'Celsius'), 6),
          |     f = round(convert_temperature(0.0, 'Celsius', 'Kelvin'), 6),
          |     g = round(convert_volume(1.0, 'Gallon', 'Liter'), 6),
          |     h = round(convert_energy(1.0, 'KilowattHour', 'Kilojoule'), 6),
          |     i = round(convert_angle(180.0, 'Degree', 'Radian'), 6),
          |     j = round(convert_force(1.0, 'PoundForce', 'Newton'), 6),
          |     k = round(convert_power(1.0, 'MechanicalHorsepower', 'Watt'), 6),
          |     l = round(convert_power(2500.0, 'Kilowatt', 'Megawatt'), 6),
          |     m = round(convert_pressure(1.0, 'Atmosphere', 'Bar'), 6),
          |     n = round(convert_pressure(760.0, 'Torr', 'Kilopascal'), 6)""".stripMargin),
      Some("""
        SELECT 1.609344 AS a, 1.0 AS b, 453.59237 AS c, 27.777778 AS d,
               100.0 AS e, 273.15 AS f, 3.785412 AS g, 3600.0 AS h,
               3.141593 AS i, 4.448222 AS j, 745.699872 AS k, 2.5 AS l,
               1.01325 AS m, 101.325 AS n""")),

    "q_kql_parse_xml" -> QueryDef(
      // parse_xml (JDK DOM → bag, xmltodict conventions: @attrs, #text,
      // repeated tags → arrays, empty → null, XXE-hardened) and the
      // punycode domain pair (JDK IDN) — constants through the native
      // expression path; oracle restates
      (s, dir) => kqlRun(s, dir,
        """print x = parse_xml('<root a="1"><item>one</item><item>two</item><empty/><note id="n1">hi</note></root>')
          | | project x,
          |     second_item = extractjson('$.root.item[1]', x),
          |     bad = isnull(parse_xml('<broken')),
          |     pf = punycode_domain_from_string('bücher.example'),
          |     pt = punycode_domain_to_string('xn--bcher-kva.example')""".stripMargin),
      Some("""
        SELECT '{"root":{"@a":"1","item":["one","two"],"empty":null,"note":{"@id":"n1","#text":"hi"}}}' AS x,
               'two' AS second_item, TRUE AS bad,
               'xn--bcher-kva.example' AS pf, 'bücher.example' AS pt""")),

    "q_kql_geohash" -> QueryDef(
      // geohash encode/decode: classic test vectors (ezs42; Tokyo at
      // accuracy 7; default accuracy 5), central-point GeoJSON bag read
      // back via extractjson, an encode∘decode fixpoint, and null on
      // out-of-range coordinates
      (s, dir) => kqlRun(s, dir,
        """print c = geo_geohash_to_central_point('ezs42')
          | | project gh = geo_point_to_geohash(-5.6, 42.6, 5),
          |     gh7 = geo_point_to_geohash(139.6917, 35.6895, 7),
          |     ghd = geo_point_to_geohash(-5.6, 42.6),
          |     clng = round(todouble(extractjson('$.coordinates[0]', c)), 6),
          |     clat = round(todouble(extractjson('$.coordinates[1]', c)), 6),
          |     ctype = extractjson('$.type', c),
          |     roundtrip = geo_point_to_geohash(
          |       todouble(extractjson('$.coordinates[0]', geo_geohash_to_central_point('xn774c'))),
          |       todouble(extractjson('$.coordinates[1]', geo_geohash_to_central_point('xn774c'))), 6) == 'xn774c',
          |     bad = isnull(geo_point_to_geohash(200.0, 10.0))""".stripMargin),
      Some("""
        SELECT 'ezs42' AS gh, 'xn774c0' AS gh7, 'ezs42' AS ghd,
               -5.603027 AS clng, 42.60498 AS clat, 'Point' AS ctype,
               TRUE AS roundtrip, TRUE AS bad""")),

    "q_kql_geo_s2" -> QueryDef(
      // S2 cell family: canonical tokens (Paris level-5 '47e4', SF Bay
      // level-14 '8085809f', Tokyo level-11 '60188cc', face-0 center '1' —
      // well-known S2 region prefixes double as external validation of the
      // Hilbert tables), ADX's default level 11, the central-point GeoJSON
      // bag read back via extractjson, a center∘encode fixpoint, the
      // child-center-lands-in-parent containment law, and null on bad
      // coordinates / malformed tokens. S2CellSpec pins the algorithm's
      // structural invariants; this row pins the SQL surface.
      (s, dir) => kqlRun(s, dir,
        """print c = geo_s2cell_to_central_point('47e4'),
          |      p14 = geo_s2cell_to_central_point(geo_point_to_s2cell(2.3522, 48.8566, 14))
          | | project t11 = geo_point_to_s2cell(139.6917, 35.6895, 11),
          |     tdef = geo_point_to_s2cell(139.6917, 35.6895) == geo_point_to_s2cell(139.6917, 35.6895, 11),
          |     tsf = geo_point_to_s2cell(-122.4194, 37.7749, 14),
          |     f0 = geo_point_to_s2cell(0.0, 0.0, 0),
          |     clng = round(todouble(extractjson('$.coordinates[0]', c)), 6),
          |     clat = round(todouble(extractjson('$.coordinates[1]', c)), 6),
          |     ctype = extractjson('$.type', c),
          |     rt = geo_point_to_s2cell(todouble(extractjson('$.coordinates[0]', c)),
          |       todouble(extractjson('$.coordinates[1]', c)), 5) == '47e4',
          |     parent = geo_point_to_s2cell(todouble(extractjson('$.coordinates[0]', p14)),
          |       todouble(extractjson('$.coordinates[1]', p14)), 5) == geo_point_to_s2cell(2.3522, 48.8566, 5),
          |     bad = isnull(geo_point_to_s2cell(200.0, 10.0)),
          |     badlv = isnull(geo_point_to_s2cell(10.0, 10.0, 31)),
          |     badtok = isnull(geo_s2cell_to_central_point('zzz'))""".stripMargin),
      Some("""
        SELECT '60188cc' AS t11, TRUE AS tdef, '8085809f' AS tsf, '1' AS f0,
               1.38061 AS clng, 48.710894 AS clat, 'Point' AS ctype,
               TRUE AS rt, TRUE AS parent, TRUE AS bad, TRUE AS badlv,
               TRUE AS badtok""")),

    "q_kql_ipfuncs3" -> QueryDef(
      // ipv4_range_to_cidr_list (greedy largest-aligned-block range
      // summarization, native) — vectors cross-checked against Python
      // ipaddress.summarize_address_range — and has_any_index (first
      // whole-term match over a runtime term list, -1 on none/empty)
      (s, dir) => kqlRun(s, dir,
        """print cl = to_json(ipv4_range_to_cidr_list('192.168.1.5', '192.168.1.20'))
          | | project cl,
          |     cl24 = to_json(ipv4_range_to_cidr_list('10.0.0.0', '10.0.0.255')),
          |     cl0 = to_json(ipv4_range_to_cidr_list('0.0.0.0', '255.255.255.255')),
          |     cl1 = to_json(ipv4_range_to_cidr_list('1.2.3.4', '1.2.3.4')),
          |     clbad = isnull(ipv4_range_to_cidr_list('1.2.3.400', '1.2.3.4')),
          |     clrev = isnull(ipv4_range_to_cidr_list('2.0.0.0', '1.0.0.0')),
          |     hai = has_any_index('quick brown fox', dynamic(['wolf', 'fox', 'brown'])),
          |     hai2 = has_any_index('quick brown fox', dynamic(['wolf'])),
          |     haisub = has_any_index('administrators', dynamic(['admin']))""".stripMargin),
      Some("""
        SELECT '["192.168.1.5/32","192.168.1.6/31","192.168.1.8/29","192.168.1.16/30","192.168.1.20/32"]' AS cl,
               '["10.0.0.0/24"]' AS cl24, '["0.0.0.0/0"]' AS cl0,
               '["1.2.3.4/32"]' AS cl1, TRUE AS clbad, TRUE AS clrev,
               1 AS hai, -1 AS hai2, -1 AS haisub""")),

    "q_kql_geo_neighbors" -> QueryDef(
      // cell adjacency — the cover-join primitive (expand one side by its
      // neighbor ring, equi-join on the token: catches pairs straddling a
      // cell boundary with NO distance cross-join). Gated structurally:
      // face cell '1' has exactly the 4 edge faces as neighbors (exact
      // token list), a mid-face level-5 cell has 8 with MUTUAL adjacency
      // (each neighbor's neighbor ring contains the original — a strong
      // correctness law covering the cross-face ST-overflow wrap), the
      // geohash twin is mutual too, the top polar row keeps 5 of 8, and
      // malformed tokens are null.
      (s, dir) => kqlRun(s, dir,
        """print tok5 = geo_point_to_s2cell(2.3522, 48.8566, 5)
          | | extend nbp = geo_s2cell_neighbors(tok5)
          | | project nb0 = to_json(geo_s2cell_neighbors('1')),
          |     n8 = array_length(nbp) == 8,
          |     mutual = forall(nbp, n -> array_contains(geo_s2cell_neighbors(n), tok5)),
          |     ghn = array_length(geo_geohash_neighbors('ezs42')) == 8,
          |     ghmutual = forall(geo_geohash_neighbors('ezs42'),
          |       h -> array_contains(geo_geohash_neighbors(h), 'ezs42')),
          |     ghpolar = array_length(geo_geohash_neighbors(geo_point_to_geohash(10.0, 89.9, 4))) == 5,
          |     bad = isnull(geo_s2cell_neighbors('zzz')),
          |     ghbad = isnull(geo_geohash_neighbors('aaa'))""".stripMargin),
      Some("""
        SELECT '["3","5","9","b"]' AS nb0, TRUE AS n8, TRUE AS mutual,
               TRUE AS ghn, TRUE AS ghmutual, TRUE AS ghpolar,
               TRUE AS bad, TRUE AS ghbad""")),

    "q_kql_geo_s2join" -> QueryDef(
      // the SCALE story for geo: S2 cell tokens as a bucketed equi-join
      // key. Synthetic per-customer coordinates (exact integer arithmetic,
      // reproducible in any engine), level-4 cells, self-join on the cell
      // token — the plan is ONE shuffle on a short string key, never a
      // distance cross-join (the ipv4_lookup shape on the sphere). The
      // oracle cannot re-derive cell ids, so the output is the q_sketch
      // tolerance-boolean pattern: every same-cell pair must lie within
      // the level-4 cell's max diagonal (~950 km measured; 1100 km bound),
      // and the pair set must be non-empty (probed: 2014 pairs at sf0.01).
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_custkey").as("k"),
            ((col("c_custkey") * 7919 % 14000) / lit(100.0) - 70.0).as("lat"),
            ((col("c_custkey") * 104729 % 36000) / lit(100.0) - 180.0).as("lng"))
          .withColumn("cell", expr("geo_point_to_s2cell(lng, lat, 4)"))
        val pairs = c.as("a")
          .join(c.as("b").hint("merge"),
            col("a.cell") === col("b.cell") && col("a.k") < col("b.k"))
          .select(expr("2.0 * 6371008.8 * asin(sqrt(" +
            "pow(sin(radians(b.lat - a.lat) / 2), 2) + " +
            "cos(radians(a.lat)) * cos(radians(b.lat)) * " +
            "pow(sin(radians(b.lng - a.lng) / 2), 2)))").as("d"))
        pairs.agg(
          (count(lit(1)) > 0).as("nonvacuous"),
          (max(col("d")) <= 1100000.0).as("all_within_cell_diag"))
      },
      Some("SELECT TRUE AS nonvacuous, TRUE AS all_within_cell_diag")),

    "q_kql_geo_s2cover" -> QueryDef(
      // geo_polygon_to_s2cells unit surface: covering size pinned (the BFS
      // is deterministic — 81 level-6 cells, probed), every vertex's own
      // cell and an interior cell are members (the conservative-superset
      // contract), degenerate ring and out-of-range level are null, and
      // geo_s2cell_to_polygon's face-0 corner pins the exact cube-corner
      // closed form (atan2(-1,1), atan2(-1,√2) → -45°, -35.2644°)
      (s, dir) => kqlRun(s, dir,
        """print c = geo_polygon_to_s2cells(
          |     dynamic([[-3.0, -2.0], [4.0, -2.5], [3.5, 3.0], [-2.5, 3.5]]), 6)
          | | extend pj = geo_s2cell_to_polygon('1')
          | | project n = array_length(c),
          |     hasv = set_has_element(c, geo_point_to_s2cell(-3.0, -2.0, 6))
          |       and set_has_element(c, geo_point_to_s2cell(4.0, -2.5, 6))
          |       and set_has_element(c, geo_point_to_s2cell(3.5, 3.0, 6))
          |       and set_has_element(c, geo_point_to_s2cell(-2.5, 3.5, 6))
          |       and set_has_element(c, geo_point_to_s2cell(0.5, 0.5, 6)),
          |     inv2 = isnull(geo_polygon_to_s2cells(dynamic([[0.0, 0.0], [1.0, 1.0]]), 6)),
          |     invl = isnull(geo_polygon_to_s2cells(
          |       dynamic([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0]]), 31)),
          |     c00 = round(todouble(extractjson('$.coordinates[0][0][0]', pj)), 4),
          |     c01 = round(todouble(extractjson('$.coordinates[0][0][1]', pj)), 4)""".stripMargin),
      Some("""
        SELECT CAST(81 AS BIGINT) AS n, TRUE AS hasv, TRUE AS inv2, TRUE AS invl,
               -45.0 AS c00, -35.2644 AS c01""")),

    "q_kql_geo_s2cover_join" -> QueryDef(
      // THE scalable polygon-join shape: cover each polygon with level-5 S2
      // cells (a small dim — mv-expand of the covering), equi-join points on
      // their own cell token with a BROADCAST hint (at 100 TB the fact side
      // streams through map-side, zero shuffle of the corpus), then refine
      // candidates with the exact geodesic geo_point_in_polygon. Both sides
      // also keep a 3000 km centroid-ball guard — the gnomonic ray cast is
      // only faithful within ~90° of every vertex, and the guard (identical
      // haversine text in both engines) pins the domain without needing
      // cells, so the oracle can compute the points×polygons refine
      // DIRECTLY: any cell the covering dropped would surface as a count
      // mismatch. This row proves the conservative-superset contract on
      // real data, not just plan shape. Probed: 26/12/24 matches at sf0.01.
      (s, dir) => kqlRun(s, dir,
        """let polys = datatable(pid: long, poly: dynamic, clng: real, clat: real) [
          |  1, dynamic([[-15.0, -10.0], [15.0, -12.0], [12.0, 14.0], [-12.0, 16.0]]), 0.0, 2.0,
          |  2, dynamic([[105.0, 15.0], [135.0, 12.0], [132.0, 38.0], [108.0, 40.0]]), 120.0, 26.25,
          |  3, dynamic([[-125.0, 32.0], [-95.0, 30.0], [-98.0, 55.0], [-122.0, 57.0]]), -110.0, 43.5];
          |let cells = polys
          | | extend polya = from_json(poly, 'array<array<double>>')
          | | extend cs = geo_polygon_to_s2cells(polya, 5)
          | | mv-expand cs to typeof(string)
          | | project pid, polya, clng, clat, cell = cs;
          |customer
          | | extend lat = (c_custkey * 7919 % 14000) / 100.0 - 70.0,
          |     lng = (c_custkey * 104729 % 36000) / 100.0 - 180.0
          | | extend cell = geo_point_to_s2cell(lng, lat, 5)
          | | join kind=inner hint.strategy=broadcast (cells) on cell
          | | where geo_distance_2points(lng, lat, clng, clat) <= 3000000.0
          |     and geo_point_in_polygon(lng, lat, polya)
          | | summarize n = count(), sk = sum(c_custkey) by pid
          | | order by pid asc""".stripMargin),
      Some("""
        WITH pts AS (SELECT c_custkey AS k,
                       (c_custkey * 7919 % 14000) / 100.0 - 70.0 AS y,
                       (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS x
                     FROM customer),
        polys AS (SELECT * FROM (VALUES
          (1, [[-15.0, -10.0], [15.0, -12.0], [12.0, 14.0], [-12.0, 16.0]], 0.0, 2.0),
          (2, [[105.0, 15.0], [135.0, 12.0], [132.0, 38.0], [108.0, 40.0]], 120.0, 26.25),
          (3, [[-125.0, 32.0], [-95.0, 30.0], [-98.0, 55.0], [-122.0, 57.0]], -110.0, 43.5)
        ) AS t(pid, poly, clng, clat)),
        near AS (SELECT pid, poly, k, x, y FROM pts, polys
                 WHERE (2.0 * 6371008.8 * asin(sqrt(
                       pow(sin(radians((clat) - (y)) / 2), 2) +
                       cos(radians(y)) * cos(radians(clat)) *
                       pow(sin(radians((clng) - (x)) / 2), 2)))) <= 3000000.0),
        pr AS (SELECT pid, k, x, y,
                list_transform(poly, v ->
                  [ (cos(radians(v[2])) * sin(radians(v[1]) - radians(x))) /
                    (sin(radians(y)) * sin(radians(v[2])) + cos(radians(y)) * cos(radians(v[2])) * cos(radians(v[1]) - radians(x))),
                    (cos(radians(y)) * sin(radians(v[2])) - sin(radians(y)) * cos(radians(v[2])) * cos(radians(v[1]) - radians(x))) /
                    (sin(radians(y)) * sin(radians(v[2])) + cos(radians(y)) * cos(radians(v[2])) * cos(radians(v[1]) - radians(x))) ]) AS r
               FROM near),
        e AS (SELECT pid, k,
                list_sum(list_transform(list_zip(r, list_concat(r[2:], [r[1]])),
                  q -> CASE WHEN ((q[1][2] > 0.0) != (q[2][2] > 0.0))
                             AND (0.0 < (q[2][1] - q[1][1]) * (0.0 - q[1][2])
                                      / (q[2][2] - q[1][2]) + q[1][1])
                       THEN 1 ELSE 0 END)) % 2 = 1 AS inside
              FROM pr)
        SELECT CAST(pid AS BIGINT) AS pid, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS sk
        FROM e WHERE inside GROUP BY pid ORDER BY pid""")),

    "q_kql_geo_shapes" -> QueryDef(
      // round-10 batch 5 shape scalars: perimeter (geo_line_length over the
      // closed ring), point-to-polygon distance (0 inside by geodesic
      // containment, else nearest boundary point via the shared
      // segmentDistanceSql text), spherical centroids (vector-area
      // identity ∫∫r dA = ½Σn̂θ — see KqlCompat), the geohash cell
      // polygon, and degenerate-input null guards. Pins computed through a
      // python mirror of the identical unit-vector arithmetic (probe
      // showed DuckDB bit-parity to 12+ digits; pinned at 3–6 decimals).
      (s, dir) => kqlRun(s, dir,
        """print poly = dynamic([[-3.0, -2.0], [4.0, -2.5], [3.5, 3.0], [-2.5, 3.5]])
          | | extend pc = geo_polygon_centroid(poly),
          |     lc = geo_line_centroid(dynamic([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0]])),
          |     gh = geo_geohash_to_polygon('ezs42')
          | | project perim = round(geo_polygon_perimeter(poly), 3),
          |     dpp_in = geo_distance_point_to_polygon(0.5, 0.5, poly) == 0.0,
          |     dpp_out = round(geo_distance_point_to_polygon(10.0, 0.0, poly), 3),
          |     pcx = round(todouble(extractjson('$.coordinates[0]', pc)), 6),
          |     pcy = round(todouble(extractjson('$.coordinates[1]', pc)), 6),
          |     lcx = round(todouble(extractjson('$.coordinates[0]', lc)), 6),
          |     lcy = round(todouble(extractjson('$.coordinates[1]', lc)), 6),
          |     ghw = round(todouble(extractjson('$.coordinates[0][0][0]', gh)), 4),
          |     ghs = round(todouble(extractjson('$.coordinates[0][0][1]', gh)), 4),
          |     ghe = round(todouble(extractjson('$.coordinates[0][2][0]', gh)), 4),
          |     ghn = round(todouble(extractjson('$.coordinates[0][2][1]', gh)), 4),
          |     inv_p = isnull(geo_polygon_perimeter(dynamic([[0.0, 0.0], [1.0, 1.0]]))),
          |     inv_c = isnull(geo_polygon_centroid(dynamic([[0.0, 0.0], [1.0, 1.0]]))),
          |     inv_gh = isnull(geo_geohash_to_polygon('ALO'))""".stripMargin),
      Some("""
        SELECT 2676342.954 AS perim, TRUE AS dpp_in, 689587.823 AS dpp_out,
               0.492462 AS pcx, 0.42989 AS pcy, 7.495231 AS lcx, 2.502379 AS lcy,
               -5.625 AS ghw, 42.583 AS ghs, -5.5811 AS ghe, 42.627 AS ghn,
               TRUE AS inv_p, TRUE AS inv_c, TRUE AS inv_gh""")),

    "q_kql_geo_intersects" -> QueryDef(
      // great-circle segment/polygon intersection predicates over a
      // datatable of validated cases — including the antipodal-lune trap
      // (both straddle tests pass around OPPOSITE intersection points of
      // the two great circles; the same-hemisphere guard must reject it).
      // Polygon/line composites exercise the boundary-cross and the
      // containment (first-vertex-inside) legs separately.
      (s, dir) => kqlRun(s, dir,
        """let cases = datatable(nm: string, ax: real, ay: real, bx: real, by: real,
          |                      cx: real, cy: real, dx: real, dy: real, exp: bool) [
          |  'crossX',    0.0, -5.0, 0.0, 5.0, -5.0, 0.0, 5.0, 0.0, true,
          |  'parallel',  0.0, 0.0, 10.0, 0.0, 0.0, 1.0, 10.0, 1.0, false,
          |  'noTouch',   0.0, -5.0, 0.0, 5.0, 1.0, 0.0, 5.0, 0.0, false,
          |  'antipodal', 0.0, -5.0, 0.0, 5.0, 175.0, 0.0, -175.0, 0.0, false,
          |  'diag',     -3.0, -3.0, 4.0, 5.0, -3.0, 5.0, 4.0, -4.0, true,
          |  'nearMiss', -3.0, -3.0, 4.0, 5.0, 5.0, 6.0, 9.0, 9.0, false,
          |  'highLat',  10.0, 60.0, 20.0, 60.0, 15.0, 55.0, 15.0, 65.0, true,
          |  'farApart', 100.0, 30.0, 110.0, 30.0, -50.0, -20.0, -40.0, -20.0, false];
          |cases
          | | extend got = geo_intersects_2lines(
          |     pack_array(pack_array(ax, ay), pack_array(bx, by)),
          |     pack_array(pack_array(cx, cy), pack_array(dx, dy)))
          | | summarize n = count(), ok = countif(got == exp)
          | | project lines_ok = n == 8 and ok == 8,
          |     poly_overlap = geo_intersects_2polygons(
          |       dynamic([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]),
          |       dynamic([[2.0, 2.0], [6.0, 2.0], [6.0, 6.0], [2.0, 6.0]])),
          |     poly_disjoint = geo_intersects_2polygons(
          |       dynamic([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]),
          |       dynamic([[10.0, 10.0], [14.0, 10.0], [14.0, 14.0], [10.0, 14.0]])) == false,
          |     poly_contained = geo_intersects_2polygons(
          |       dynamic([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]]),
          |       dynamic([[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0]])),
          |     lp_cross = geo_intersects_line_with_polygon(
          |       dynamic([[-5.0, 2.0], [5.0, 2.0]]),
          |       dynamic([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])),
          |     lp_inside = geo_intersects_line_with_polygon(
          |       dynamic([[1.0, 1.0], [2.0, 2.0]]),
          |       dynamic([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])),
          |     lp_out = geo_intersects_line_with_polygon(
          |       dynamic([[8.0, 8.0], [9.0, 9.0]]),
          |       dynamic([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])) == false,
          |     inv = isnull(geo_intersects_2lines(dynamic([[0.0, 0.0]]),
          |       dynamic([[1.0, 1.0], [2.0, 2.0]])))""".stripMargin),
      Some("""
        SELECT TRUE AS lines_ok, TRUE AS poly_overlap, TRUE AS poly_disjoint,
               TRUE AS poly_contained, TRUE AS lp_cross, TRUE AS lp_inside,
               TRUE AS lp_out, TRUE AS inv""")),

    "q_kql_geo_intersection" -> QueryDef(
      // GEOMETRY-VALUED clipping (round-11: the last implementable geo gap):
      // spherical Greiner-Hormann intersection/union of two polygons, the
      // crossing points of two polylines, and a polyline clipped to a ring
      // (GeoClip.scala). Gated by conservation laws computed IN-PLAN with
      // the pre-existing geo_polygon_area / geo_line_length expansions over
      // the parsed result coordinates: inclusion-exclusion
      // area(A∩B)+area(A∪B) == area(A)+area(B) (exact to 1e-4 relative;
      // the mirror shows residual 0.0), containment A∩C == C for C inside
      // A, disjoint -> empty GeometryCollection. Literal pins from
      // scripts/geo_clip_mirror.py (same double arithmetic, margins
      // >= 2e-2 from every rounding boundary).
      (s, dir) => kqlRun(s, dir,
        """print a = dynamic([[-3.0, -2.0], [4.0, -2.5], [3.5, 3.0], [-2.5, 3.5]]),
          |      b = dynamic([[1.0, 0.0], [8.0, 0.5], [7.0, 6.0], [0.5, 5.0]]),
          |      c = dynamic([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]),
          |      d = dynamic([[20.0, 20.0], [24.0, 20.0], [24.0, 24.0], [20.0, 24.0]])
          | | extend ii = geo_intersection_2polygons(a, b),
          |     uu = geo_union_2polygons(a, b),
          |     cc = geo_intersection_2polygons(a, c),
          |     dd = geo_intersection_2polygons(a, d),
          |     lw = geo_intersection_line_with_polygon(dynamic([[-5.0, 2.0], [5.0, 2.0]]), a),
          |     mw = geo_intersection_line_with_polygon(
          |       dynamic([[-5.0, 0.0], [0.0, 0.0], [0.0, 10.0], [2.0, 10.0], [2.0, 0.0], [8.0, 0.0]]), a),
          |     pp = geo_intersection_2lines(dynamic([[-3.0, -3.0], [4.0, 5.0]]),
          |       dynamic([[-3.0, 5.0], [4.0, -4.0]]))
          | | extend ri = from_json(extractjson('$.coordinates[0]', ii), 'array<array<double>>'),
          |     ru = from_json(extractjson('$.coordinates[0]', uu), 'array<array<double>>'),
          |     rc = from_json(extractjson('$.coordinates[0]', cc), 'array<array<double>>')
          | | extend ai = geo_polygon_area(ri), au = geo_polygon_area(ru),
          |     aa = geo_polygon_area(a), ab = geo_polygon_area(b)
          | | project it = extractjson('$.type', ii) == 'Polygon',
          |     iv_n = tolong(array_length(ri)) - 1,
          |     ai_km2 = round(ai / 1000000.0, 3),
          |     au_km2 = round(au / 1000000.0, 3),
          |     incl_excl = abs((ai + au) - (aa + ab)) < 0.0001 * (aa + ab),
          |     iv_x = round(todouble(extractjson('$.coordinates[0][0][0]', ii)), 6),
          |     iv_y = round(todouble(extractjson('$.coordinates[0][0][1]', ii)), 6),
          |     cont_ok = abs(geo_polygon_area(rc) - geo_polygon_area(c)) < 1.0,
          |     dis_ok = extractjson('$.type', dd) == 'GeometryCollection'
          |       and array_length(from_json(extractjson('$.geometries', dd), 'array<string>')) == 0,
          |     lw_t = extractjson('$.type', lw) == 'LineString',
          |     lp_len_km = round(geo_line_length(
          |       from_json(extractjson('$.coordinates', lw), 'array<array<double>>')) / 1000.0, 3),
          |     mw_t = extractjson('$.type', mw) == 'MultiLineString',
          |     mw_n = tolong(array_length(
          |       from_json(extractjson('$.coordinates', mw), 'array<array<array<double>>>'))),
          |     mp_len_km = round((geo_line_length(
          |         from_json(extractjson('$.coordinates[0]', mw), 'array<array<double>>')) +
          |       geo_line_length(
          |         from_json(extractjson('$.coordinates[1]', mw), 'array<array<double>>'))) / 1000.0, 3),
          |     pp_t = extractjson('$.type', pp) == 'Point',
          |     ll_x = round(todouble(extractjson('$.coordinates[0]', pp)), 6),
          |     ll_y = round(todouble(extractjson('$.coordinates[1]', pp)), 6),
          |     inv1 = isnull(geo_intersection_2polygons(dynamic([[0.0, 0.0], [1.0, 1.0]]), a)),
          |     inv2 = isnull(geo_intersection_2lines(dynamic([[0.0, 0.0]]),
          |       dynamic([[1.0, 1.0], [2.0, 2.0]])))""".stripMargin),
      Some("""
        SELECT TRUE AS it, CAST(4 AS BIGINT) AS iv_n, 104084.002 AS ai_km2,
               783148.224 AS au_km2, TRUE AS incl_excl,
               3.754849 AS iv_x, 0.197194 AS iv_y, TRUE AS cont_ok, TRUE AS dis_ok,
               TRUE AS lw_t, 691.958 AS lp_len_km, TRUE AS mw_t,
               CAST(2 AS BIGINT) AS mw_n, 1224.864 AS mp_len_km, TRUE AS pp_t,
               0.293507 AS ll_x, 0.770224 AS ll_y, TRUE AS inv1, TRUE AS inv2""")),

    "q_kql_geo_shape_buffer" -> QueryDef(
      // GEOMETRY-VALUED offset buffers (round 11, closing the constructive
      // geo family): geo_line_buffer / geo_polygon_buffer as spherical
      // offset curves (GeoBuffer.scala — per-segment direct-formula offset
      // chords, sagitta-bounded convex arcs, exact concave chord
      // crossings). Every gate is computed IN-PLAN against closed-form
      // expectations: Steiner's formula area(buffer(line,r)) ≈ 2·r·len +
      // π·r² and area(buffer(poly,r)) ≈ A + P·r + π·r² (spherical
      // corrections O((r/R)²) ≈ 6e-5 at r = 50 km, gates at 1–2%), the
      // distance contract via geodesic point-in-polygon probes at 0.8r /
      // 1.3r perpendicular offsets (equator-aligned shapes make the
      // offsets closed-form: deg = f·r/R·180/π), and the null guards.
      (s, dir) => kqlRun(s, dir,
        """print ln = dynamic([[10.0, 0.0], [12.0, 0.0]]),
          |      sq = dynamic([[10.0, -1.0], [12.0, -1.0], [12.0, 1.0], [10.0, 1.0]]),
          |      r = 50000.0, la8 = 0.35971172, la13 = 0.58453155
          | | extend lb = geo_line_buffer(ln, r, 250.0), pb = geo_polygon_buffer(sq, r, 250.0)
          | | extend lr = from_json(extractjson('$.coordinates[0]', lb), 'array<array<double>>'),
          |     pr = from_json(extractjson('$.coordinates[0]', pb), 'array<array<double>>')
          | | extend la = geo_polygon_area(lr), pa = geo_polygon_area(pr),
          |     lexp = 2.0 * r * geo_line_length(ln) + 3.141592653589793 * r * r,
          |     pexp = geo_polygon_area(sq) + geo_polygon_perimeter(sq) * r
          |       + 3.141592653589793 * r * r
          | | project lb_t = extractjson('$.type', lb) == 'Polygon',
          |     lb_area_ok = abs(la - lexp) < 0.01 * lexp,
          |     lb_nv_ok = array_length(lr) between (20 .. 2000),
          |     lb_mid_in = geo_point_in_polygon(11.0, 0.0, lr),
          |     lb_08_in = geo_point_in_polygon(11.0, la8, lr),
          |     lb_13_out = not(geo_point_in_polygon(11.0, la13, lr)),
          |     lb_cap_in = geo_point_in_polygon(12.0 + la8, 0.0, lr),
          |     lb_cap_out = not(geo_point_in_polygon(12.0 + la13, 0.0, lr)),
          |     pb_area_ok = abs(pa - pexp) < 0.02 * pexp,
          |     pb_corners_in = geo_point_in_polygon(10.0, -1.0, pr)
          |       and geo_point_in_polygon(12.0, -1.0, pr)
          |       and geo_point_in_polygon(12.0, 1.0, pr)
          |       and geo_point_in_polygon(10.0, 1.0, pr),
          |     pb_out = not(geo_point_in_polygon(12.0 + la13, 1.0 + la13, pr)),
          |     inv1 = isnull(geo_line_buffer(dynamic([[0.0, 0.0]]), 100.0)),
          |     inv2 = isnull(geo_polygon_buffer(sq, -5.0)),
          |     inv3 = isnull(geo_line_buffer(ln, 100.0, 0.0))""".stripMargin),
      Some("""
        SELECT TRUE AS lb_t, TRUE AS lb_area_ok, TRUE AS lb_nv_ok,
               TRUE AS lb_mid_in, TRUE AS lb_08_in, TRUE AS lb_13_out,
               TRUE AS lb_cap_in, TRUE AS lb_cap_out, TRUE AS pb_area_ok,
               TRUE AS pb_corners_in, TRUE AS pb_out, TRUE AS inv1,
               TRUE AS inv2, TRUE AS inv3""")),

    "q_kql_geo_azimuth" -> QueryDef(
      // geo_azimuth: initial great-circle bearing, radians clockwise from
      // north in [0, 2π). Cardinal directions pin the quadrant convention
      // exactly (east = π/2, north = 0, west = 3π/2, south = π); the
      // mid-latitude case is restated in DuckDB through the IDENTICAL
      // atan2 arithmetic (libm bit-parity, the geo_distance discipline);
      // plus the forward/back relation az(a,b) vs az(b,a) differs from π
      // by the great-circle convergence (strictly between 0 and π here)
      (s, dir) => kqlRun(s, dir,
        """print e = geo_azimuth(0.0, 0.0, 10.0, 0.0),
          |      n = geo_azimuth(0.0, 0.0, 0.0, 10.0),
          |      w = geo_azimuth(0.0, 0.0, -10.0, 0.0),
          |      sx = geo_azimuth(0.0, 10.0, 0.0, -10.0),
          |      m = geo_azimuth(10.0, 50.0, 30.0, 55.0),
          |      bk = geo_azimuth(30.0, 55.0, 10.0, 50.0)
          | | project e6 = round(e, 6), n6 = round(n, 6), w6 = round(w, 6),
          |     s6 = round(sx, 6), m6 = round(m, 6),
          |     conv_ok = abs(bk - m - 3.141592653589793) > 0.0
          |       and abs(bk - m) < 3.141592653589793 * 1.5""".stripMargin),
      Some("""
        WITH az AS (SELECT
          (atan2(sin(radians((30.0) - (10.0))) * cos(radians(55.0)),
                 cos(radians(50.0)) * sin(radians(55.0)) -
                 sin(radians(50.0)) * cos(radians(55.0)) * cos(radians((30.0) - (10.0))))
           + 2.0 * pi()) % (2.0 * pi()) AS m)
        SELECT round(pi() / 2.0, 6) AS e6, 0.0 AS n6,
               round(3.0 * pi() / 2.0, 6) AS w6, round(pi(), 6) AS s6,
               round(m, 6) AS m6, TRUE AS conv_ok
        FROM az""")),

    "q_kql_geo_poly_arrays" -> QueryDef(
      // the ARRAY forms of the clip/simplify family:
      // geo_union_polygons_array (n-ary fold of the spherical pair clip —
      // disjoint additivity, swallow, duplicate idempotence, and the
      // cross-implementation equality with geo_union_2polygons on a
      // crossing pair, all gated in-plan via geo_polygon_area) and
      // geo_simplify_polygons_array (per-ring spherical Douglas–Peucker;
      // vertex counts must MATCH the single-ring geo_polygon_simplify —
      // cross-impl equality again). Independent-ring simplify is the
      // documented divergence from ADX's shared-border constraint.
      (s, dir) => kqlRun(s, dir,
        """print a = dynamic([[-4.0, -3.0], [4.0, -3.0], [4.0, 3.0], [-4.0, 3.0]]),
          |      b = dynamic([[-1.0, -1.0], [7.0, -1.0], [7.0, 5.0], [-1.0, 5.0]]),
          |      d = dynamic([[20.0, 4.0], [26.0, 4.0], [26.0, 8.0], [20.0, 8.0]]),
          |      c = dynamic([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]),
          |      z = dynamic([[0.0, 0.0], [2.0, 0.001], [4.0, -0.001], [6.0, 0.0], [6.0, 5.0], [0.0, 5.0]])
          | | extend ud = geo_union_polygons_array(pack_array(a, d)),
          |     ux = geo_union_polygons_array(pack_array(a, b)),
          |     uc = geo_union_polygons_array(pack_array(a, c)),
          |     up = geo_union_polygons_array(pack_array(a, a)),
          |     sa = geo_simplify_polygons_array(pack_array(z, d), 2000.0)
          | | extend r1 = from_json(extractjson('$.coordinates[0][0]', ud), 'array<array<double>>'),
          |     r2 = from_json(extractjson('$.coordinates[1][0]', ud), 'array<array<double>>'),
          |     rx = from_json(extractjson('$.coordinates[0]', ux), 'array<array<double>>'),
          |     rc = from_json(extractjson('$.coordinates[0]', uc), 'array<array<double>>'),
          |     rp = from_json(extractjson('$.coordinates[0]', up), 'array<array<double>>'),
          |     rz = from_json(extractjson('$.coordinates[0][0]', sa), 'array<array<double>>'),
          |     zp = from_json(extractjson('$.coordinates[0]',
          |       geo_polygon_simplify(z, 2000.0)), 'array<array<double>>'),
          |     px = from_json(extractjson('$.coordinates[0]',
          |       geo_union_2polygons(a, b)), 'array<array<double>>')
          | | project ud_t = extractjson('$.type', ud) == 'MultiPolygon',
          |     ud_add = abs(geo_polygon_area(r1) + geo_polygon_area(r2)
          |       - (geo_polygon_area(a) + geo_polygon_area(d)))
          |       < 0.000001 * (geo_polygon_area(a) + geo_polygon_area(d)),
          |     ux_t = extractjson('$.type', ux) == 'Polygon',
          |     ux_pair = abs(geo_polygon_area(rx) - geo_polygon_area(px))
          |       < 0.000000001 * geo_polygon_area(px),
          |     uc_ok = abs(geo_polygon_area(rc) - geo_polygon_area(a))
          |       < 0.000000001 * geo_polygon_area(a),
          |     up_ok = abs(geo_polygon_area(rp) - geo_polygon_area(a))
          |       < 0.000000001 * geo_polygon_area(a),
          |     sa_t = extractjson('$.type', sa) == 'MultiPolygon',
          |     sa_n = tolong(array_length(rz)),
          |     sa_match = array_length(rz) == array_length(zp),
          |     s1_t = extractjson('$.type', geo_simplify_polygons_array(pack_array(c), 100.0))
          |       == 'Polygon',
          |     s1_n = tolong(array_length(from_json(extractjson('$.coordinates[0]',
          |       geo_simplify_polygons_array(pack_array(c), 100.0)), 'array<array<double>>'))),
          |     inv1 = isnull(geo_union_polygons_array(pack_array(dynamic([[0.0, 0.0], [1.0, 1.0]])))),
          |     inv2 = isnull(geo_simplify_polygons_array(pack_array(a), -5.0))""".stripMargin),
      Some("""
        SELECT TRUE AS ud_t, TRUE AS ud_add, TRUE AS ux_t, TRUE AS ux_pair,
               TRUE AS uc_ok, TRUE AS up_ok, TRUE AS sa_t,
               CAST(5 AS BIGINT) AS sa_n, TRUE AS sa_match,
               TRUE AS s1_t, CAST(5 AS BIGINT) AS s1_n,
               TRUE AS inv1, TRUE AS inv2""")),

    "q_kql_geo_union_holes" -> QueryDef(
      // round 12: hole-forming union pinned at the ORACLE level (the
      // round-11 advice finding). A U-shaped ring plus a bar closing its
      // notch from above union-enclose a void; the GH traversal traces
      // that void as a negative-winding loop which MUST surface as an
      // RFC-7946 interior ring — emitting it as an island inflates
      // area(A∪B) by 2x the hole and silently breaks inclusion-exclusion.
      // Gates in-plan: single Polygon with exactly 2 rings, the void
      // center sits inside BOTH the outer and the hole ring (i.e. it is
      // excluded from the union region), intersection is the two disjoint
      // arm overlaps, and inclusion-exclusion holds with the hole
      // SUBTRACTED (1e-6 relative).
      (s, dir) => kqlRun(s, dir,
        """print a = dynamic([[-4.0, -4.0], [4.0, -4.0], [4.0, 4.0], [2.0, 4.0],
          |        [2.0, -2.0], [-2.0, -2.0], [-2.0, 4.0], [-4.0, 4.0]]),
          |      b = dynamic([[-5.0, 1.0], [5.0, 1.0], [5.0, 5.0], [-5.0, 5.0]])
          | | extend uu = geo_union_2polygons(a, b), ii = geo_intersection_2polygons(a, b)
          | | extend outer = from_json(extractjson('$.coordinates[0]', uu), 'array<array<double>>'),
          |     hole = from_json(extractjson('$.coordinates[1]', uu), 'array<array<double>>'),
          |     i1 = from_json(extractjson('$.coordinates[0][0]', ii), 'array<array<double>>'),
          |     i2 = from_json(extractjson('$.coordinates[1][0]', ii), 'array<array<double>>')
          | | project uu_t = extractjson('$.type', uu) == 'Polygon',
          |     uu_nrings = tolong(array_length(from_json(
          |       extractjson('$.coordinates', uu), 'array<array<array<double>>>'))),
          |     ii_t = extractjson('$.type', ii) == 'MultiPolygon',
          |     void_in_outer = geo_point_in_polygon(0.0, 0.0, outer),
          |     void_in_hole = geo_point_in_polygon(0.0, 0.0, hole),
          |     incl_excl = abs(((geo_polygon_area(outer) - geo_polygon_area(hole))
          |         + geo_polygon_area(i1) + geo_polygon_area(i2))
          |       - (geo_polygon_area(a) + geo_polygon_area(b)))
          |       < 0.000001 * (geo_polygon_area(a) + geo_polygon_area(b))""".stripMargin),
      Some("""
        SELECT TRUE AS uu_t, CAST(2 AS BIGINT) AS uu_nrings, TRUE AS ii_t,
               TRUE AS void_in_outer, TRUE AS void_in_hole, TRUE AS incl_excl""")),

    "q_kql_scalar_passthrough" -> QueryDef(
      // round-12 remaining-surface audit (scripts/surface_checklist.py):
      // the ADX scalar names that pass through UNREWRITTEN because Spark
      // SQL evaluates the identical name with identical semantics — this
      // query pins every one at the oracle so "passthrough" is a checked
      // claim, not an assumption. log is NATURAL log on both engines;
      // current_database pins the library engine's catalog answer.
      (s, dir) => kqlRun(s, dir,
        """print x = 0.5, d = datetime(2024-03-15)
          | | project ac = round(acos(x), 6), at = round(atan(x), 6),
          |     ce = ceiling(todouble(4.2)), fl = floor(todouble(4.8)),
          |     dg = round(degrees(1.0), 6), rd = round(radians(90.0), 6),
          |     ex = round(exp(1.0), 6), ln_ok = round(log(exp(2.0)), 6),
          |     l10 = round(log10(1000.0), 6), l2 = round(log2(8.0), 6),
          |     pi6 = round(pi(), 6), sg = sign(-3.5), tn = round(tan(0.0), 6),
          |     nn = isnan(acos(2.0)), nl = isnull(missing_col_stand_in),
          |     nnl = isnotnull(x), ng = not(x > 1.0),
          |     doy = dayofyear(d), cdb = current_database() == 'default',
          |     ue = url_encode('hello world/x'),
          |     ab = abs(todouble(-3.5)), as1 = round(asin(x), 6),
          |     at2 = round(atan2(1.0, 1.0), 6),
          |     co = coalesce(missing_col_stand_in, x),
          |     cs = round(cos(0.0), 6), pw = pow(2.0, 10.0),
          |     rv = reverse('abc'), sn = round(sin(0.0), 6),
          |     sq = round(sqrt(4.0), 6)""".stripMargin
          .replace("missing_col_stand_in", "iff(x > 1.0, x, todouble(null))")),
      Some("""
        SELECT round(acos(0.5), 6) AS ac, round(atan(0.5), 6) AS at,
               CAST(5 AS BIGINT) AS ce, CAST(4 AS BIGINT) AS fl,
               round(degrees(1.0), 6) AS dg, round(radians(90.0), 6) AS rd,
               round(exp(1.0), 6) AS ex, 2.0 AS ln_ok, 3.0 AS l10, 3.0 AS l2,
               round(pi(), 6) AS pi6, -1.0 AS sg, 0.0 AS tn,
               TRUE AS nn, TRUE AS nl, TRUE AS nnl, TRUE AS ng,
               CAST(75 AS INT) AS doy, TRUE AS cdb,
               'hello+world%2Fx' AS ue,
               3.5 AS ab, round(asin(0.5), 6) AS as1,
               round(atan2(1.0, 1.0), 6) AS at2, 0.5 AS co,
               1.0 AS cs, 1024.0 AS pw, 'cba' AS rv, 0.0 AS sn, 2.0 AS sq""")),

    "q_kql_scalar_stragglers" -> QueryDef(
      // round-12 newly-implemented scalar stragglers, each oracle-pinned:
      // around (numeric + datetime/timespan), datetime_part (ADX
      // full-prefix sub-second convention; nanosecond is µs*1000 at this
      // engine's precision), erf/erfc (Abramowitz-Stegun 7.1.26, same
      // doubles restatable anywhere), series_product,
      // series_periods_validate (the detector's scoring dual — period-4
      // signal scores high, off-period low), hash_xxhash64 == hash()
      // (both are xxhash64), bin_auto via the query_bin_auto_size binding
      // (documented divergence: bound as a column, not a query property),
      // make_string (deprecated alias of unicode_codepoints_to_string),
      // and isutf8 (JVM strings are always valid — true iff non-null).
      (s, dir) => kqlRun(s, dir,
        """print ts = datetime(2024-03-15 01:02:03.765432),
          |      wave = dynamic([0.0, 1.0, 2.0, 3.0, 0.0, 1.0, 2.0, 3.0,
          |                      0.0, 1.0, 2.0, 3.0, 0.0, 1.0, 2.0, 3.0])
          | | extend query_bin_auto_size = todouble(10.0)
          | | extend spv = series_periods_validate(wave, 4, 7)
          | | extend spv_s = spv.scores, spv_p = spv.periods
          | | project ar1 = around(5.1, 5.0, 0.2), ar2 = around(5.4, 5.0, 0.2) == false,
          |     ar3 = around(datetime(2024-01-10), datetime(2024-01-12), 3d),
          |     dp_y = datetime_part('year', ts), dp_q = datetime_part('quarter', ts),
          |     dp_w = datetime_part('week_of_year', ts),
          |     dp_ms = datetime_part('millisecond', ts),
          |     dp_us = datetime_part('microsecond', ts),
          |     dp_ns = datetime_part('nanosecond', ts),
          |     erf0 = round(erf(0.0), 6), erf1 = round(erf(1.0), 6),
          |     erf_odd = erf(-1.0) == -erf(1.0),
          |     erfc1 = round(erfc(1.0), 6),
          |     sp = series_product(dynamic([2.0, 3.0, 4.0])),
          |     spv_hi = todouble(spv_s[0]) > 0.5,
          |     spv_rank = todouble(spv_s[0]) > todouble(spv_s[1]),
          |     spv_p0 = todouble(spv_p[0]),
          |     hx_eq = hash_xxhash64('abc') == hash('abc'),
          |     hx_mod = hash_xxhash64('abc', 100) between (0 .. 99),
          |     ba = bin_auto(todouble(23.0)),
          |     ms = make_string(dynamic([72, 105])),
          |     u8 = isutf8('abc'), u8n = isutf8(tostring(todouble(null))) == false""".stripMargin),
      Some("""
        SELECT TRUE AS ar1, TRUE AS ar2, TRUE AS ar3,
               CAST(2024 AS INT) AS dp_y, CAST(1 AS INT) AS dp_q,
               CAST(11 AS INT) AS dp_w, CAST(765 AS INT) AS dp_ms,
               CAST(765432 AS INT) AS dp_us, CAST(765432000 AS BIGINT) AS dp_ns,
               0.0 AS erf0, 0.842701 AS erf1, TRUE AS erf_odd, 0.157299 AS erfc1,
               24.0 AS sp, TRUE AS spv_hi, TRUE AS spv_rank, 4.0 AS spv_p0,
               TRUE AS hx_eq, TRUE AS hx_mod, 20.0 AS ba, 'Hi' AS ms,
               TRUE AS u8, TRUE AS u8n""")),

    "q_kql_dynamic_stragglers" -> QueryDef(
      // the dynamic-plane stragglers: treepath (ADX bracket spelling,
      // arrays contribute [] once — pinned as exact JSON), gettype (the
      // STATIC-type mapping, documented divergence from ADX's per-row
      // dynamic probe), estimate_data_size (string bytes + fixed widths),
      // parse_ipv4_mask / has_any_ipv4_prefix (the quad algebra), and the
      // url codec trio (url_encode is Spark-uppercase hex — spelling
      // divergence documented at the expansion).
      (s, dir) => kqlRun(s, dir,
        """print doc = dynamic({"a": {"b": 1, "c": [5, {"d": 2}]}})
          | | project tp = tostring(to_json(treepath(doc))),
          |     gt_s = gettype('x'), gt_i = gettype(5), gt_r = gettype(5.5),
          |     gt_b = gettype(true), gt_d = gettype(datetime(2024-01-01)),
          |     gt_a = gettype(pack_array(1, 2)), gt_n = gettype(todouble(null)),
          |     eds = estimate_data_size('abc', 5, 5.5, true),
          |     pm = parse_ipv4_mask('192.168.1.77', 24),
          |     pm_bad = isnull(parse_ipv4_mask('192.168.1.77', 40)),
          |     hap = has_any_ipv4_prefix('src 192.168.1.5 dst', '10.', '192.168.'),
          |     hap_no = has_any_ipv4_prefix('src 192.168.1.5 dst', '172.') == false,
          |     hap_arr = has_any_ipv4_prefix('src 192.168.1.5 dst', split('10.;192.168.', ';')),
          |     hap_one = has_any_ipv4_prefix('src 192.168.1.5 dst', strcat('192.', '168.')),
          |     ud = url_decode('a%20b%2Fc'), ud_bad = isnull(url_decode('%zz')),
          |     uc = url_encode_component('hello world/x')""".stripMargin),
      Some("""
        SELECT '["[''a'']","[''a''][''b'']","[''a''][''c'']","[''a''][''c''][]","[''a''][''c''][][''d'']"]' AS tp,
               'string' AS gt_s, 'int' AS gt_i, 'real' AS gt_r, 'bool' AS gt_b,
               'datetime' AS gt_d, 'array' AS gt_a, 'null' AS gt_n,
               CAST(16 AS BIGINT) AS eds,
               CAST(3232235776 AS BIGINT) AS pm, TRUE AS pm_bad,
               TRUE AS hap, TRUE AS hap_no, TRUE AS hap_arr, TRUE AS hap_one,
               'a b/c' AS ud, TRUE AS ud_bad, 'hello%20world%2Fx' AS uc""")),

    "q_kql_geo_stragglers" -> QueryDef(
      // the geo stragglers: geo_angle (CW angle at p2 from ray p2→p1 to
      // ray p2→p3 — west→north is π/2, a straight continuation is π, the
      // convention documented at the expansion), geo_s2cell_parent /
      // geo_s2cell_children CROSS-VALIDATED against geo_point_to_s2cell
      // (the parent at level L must equal the point's own L-cell; the
      // point's (L+1)-cell must be among the four children, whose parents
      // all fold back), and geo_union_lines_array (type + additive
      // geo_line_length conservation, null guard).
      (s, dir) => kqlRun(s, dir,
        """print p = dynamic([-122.3, 47.6]),
          |      l1 = dynamic([[0.0, 0.0], [2.0, 0.0]]),
          |      l2 = dynamic([[10.0, 10.0], [10.0, 12.0], [11.0, 12.0]])
          | | extend t10 = geo_point_to_s2cell(p[0], p[1], 10),
          |     ch = geo_s2cell_children(geo_point_to_s2cell(p[0], p[1], 10)),
          |     ul = geo_union_lines_array(pack_array(l1, l2)),
          |     u1 = geo_union_lines_array(pack_array(l1))
          | | project a_right = round(geo_angle(-10.0, 0.0, 0.0, 0.0, 0.0, 10.0), 6),
          |     a_straight = round(geo_angle(-10.0, 0.0, 0.0, 0.0, 10.0, 0.0), 6),
          |     par8 = geo_s2cell_parent(t10, 8) == geo_point_to_s2cell(p[0], p[1], 8),
          |     par_def = geo_s2cell_parent(t10) == geo_point_to_s2cell(p[0], p[1], 9),
          |     par_bad = isnull(geo_s2cell_parent(t10, 11)),
          |     ch_n = tolong(array_length(ch)),
          |     ch_has = set_has_element(ch, geo_point_to_s2cell(p[0], p[1], 11)),
          |     ch_fold = array_length(set_difference(
          |       pack_array(geo_s2cell_parent(tostring(ch[0]), 10),
          |         geo_s2cell_parent(tostring(ch[1]), 10),
          |         geo_s2cell_parent(tostring(ch[2]), 10),
          |         geo_s2cell_parent(tostring(ch[3]), 10)), pack_array(t10))) == 0,
          |     ul_t = extractjson('$.type', ul) == 'MultiLineString',
          |     u1_t = extractjson('$.type', u1) == 'LineString',
          |     ul_len_ok = abs(
          |       geo_line_length(from_json(extractjson('$.coordinates[0]', ul), 'array<array<double>>'))
          |       + geo_line_length(from_json(extractjson('$.coordinates[1]', ul), 'array<array<double>>'))
          |       - (geo_line_length(l1) + geo_line_length(l2))) < 0.000001,
          |     ul_bad = isnull(geo_union_lines_array(pack_array(dynamic([[0.0, 0.0]]))))""".stripMargin),
      Some("""
        SELECT round(pi() / 2.0, 6) AS a_right, round(pi(), 6) AS a_straight,
               TRUE AS par8, TRUE AS par_def, TRUE AS par_bad,
               CAST(4 AS BIGINT) AS ch_n, TRUE AS ch_has, TRUE AS ch_fold,
               TRUE AS ul_t, TRUE AS u1_t, TRUE AS ul_len_ok, TRUE AS ul_bad""")),

    "q_kql_sketch_if_reads" -> QueryDef(
      // the predicated sketch/moment twins over a real table: hll_if
      // (mergeable sketch with the *if NULL-mask — read back via
      // dcount_hll and tolerance-gated IN-PLAN against the exact
      // dcountif, the approximate-operator discipline), variancepif
      // (cross-checked in-plan against its sumif/countif moment identity
      // at 1e-9 relative), and the t-digest array/rank reads. The
      // percentile_array_tdigest gate is RANK-space (each read must land
      // between the exact ±2%-rank percentiles): t-digest's accuracy
      // contract is on rank, and a value-space "within 2% of the exact
      // value" band proved PARTITION-COUNT-SENSITIVE at sf0.1 (k=200
      // digest merged from 8 partials missed it; 32 passed — caught by
      // the r13 standing sweep's first run). percentrank_tdigest must
      // put ~25% of mass under the exact p25 (already rank-space).
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | summarize h = hll_if(l_orderkey, l_quantity > 25),
          |     x = dcountif(l_orderkey, l_quantity > 25),
          |     vp = variancepif(todouble(l_quantity), l_discount > 0.05),
          |     s1 = sumif(todouble(l_quantity), l_discount > 0.05),
          |     s2 = sumif(todouble(l_quantity) * todouble(l_quantity), l_discount > 0.05),
          |     nf = countif(l_discount > 0.05),
          |     td = tdigest(todouble(l_extendedprice)),
          |     p23 = percentile(todouble(l_extendedprice), 23),
          |     p27 = percentile(todouble(l_extendedprice), 27),
          |     p73 = percentile(todouble(l_extendedprice), 73),
          |     p77 = percentile(todouble(l_extendedprice), 77),
          |     p25 = percentile(todouble(l_extendedprice), 25)
          | | extend pa = percentile_array_tdigest(td, dynamic([25.0, 75.0]))
          | | extend pa0 = todouble(pa[0]), pa1 = todouble(pa[1])
          | | project hll_ok = abs(dcount_hll(h) - x) <= 0.1 * x,
          |     vp_ok = abs(vp - (s2 / nf - (s1 / nf) * (s1 / nf))) <= 0.000000001 * vp,
          |     pa_ok = pa0 between (p23 .. p27) and pa1 between (p73 .. p77),
          |     pr_ok = abs(percentrank_tdigest(td, p25) - 0.25) <= 0.02""".stripMargin),
      Some("""
        SELECT TRUE AS hll_ok, TRUE AS vp_ok, TRUE AS pa_ok, TRUE AS pr_ok""")),

    "q_kql_buildschema" -> QueryDef(
      // buildschema: schema induction over dynamic values as a native
      // mergeable TypedImperativeAggregate (BuildSchema.scala) — per-row
      // JSON type trees merged commutatively, same-path alternatives as a
      // SORTED option array, arrays in ADX's `indexer` spelling. The
      // exact merged-schema JSON is pinned (object keys and option lists
      // both sort, so the text is deterministic under any partitioning —
      // the mergeability contract), plus a group-level shape over a real
      // column: every documents.meta value is a flat dictionary whose
      // field types are all scalar strings/longs.
      (s, dir) => kqlRun(s, dir,
        """datatable (d: string) [
          |  '{"a": {"b": 1}}',
          |  '{"a": {"b": "x", "c": [5]}}',
          |  '{"a": true}'
          |]
          | | summarize s = buildschema(todynamic(d))
          | | project s""".stripMargin),
      Some("""
        SELECT '{"a":["bool",{"b":["long","string"],"c":{"`indexer`":"long"}}]}' AS s""")),

    "q_kql_cmdline_bytes" -> QueryDef(
      // parse_command_line (Windows/MSVCRT argv rules: quoted spans keep
      // whitespace, 2n backslashes before a quote emit n + delimiter,
      // 2n+1 emit n + literal quote, lone backslashes are literal) and the
      // base64 byte-array codecs. Backslashes enter via codepoint 92 —
      // engine-unambiguous (KQL and Spark disagree on string-literal
      // escape processing; the oracle pins plain literals).
      (s, dir) => kqlRun(s, dir,
        """print bs = unicode_codepoints_to_string(pack_array(92))
          | | extend a = parse_command_line('x.exe a "b c"  d', 'windows'),
          |     b = parse_command_line(strcat('say ', bs, '"lit', bs, '" now'), 'windows'),
          |     c = parse_command_line(strcat('a', bs, bs, '"b c" t'), 'windows'),
          |     d = parse_command_line(strcat('dir c:', bs, 'tmp'), 'windows')
          | | project a1 = strcat_array(a, '|'), b1 = strcat_array(b, '|'),
          |     c1 = strcat_array(c, '|'), d1 = strcat_array(d, '|'),
          |     bad_kind = isnull(parse_command_line('x y', 'linux')),
          |     blank = isnull(parse_command_line('  ', 'windows')),
          |     n = array_length(base64_decode_toarray('AQID')),
          |     sm = tolong(array_sum(base64_decode_toarray('AQID'))),
          |     rt = base64_encode_fromarray(base64_decode_toarray('SGVsbG8=')) == 'SGVsbG8=',
          |     b64bad = isnull(base64_decode_toarray('!not base64!')),
          |     oob = isnull(base64_encode_fromarray(dynamic([72, 300])))""".stripMargin),
      Some("""
        SELECT 'x.exe|a|b c|d' AS a1, 'say|"lit"|now' AS b1, 'a\b c|t' AS c1,
               'dir|c:\tmp' AS d1, TRUE AS bad_kind, TRUE AS blank,
               CAST(3 AS BIGINT) AS n, CAST(6 AS BIGINT) AS sm, TRUE AS rt,
               TRUE AS b64bad, TRUE AS oob""")),

    "q_series_trig" -> QueryDef(
      // the element-wise trig family over one probe vector; literal pins
      // at 6 decimals (identical double libm values both engines)
      (s, dir) => kqlRun(s, dir,
        """print x = dynamic([0.0, 0.5, 1.0])
          | | project s = round(todouble(series_sin(x)[1]), 6),
          |     c = round(todouble(series_cos(x)[1]), 6),
          |     t = round(todouble(series_tan(x)[1]), 6),
          |     an = round(todouble(series_asin(x)[1]), 6),
          |     ac = round(todouble(series_acos(x)[1]), 6),
          |     at = round(todouble(series_atan(x)[1]), 6),
          |     dom = isnan(todouble(series_asin(dynamic([2.0]))[0]))""".stripMargin),
      Some("""
        SELECT 0.479426 AS s, 0.877583 AS c, 0.546302 AS t, 0.523599 AS an,
               1.047198 AS ac, 0.463648 AS at, TRUE AS dom""")),

    "q_kql_geo_closest" -> QueryDef(
      // geo_closest_point_on_line: python-mirror pins for the three foot
      // cases (interior foot on the meridian segment — note the geodesic
      // bulge, lat 5.003 for a point at lat 5 — interior foot on the
      // equator segment, and the endpoint case), PLUS the cross-impl
      // consistency gate: the native's closest point must reproduce the
      // expansion's geo_distance_point_to_line to sub-meter agreement.
      (s, dir) => kqlRun(s, dir,
        """print line = dynamic([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0]])
          | | extend c1 = geo_closest_point_on_line(12.0, 5.0, line),
          |     c2 = geo_closest_point_on_line(5.0, 3.0, line),
          |     c3 = geo_closest_point_on_line(-4.0, -1.0, line)
          | | project c1x = round(todouble(extractjson('$.coordinates[0]', c1)), 6),
          |     c1y = round(todouble(extractjson('$.coordinates[1]', c1)), 6),
          |     c2x = round(todouble(extractjson('$.coordinates[0]', c2)), 6),
          |     c2y = round(todouble(extractjson('$.coordinates[1]', c2)), 6),
          |     c3x = round(todouble(extractjson('$.coordinates[0]', c3)), 6),
          |     c3y = round(todouble(extractjson('$.coordinates[1]', c3)), 6),
          |     agree = abs(geo_distance_2points(
          |         todouble(extractjson('$.coordinates[0]', c1)),
          |         todouble(extractjson('$.coordinates[1]', c1)), 12.0, 5.0)
          |       - geo_distance_point_to_line(12.0, 5.0, line)) < 1.0,
          |     inv = isnull(geo_closest_point_on_line(0.0, 0.0, dynamic([[1.0, 1.0]])))""".stripMargin),
      Some("""
        SELECT 10.0 AS c1x, 5.003032 AS c1y, 5.0 AS c2x, 0.0 AS c2y,
               0.0 AS c3x, 0.0 AS c3y, TRUE AS agree, TRUE AS inv""")),

    "q_kql_geo_s2line_join" -> QueryDef(
      // "points near a route" at scale: cover the polyline with level-5 S2
      // cells BUFFERED by the query radius (geo_line_to_s2cells layers the
      // covering outward by ceil(r / min-cell-edge) neighbor rings, so no
      // candidate within r can sit in an uncovered cell), mv-expand into a
      // broadcast dim, equi-join points on their own cell token, exact
      // refine with geo_distance_point_to_line ≤ r. The ORACLE computes
      // the refine DIRECTLY over all points (identical segmentDistanceSql
      // text, literal route) — a covering that dropped a reachable cell
      // would surface as a count mismatch, gating the buffer contract on
      // real data. Probed: 9 matches at sf0.01.
      (s, dir) => kqlRun(s, dir,
        """let route = dynamic([[-60.0, 10.0], [-45.0, 25.0], [-30.0, 20.0], [-15.0, 35.0]]);
          |let cells = print c = geo_line_to_s2cells(route, 5, 500000.0)
          | | mv-expand c to typeof(string)
          | | project cell = c;
          |customer
          | | extend lat = (c_custkey * 7919 % 14000) / 100.0 - 70.0,
          |     lng = (c_custkey * 104729 % 36000) / 100.0 - 180.0
          | | extend cell = geo_point_to_s2cell(lng, lat, 5)
          | | join kind=inner hint.strategy=broadcast (cells) on cell
          | | extend d = geo_distance_point_to_line(lng, lat, route)
          | | where d <= 500000.0
          | | summarize n = count(), sk = sum(c_custkey), sd = sum(d)
          | | project n, sk, skm = round(sd / 1000.0, 3)""".stripMargin),
      Some {
        def comp(lon: String, lat: String): (String, String, String) =
          (s"(cos(radians($lat)) * cos(radians($lon)))",
           s"(cos(radians($lat)) * sin(radians($lon)))",
           s"(sin(radians($lat)))")
        val route = Seq((-60.0, 10.0), (-45.0, 25.0), (-30.0, 20.0), (-15.0, 35.0))
        val p = comp("x", "y")
        val segs = route.sliding(2).map { w =>
          val a = comp(w(0)._1.toString, w(0)._2.toString)
          val b = comp(w(1)._1.toString, w(1)._2.toString)
          KqlCompat.segmentDistanceSql(a._1, a._2, a._3, b._1, b._2, b._3, p._1, p._2, p._3)
        }.toSeq
        val d = s"least(${segs.mkString(", ")}) * 6371008.8"
        s"""
        WITH pts AS (SELECT c_custkey AS k,
                       (c_custkey * 7919 % 14000) / 100.0 - 70.0 AS y,
                       (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS x
                     FROM customer)
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS sk,
               round(sum($d) / 1000.0, 3) AS skm
        FROM pts WHERE $d <= 500000.0"""
      }),

    "q_kql_geo_buffer_contract" -> QueryDef(
      // the round-11 offset buffer CROSS-VALIDATED on corpus points: the
      // buffered ring's membership must agree with the INDEPENDENT exact
      // geodesic distance (geo_distance_point_to_polygon) everywhere
      // outside a ±15 km band around the 500 km radius (3× the 5 km
      // sagitta tolerance — chords cut inward ≤ sagitta, never outward,
      // so disagreement outside the band is a construction bug). The
      // buffer ring rides a broadcast 1-row frame (computed once, not per
      // row); the ORACLE recomputes both distance counts from scratch
      // (identical segmentDistanceSql + gnomonic ray-cast texts, the
      // s2cover/s2line discipline), so n_in/n_out have independent DuckDB
      // bite while the ring-agreement booleans gate in-plan. Probed:
      // 31 in / 29 out / 0 in-band at sf0.01.
      (s, dir) => kqlRun(s, dir,
        """let poly = dynamic([[-15.0, -10.0], [15.0, -12.0], [12.0, 14.0], [-12.0, 16.0]]);
          |let buf = print b = geo_polygon_buffer(poly, 500000.0, 5000.0)
          | | project __k = 1, br = from_json(extractjson('$.coordinates[0]', b), 'array<array<double>>');
          |customer
          | | extend lat = (c_custkey * 7919 % 14000) / 100.0 - 70.0,
          |     lng = (c_custkey * 104729 % 36000) / 100.0 - 180.0
          | | where geo_distance_2points(lng, lat, 0.0, 2.0) <= 3000000.0
          | | extend __k = 1
          | | join kind=inner hint.strategy=broadcast (buf) on __k
          | | extend d = geo_distance_point_to_polygon(lng, lat, poly)
          | | extend inb = geo_point_in_polygon(lng, lat, br)
          | | summarize n_in = countif(d <= 485000.0),
          |     n_out = countif(d >= 515000.0),
          |     mis_lo = countif(d <= 485000.0 and not(inb)),
          |     mis_hi = countif(d >= 515000.0 and inb)
          | | project n_in, n_out, ok_lo = mis_lo == 0, ok_hi = mis_hi == 0""".stripMargin),
      Some {
        def comp(lon: String, lat: String): (String, String, String) =
          (s"(cos(radians($lat)) * cos(radians($lon)))",
           s"(cos(radians($lat)) * sin(radians($lon)))",
           s"(sin(radians($lat)))")
        val poly = Seq((-15.0, -10.0), (15.0, -12.0), (12.0, 14.0), (-12.0, 16.0))
        val p = comp("x", "y")
        val segs = (0 until 4).map { i =>
          val a = comp(poly(i)._1.toString, poly(i)._2.toString)
          val b = comp(poly((i + 1) % 4)._1.toString, poly((i + 1) % 4)._2.toString)
          KqlCompat.segmentDistanceSql(a._1, a._2, a._3, b._1, b._2, b._3, p._1, p._2, p._3)
        }
        val dmin    = s"least(${segs.mkString(", ")}) * 6371008.8"
        val polyLit = poly.map(v => s"[${v._1}, ${v._2}]").mkString(", ")
        s"""
        WITH pts AS (SELECT c_custkey AS k,
                       (c_custkey * 7919 % 14000) / 100.0 - 70.0 AS y,
                       (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS x
                     FROM customer),
        guard AS (SELECT * FROM pts
                  WHERE (2.0 * 6371008.8 * asin(sqrt(
                        pow(sin(radians(2.0 - (y)) / 2), 2) +
                        cos(radians(y)) * cos(radians(2.0)) *
                        pow(sin(radians(0.0 - (x)) / 2), 2)))) <= 3000000.0),
        pr AS (SELECT k, x, y,
                list_transform([$polyLit], v ->
                  [ (cos(radians(v[2])) * sin(radians(v[1]) - radians(x))) /
                    (sin(radians(y)) * sin(radians(v[2])) + cos(radians(y)) * cos(radians(v[2])) * cos(radians(v[1]) - radians(x))),
                    (cos(radians(y)) * sin(radians(v[2])) - sin(radians(y)) * cos(radians(v[2])) * cos(radians(v[1]) - radians(x))) /
                    (sin(radians(y)) * sin(radians(v[2])) + cos(radians(y)) * cos(radians(v[2])) * cos(radians(v[1]) - radians(x))) ]) AS r
               FROM guard),
        e AS (SELECT k, list_sum(list_transform(list_zip(r, list_concat(r[2:], [r[1]])),
                q -> CASE WHEN ((q[1][2] > 0.0) != (q[2][2] > 0.0))
                           AND (0.0 < (q[2][1] - q[1][1]) * (0.0 - q[1][2])
                                    / (q[2][2] - q[1][2]) + q[1][1])
                     THEN 1 ELSE 0 END)) % 2 = 1 AS inside
              FROM pr),
        d AS (SELECT g.k, CASE WHEN e.inside THEN 0.0 ELSE $dmin END AS dist
              FROM guard g JOIN e ON g.k = e.k)
        SELECT CAST(count(*) FILTER (dist <= 485000.0) AS BIGINT) AS n_in,
               CAST(count(*) FILTER (dist >= 515000.0) AS BIGINT) AS n_out,
               TRUE AS ok_lo, TRUE AS ok_hi
        FROM d"""
      }),

    "text_bpe_encode" -> QueryDef(
      // BPE ENCODING with a trained vocabulary — the apply side of
      // text_bpe_train (train once on the word-frequency table, broadcast
      // the word→tokens map, ONE stateless corpus pass). Gated by exact
      // algebra: zero merges tokenizes to characters (per-doc token count
      // == the SQL-computable word-character count), and token counts are
      // MONOTONE non-increasing in merge depth (5- and 20-merge vocabs).
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val sub  = docs.where(col("doc_id") < 300)
        val enc = Seq(0, 5, 20).map { k =>
          val (vocab, _) = graft.functions.BpeFunctions.trainVocab(docs, k)
          graft.functions.BpeFunctions.encodeTokenCounts(sub, vocab)
            .withColumnRenamed("n_tokens", s"t$k")
        }
        val chars = sub.select(col("doc_id"),
            explode(split(col("text"), " ")).as("w"))
          .where(col("w") =!= "")
          .groupBy("doc_id").agg(sum(length(col("w"))).cast("long").as("chars"))
        chars.join(enc(0), Seq("doc_id")).join(enc(1), Seq("doc_id"))
          .join(enc(2), Seq("doc_id"))
          .select(col("doc_id"), col("chars"),
            (col("t0") === col("chars")).as("ok0"),
            (col("t5") <= col("t0")).as("mono5"),
            (col("t20") <= col("t5")).as("mono20"))
          .orderBy("doc_id")
      },
      Some("""
        WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                       FROM documents WHERE doc_id < 300)
        SELECT doc_id, CAST(sum(len(w)) AS BIGINT) AS chars,
               TRUE AS ok0, TRUE AS mono5, TRUE AS mono20
        FROM words WHERE w <> '' GROUP BY doc_id ORDER BY doc_id""")),

    "q_kql_geo_densify" -> QueryDef(
      // geo_line_densify / geo_polygon_densify: spacing-based great-circle
      // densification. Gates are CONSERVATION laws — inserted points lie ON
      // each segment's great circle, so the densified length telescopes to
      // the original and the densified ring encloses the identical
      // spherical area (relative 1e-9); endpoints preserved; point counts
      // pinned from the spacing arithmetic (10° arc / 100 km → 12 steps).
      (s, dir) => kqlRun(s, dir,
        """print line = dynamic([[0.0, 0.0], [10.0, 0.0]]),
          |      poly = dynamic([[0.0, 0.0], [5.0, 0.0], [5.0, 5.0], [0.0, 5.0]])
          | | extend dl = geo_line_densify(line, 100000.0),
          |     dp = geo_polygon_densify(poly, 200000.0)
          | | extend lc = from_json(extractjson('$.coordinates', dl), 'array<array<double>>'),
          |     rc = from_json(extractjson('$.coordinates[0]', dp), 'array<array<double>>')
          | | extend rco = array_slice(rc, 0, array_length(rc) - 2)
          | | project np_line = array_length(lc), np_ring = array_length(rc),
          |     ends_ok = todouble(lc[0][0]) == 0.0 and todouble(lc[0][1]) == 0.0
          |       and todouble(lc[array_length(lc) - 1][0]) == 10.0
          |       and todouble(lc[array_length(lc) - 1][1]) == 0.0,
          |     ring_closed = todouble(rc[0][0]) == todouble(rc[array_length(rc) - 1][0])
          |       and todouble(rc[0][1]) == todouble(rc[array_length(rc) - 1][1]),
          |     len_ok = abs(geo_line_length(lc) - geo_line_length(line)) < 0.001,
          |     area_ok = abs(geo_polygon_area(rco) - geo_polygon_area(poly))
          |       / geo_polygon_area(poly) < 0.000000001,
          |     inv_tol = isnull(geo_line_densify(line, -5.0)),
          |     inv_shape = isnull(geo_polygon_densify(dynamic([[0.0, 0.0], [1.0, 1.0]]), 1000.0))""".stripMargin),
      Some("""
        SELECT CAST(13 AS BIGINT) AS np_line, CAST(13 AS BIGINT) AS np_ring,
               TRUE AS ends_ok, TRUE AS ring_closed, TRUE AS len_ok,
               TRUE AS area_ok, TRUE AS inv_tol, TRUE AS inv_shape""")),

    "curate_temperature_mix" -> QueryDef(
      // temperature-scaled mixture sampling (T = 2) — the data-mixing step
      // of a multilingual training pipeline: per-language sampling shares
      // p_l ∝ sqrt(char-weight) rebalance the corpus toward low-resource
      // languages (raw en share 43.6% → 30.3% at sf0.01), then a
      // DETERMINISTIC within-language pick (overflow-free 31-bit hash
      // rank ≤ floor(p_l · 200)) keeps the selection reproducible across
      // engines and partitionings. Scale shape: the weight/share frames are
      // per-language scalars (broadcast); the corpus pass is one
      // hash-filter — no shuffle beyond the language-partitioned rank.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents")
        val w = docs.groupBy("lang")
          .agg(sum(col("n_chars")).cast("double").as("wt"))
        val tot = w.agg(sum(sqrt(col("wt"))).as("sw"))
        val kl = w.crossJoin(broadcast(tot))
          .select(col("lang"),
            floor(sqrt(col("wt")) / col("sw") * 200).cast("long").as("kl"))
        val ranked = docs.withColumn("h",
            pmod(pmod(col("doc_id"), lit(2147483647L)) * 506952114L, lit(2147483647L)))
          .withColumn("rn", row_number().over(
            Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))).cast("long"))
        ranked.join(broadcast(kl), Seq("lang")).where(col("rn") <= col("kl"))
          .groupBy("lang").agg(count(lit(1)).as("k"),
            sum(col("n_chars")).cast("long").as("chars_kept"))
          .orderBy("lang")
      },
      Some("""
        WITH w AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS wt
                   FROM documents GROUP BY lang),
        kl AS (SELECT lang,
                 CAST(floor(sqrt(wt) / (SELECT sum(sqrt(wt)) FROM w) * 200) AS BIGINT) AS kl
               FROM w),
        r AS (SELECT d.lang, d.n_chars,
                row_number() OVER (PARTITION BY d.lang
                  ORDER BY ((d.doc_id % 2147483647) * 506952114) % 2147483647,
                           d.doc_id) AS rn
              FROM documents d)
        SELECT lang, CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n_chars) AS BIGINT) AS chars_kept
        FROM r JOIN kl USING (lang) WHERE r.rn <= kl.kl
        GROUP BY lang ORDER BY lang""")),

    "curate_url_canon" -> QueryDef(
      // URL-canonicalization dedup — the crawl-curation step: synthesize 5
      // surface variants per canonical page (scheme/host case, default
      // port, query-param order, utm_* tracking junk) from doc_id, then
      // canonicalize with the SCALAR surface alone (extract + replace_regex
      // + trim + array_sort_asc + strcat_array) and group: 500 docs → 100
      // canonical pages, every class exactly 5. One projection pass + one
      // small-key groupBy at any scale.
      (s, dir) => kqlRun(s, dir,
        """documents
          | | project doc_id, g = tolong((doc_id - doc_id % 5) / 5), v = doc_id % 5
          | | extend url = strcat(
          |     iff(doc_id % 2 == 0, 'HTTP', 'http'), '://',
          |     iff(doc_id % 4 < 2, 'WWW.Site', 'www.site'), tostring(g),
          |     '.Example.COM', iff(doc_id % 3 == 0, ':80', ''), '/docs/item?',
          |     case(v == 1, strcat('b=2&a=', tostring(g)),
          |          v == 2, strcat('a=', tostring(g), '&b=2&utm_source=x'),
          |          v == 3, strcat('utm_campaign=y&a=', tostring(g), '&b=2'),
          |          v == 4, strcat('a=', tostring(g), '&utm_x=1&b=2'),
          |          strcat('a=', tostring(g), '&b=2')))
          | | extend canon = strcat(
          |     tolower(extract('^([A-Za-z]+)://', 1, url)), '://',
          |     tolower(extract('^[A-Za-z]+://([^/:?]+)', 1, url)),
          |     extract('^[A-Za-z]+://[^/:?]+(:[0-9]+)?([^?]*)', 2, url), '?',
          |     strcat_array(array_sort_asc(split(trim('&',
          |       replace_regex(extract('[?](.*)$', 1, url), '(^|&)utm_[^&]*', '')),
          |       '&')), '&'))
          | | summarize nd = count() by canon
          | | summarize n_canon = count(), n5 = countif(nd == 5), smp = min(canon)
          | | project n_canon, all5 = n5 == n_canon, smp""".stripMargin),
      Some("""
        WITH f AS (SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS v FROM documents),
        u AS (SELECT doc_id,
                (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END) || '://' ||
                (CASE WHEN doc_id % 4 < 2 THEN 'WWW.Site' ELSE 'www.site' END) || g ||
                '.Example.COM' ||
                (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END) || '/docs/item?' ||
                (CASE v WHEN 1 THEN 'b=2&a=' || g
                        WHEN 2 THEN 'a=' || g || '&b=2&utm_source=x'
                        WHEN 3 THEN 'utm_campaign=y&a=' || g || '&b=2'
                        WHEN 4 THEN 'a=' || g || '&utm_x=1&b=2'
                        ELSE 'a=' || g || '&b=2' END) AS url
              FROM f),
        c AS (SELECT lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://' ||
                lower(regexp_extract(url, '^[A-Za-z]+://([^/:?]+)', 1)) ||
                regexp_extract(url, '^[A-Za-z]+://[^/:?]+(:[0-9]+)?([^?]*)', 2) || '?' ||
                array_to_string(list_sort(string_split(trim(
                  regexp_replace(regexp_extract(url, '[?](.*)$', 1),
                    '(^|&)utm_[^&]*', '', 'g'), '&'), '&')), '&') AS canon
              FROM u),
        d AS (SELECT canon, count(*) AS nd FROM c GROUP BY canon)
        SELECT CAST(count(*) AS BIGINT) AS n_canon,
               (count(*) FILTER (WHERE nd = 5)) = count(*) AS all5,
               min(canon) AS smp
        FROM d""")),

    "q_kql_geo_simplify" -> QueryDef(
      // Douglas–Peucker simplification, gated by the simplify∘densify
      // identity: densify inserts points ON each great circle (cross-track
      // ≈ 0 → all dropped at 1 m tolerance), so the round-trip recovers
      // EXACTLY the original vertices; at 50 km tolerance the ±0.1°
      // (≈11 km) wiggles vanish but the corner survives; a collinear ring
      // collapsing below 3 vertices nulls.
      (s, dir) => kqlRun(s, dir,
        """print line = dynamic([[0.0, 0.0], [3.0, 0.1], [6.0, -0.1], [10.0, 0.0], [10.0, 10.0]]),
          |      poly = dynamic([[0.0, 0.0], [5.0, 0.0], [5.0, 5.0], [0.0, 5.0]])
          | | extend dense = from_json(extractjson('$.coordinates',
          |       geo_line_densify(line, 50000.0)), 'array<array<double>>'),
          |     pdense = from_json(extractjson('$.coordinates[0]',
          |       geo_polygon_densify(poly, 200000.0)), 'array<array<double>>')
          | | extend rt = from_json(extractjson('$.coordinates',
          |       geo_line_simplify(dense, 1.0)), 'array<array<double>>'),
          |     prt = from_json(extractjson('$.coordinates[0]',
          |       geo_polygon_simplify(array_slice(pdense, 0, array_length(pdense) - 2), 1.0)),
          |       'array<array<double>>'),
          |     coarse = from_json(extractjson('$.coordinates',
          |       geo_line_simplify(line, 50000.0)), 'array<array<double>>')
          | | project n_dense = array_length(dense) >= 20,
          |     rt_n = array_length(rt),
          |     rt_ok = todouble(rt[1][0]) == 3.0 and todouble(rt[1][1]) == 0.1
          |       and todouble(rt[2][0]) == 6.0 and todouble(rt[2][1]) == -0.1,
          |     prt_n = array_length(prt),
          |     coarse_n = array_length(coarse),
          |     corner_kept = todouble(coarse[1][0]) == 10.0 and todouble(coarse[1][1]) == 0.0,
          |     inv = isnull(geo_polygon_simplify(
          |       dynamic([[0.0, 0.0], [1.0, 0.0], [2.0, 0.0]]), 500000.0))""".stripMargin),
      Some("""
        SELECT TRUE AS n_dense, CAST(5 AS BIGINT) AS rt_n, TRUE AS rt_ok,
               CAST(5 AS BIGINT) AS prt_n, CAST(3 AS BIGINT) AS coarse_n,
               TRUE AS corner_kept, TRUE AS inv""")),

    "q_kql_geo_buffer" -> QueryDef(
      // geo_point_buffer: vertex count pinned from the sagitta arithmetic
      // (default tolerance r/100 → ceil(π/acos(0.99)) = 23 vertices + ring
      // close), every vertex at haversine distance exactly r (the direct
      // and inverse spherical formulas are mutual inverses — double noise
      // only), enclosed area within 2% of the spherical cap 2πR²(1−cos(r/R))
      (s, dir) => kqlRun(s, dir,
        """print b = geo_point_buffer(30.0, 40.0, 100000.0)
          | | extend rc = from_json(extractjson('$.coordinates[0]', b), 'array<array<double>>')
          | | extend rco = array_slice(rc, 0, array_length(rc) - 2)
          | | extend ar0 = geo_polygon_area(rco)
          | | mv-expand rco
          | | extend d = geo_distance_2points(30.0, 40.0, todouble(rco[0]), todouble(rco[1]))
          | | summarize nv = count(), mx = max(abs(d - 100000.0)),
          |     closed = countif(todouble(rc[0][0]) == todouble(rc[array_length(rc) - 1][0])),
          |     ar = take_any(ar0)
          | | project nv, rad_ok = mx < 0.001, closed_ok = closed == nv,
          |     area_ok = abs(ar / (2.0 * 3.14159265358979 * 6371008.8 * 6371008.8
          |       * (1.0 - cos(100000.0 / 6371008.8))) - 1.0) < 0.02,
          |     inv = isnull(geo_point_buffer(0.0, 0.0, -1.0))""".stripMargin),
      Some("""
        SELECT CAST(23 AS BIGINT) AS nv, TRUE AS rad_ok, TRUE AS closed_ok,
               TRUE AS area_ok, TRUE AS inv""")),

    "q_kql_bag_pack_cols" -> QueryDef(
      // bag_pack_columns: the column NAMES become the bag keys (identifier
      // args only — restated literally in the oracle)
      (s, dir) => kqlRun(s, dir,
        """print a = 7, b = 'x', c = 1.5
          | | project j = bag_pack_columns(a, b, c),
          |     k = to_json(bag_keys(bag_pack_columns(a, b)))""".stripMargin),
      Some("""
        SELECT '{"a":7,"b":"x","c":1.5}' AS j, '["a","b"]' AS k""")),

    "q_kql_hash" -> QueryDef(
      // hash / hash_combine / hash_many (xxhash64, Spark seed 42 — value
      // constants diverge from ADX's XXH64 seed, documented): the contract
      // gates are determinism, mod-range containment, spread (≥ 99%
      // distinct over 1.5k names), combine≠plain independence, and one
      // engine-stable literal pin (xxhash64 is seed-fixed by spec).
      (s, dir) => kqlRun(s, dir,
        """customer
          | | extend h = hash(c_name), hm = hash(c_name, 100),
          |     hc = hash_combine(hash(c_name), hash(c_custkey)),
          |     h2 = hash_many(c_name, c_custkey)
          | | summarize n = count(), d = dcount(h),
          |     inrange = countif(hm >= 0 and hm < 100),
          |     det = countif(h == hash(c_name)),
          |     cdet = countif(hc == hash_combine(hash(c_name), hash(c_custkey))),
          |     mdet = countif(h2 == hash_many(c_name, c_custkey)),
          |     indep = countif(hc != h2)
          | | project spread_ok = d * 100 >= n * 99, inrange_ok = inrange == n,
          |     det_ok = det == n and cdet == n and mdet == n,
          |     indep_ok = indep == n,
          |     pin = hash('graft') == -4815631219266125053,
          |     pin_mod = hash('graft', 1000) == 947""".stripMargin),
      Some("""
        SELECT TRUE AS spread_ok, TRUE AS inrange_ok, TRUE AS det_ok,
               TRUE AS indep_ok, TRUE AS pin, TRUE AS pin_mod""")),

    "q_kql_row_window_session" -> QueryDef(
      // row_window_session over one user's serialized stream: idle cut at
      // 12 h, max-distance-from-first cut at 24 h (both rules bind on this
      // data — probed: 24 sessions, 4 max-duration cuts). The oracle
      // restates the sequential recurrence as a recursive CTE
      (s, dir) => kqlRun(s, dir,
        """events
          | | where user_id == 7
          | | order by ts asc, event_id asc
          | | extend ss = row_window_session(ts, 86400000000000, 43200000000000)
          | | summarize n = count(), spanmax = max(ts - ss) by ss
          | | order by ss asc""".stripMargin),
      Some("""
        WITH RECURSIVE ord AS (
          SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, epoch_ns(ts) AS tsn
          FROM events WHERE user_id = 7),
        rec AS (
          SELECT rn, tsn, tsn AS ss FROM ord WHERE rn = 1
          UNION ALL
          SELECT o.rn, o.tsn,
                 CASE WHEN o.tsn - r.tsn > 43200000000000
                        OR o.tsn - r.ss > 86400000000000
                      THEN o.tsn ELSE r.ss END
          FROM ord o JOIN rec r ON o.rn = r.rn + 1)
        SELECT ss, count(*) AS n, max(tsn - ss) AS spanmax
        FROM rec GROUP BY ss ORDER BY ss""")),

    "q_kql_theta_sets" -> QueryDef(
      // theta-sketch set algebra: per-status customer sketches, pivoted
      // side by side, intersect/diff/estimate scalars plus a theta_merge
      // union roll-up via toscalar. Round 12 (caught by the sf0.1
      // full-registry sweep): the original oracle pinned the RAW estimates
      // as exact counts, which only holds inside the < 4096-entry exact
      // regime — at sf0.1 (~14.5k distincts) the sketch estimates by
      // design. Now gated the approximate-operator way: the EXACT counts
      // (one per-custkey flag pass) are the pinned outputs, and the
      // estimates assert tolerance booleans in-plan (5% on point
      // estimates/union at k=4096 rsd≈1.6%; 10% on intersect/diff where
      // the error compounds).
      (s, dir) => kqlRun(s, dir,
        """let un = toscalar(orders | where o_orderstatus in ('F', 'O')
          |   | summarize th = theta(o_custkey) by st = o_orderstatus
          |   | summarize thm = theta_merge(th)
          |   | project e = tolong(theta_estimate(thm)));
          |let flags = orders | where o_orderstatus in ('F', 'O')
          |   | summarize hasF = max(iff(o_orderstatus == 'F', 1, 0)),
          |       hasO = max(iff(o_orderstatus == 'O', 1, 0)) by o_custkey;
          |let xi = toscalar(flags | summarize c = countif(hasF == 1 and hasO == 1)
          |   | project v = tolong(c));
          |let xf = toscalar(flags | summarize c = countif(hasF == 1) | project v = tolong(c));
          |let xo = toscalar(flags | summarize c = countif(hasO == 1) | project v = tolong(c));
          |let xu = toscalar(flags | summarize c = count() | project v = tolong(c));
          |orders
          | | where o_orderstatus in ('F', 'O')
          | | summarize th = theta(o_custkey) by st = o_orderstatus
          | | evaluate pivot(st, take_any(th))
          | | project exact_inter = xi, exact_only_f = xf - xi,
          |     exact_f = xf, exact_o = xo, exact_un = xu,
          |     ok_inter = abs(tolong(theta_estimate(theta_intersect(F, O))) - xi)
          |       <= 0.1 * xi,
          |     ok_only_f = abs(tolong(theta_estimate(theta_diff(F, O))) - (xf - xi))
          |       <= 0.1 * (xf - xi),
          |     ok_f = abs(tolong(theta_estimate(F)) - xf) <= 0.05 * xf,
          |     ok_o = abs(tolong(theta_estimate(O)) - xo) <= 0.05 * xo,
          |     ok_un = abs(un - xu) <= 0.05 * xu""".stripMargin),
      Some("""
        WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
             o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
        SELECT CAST((SELECT count(*) FROM f
                     WHERE o_custkey IN (SELECT o_custkey FROM o)) AS BIGINT) AS exact_inter,
               CAST((SELECT count(*) FROM f
                     WHERE o_custkey NOT IN (SELECT o_custkey FROM o)) AS BIGINT) AS exact_only_f,
               CAST((SELECT count(*) FROM f) AS BIGINT) AS exact_f,
               CAST((SELECT count(*) FROM o) AS BIGINT) AS exact_o,
               CAST((SELECT count(*) FROM
                     (SELECT * FROM f UNION SELECT * FROM o)) AS BIGINT) AS exact_un,
               TRUE AS ok_inter, TRUE AS ok_only_f, TRUE AS ok_f,
               TRUE AS ok_o, TRUE AS ok_un""")),

    "q_kql_freq_sketch" -> QueryDef(
      // frequent-items sketches, the top-k member of the two-level family:
      // freq() per order-status fine group, freq_merge() roll-up,
      // freq_topk read. 100 distinct keys keep the maxMapSize-512 sketch
      // in its exact regime (no evictions), so est == lb == ub == the true
      // count and the JSON text hash-matches the oracle bit for bit while
      // the merge path is still fully exercised
      (s, dir) => kqlRun(s, dir,
        """orders
          | | extend ck = tostring(o_custkey % 100)
          | | summarize f = freq(ck) by st = o_orderstatus
          | | summarize fm = freq_merge(f)
          | | project tk = freq_topk(fm, 5)""".stripMargin),
      Some("""
        WITH c AS (SELECT CAST(o_custkey % 100 AS VARCHAR) AS ck, count(*) AS n
                   FROM orders GROUP BY 1),
             t AS (SELECT ck, n FROM c ORDER BY n DESC, ck LIMIT 5)
        SELECT '[' || string_agg('{"item":"' || ck || '","est":' || n ||
                                 ',"lb":' || n || ',"ub":' || n || '}',
                                 ',' ORDER BY n DESC, ck) || ']' AS tk
        FROM t""")),

    "q_kql_bottomk_sample" -> QueryDef(
      // bottom-k sampling sketch — the uniform-distinct-sample member of
      // the mergeable suite (HLL count / t-digest quantile / theta sets /
      // freq top-k / bottom-k sample): per-status sketches roll up through
      // sample_bottomk_merge and the read is EXACT-deterministic (k
      // smallest md5 hashes of the distinct domain), so the oracle
      // re-derives the identical sample with ORDER BY md5(v) LIMIT k —
      // a sketch whose answer hash-matches bit for bit, merge path included
      (s, dir) => kqlRun(s, dir,
        """orders
          | | extend ck = tostring(o_custkey)
          | | summarize sk = sample_bottomk(ck, 8) by st = o_orderstatus
          | | summarize skm = sample_bottomk_merge(sk)
          | | project sample = bottomk_values(skm)""".stripMargin),
      Some("""
        WITH d AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v FROM orders),
             t AS (SELECT v, md5(v) AS h FROM d ORDER BY h LIMIT 8)
        SELECT '[' || string_agg('"' || v || '"', ',' ORDER BY h) || ']' AS sample
        FROM t""")),

    "q_kql_tdigest" -> QueryDef(
      // t-digest percentile sketches, the HLL pattern's percentile twin:
      // tdigest() per (returnflag, linestatus) fine group → tdigest_merge()
      // roll-up → percentile_tdigest scalars, tolerance-gated against the
      // exact percentile from the same run; exact values oracle-match to
      // keep the row non-vacuous
      (s, dir) => kqlRun(s, dir,
        """let ex50 = toscalar(lineitem | summarize percentile(l_quantity, 50));
          |let ex95 = toscalar(lineitem | summarize percentile(l_quantity, 95));
          |let exr = toscalar(lineitem
          |   | summarize c = countif(l_quantity <= ex50), n = count()
          |   | project r = 100.0 * todouble(c) / n);
          |lineitem
          | | summarize td = tdigest(l_quantity) by rf = l_returnflag, ls = l_linestatus
          | | summarize tdm = tdigest_merge(td)
          | | project p50 = percentile_tdigest(tdm, 50.0), p95 = percentile_tdigest(tdm, 95.0),
          |     rk = rank_tdigest(tdm, ex50)
          | | project ok50 = abs(p50 - ex50) <= ex50 * 0.05 + 1.0,
          |     ok95 = abs(p95 - ex95) <= ex95 * 0.05 + 1.0,
          |     ok_rank = abs(rk - exr) <= 5.0,
          |     e50 = round(ex50, 6), e95 = round(ex95, 6)""".stripMargin),
      Some("""
        SELECT TRUE AS ok50, TRUE AS ok95, TRUE AS ok_rank,
               round(quantile_cont(l_quantity, 0.50), 6) AS e50,
               round(quantile_cont(l_quantity, 0.95), 6) AS e95
        FROM lineitem""")),

    "q_kql_hll_sketches" -> QueryDef(
      // REAL sketch columns end-to-end: hll() per status → pivot the two
      // binary sketches side by side → scalar estimate + inclusion-
      // exclusion intersection. Estimates are deterministic (insert-order
      // independent); the in-plan tolerance booleans gate them against
      // exact counts from the same run (q_sketch_* convention), and the
      // exact counts oracle-match to keep the row non-vacuous.
      (s, dir) => kqlRun(s, dir,
        """let exact_f = toscalar(orders | where o_orderstatus == 'F'
          |   | summarize dcount(o_custkey));
          |let exact_o = toscalar(orders | where o_orderstatus == 'O'
          |   | summarize dcount(o_custkey));
          |let exact_i = toscalar(orders | where o_orderstatus in ('F', 'O')
          |   | summarize ns = dcount(o_orderstatus) by o_custkey
          |   | where ns == 2 | count);
          |orders
          | | where o_orderstatus in ('F', 'O')
          | | summarize h = hll(o_custkey) by o_orderstatus
          | | evaluate pivot(o_orderstatus, take_any(h))
          | | project est_f = dcount_hll(F), est_o = dcount_hll(O),
          |     est_inter = dcount_intersect(F, O)
          | | project ok_f = abs(est_f - exact_f) <= exact_f * 0.15,
          |     ok_o = abs(est_o - exact_o) <= exact_o * 0.15,
          |     ok_inter = abs(est_inter - exact_i) <= exact_i * 0.25 + 50.0,
          |     ex_f = exact_f, ex_o = exact_o, ex_inter = exact_i""".stripMargin),
      Some("""
        WITH f AS (SELECT count(DISTINCT o_custkey) AS ex_f FROM orders
                   WHERE o_orderstatus = 'F'),
             o AS (SELECT count(DISTINCT o_custkey) AS ex_o FROM orders
                   WHERE o_orderstatus = 'O'),
             i AS (SELECT count(*) AS ex_inter FROM (
                     SELECT o_custkey FROM orders
                     WHERE o_orderstatus IN ('F', 'O')
                     GROUP BY 1 HAVING count(DISTINCT o_orderstatus) = 2))
        SELECT TRUE AS ok_f, TRUE AS ok_o, TRUE AS ok_inter,
               ex_f, ex_o, ex_inter
        FROM f, o, i""")),

    "q_kql_session_count" -> QueryDef(
      // active sessions per day (3-day inactivity horizon): equals the
      // rolling distinct-id count — one active session per active id
      (s, dir) => kqlRun(s, dir,
        """events
          | | evaluate session_count(user_id, ts,
          |     1704067200000000000, 1706659200000000000,
          |     86400000000000, 259200000000000)
          | | order by timestamp asc""".stripMargin),
      Some("""
        WITH b AS (SELECT user_id,
                     1704067200000000000 + (epoch_us(ts)*1000 - 1704067200000000000)
                       // 86400000000000 * 86400000000000 AS bin
                   FROM events
                   WHERE epoch_us(ts)*1000 >= 1704067200000000000
                     AND epoch_us(ts)*1000 < 1706659200000000000),
             grid AS (SELECT unnest(range(1704067200000000000,
                                          1706659200000000000,
                                          86400000000000)) AS t)
        SELECT t AS "timestamp", count(DISTINCT user_id) AS "count"
        FROM grid JOIN b ON bin <= t AND bin > t - 259200000000000
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_sequence_detect" -> QueryDef(
      // sequence_detect: signup→purchase sequences within a 7-day span —
      // the scan closed form (latest preceding signup, newer than the
      // previous completion) plus the span filter and ADX's duration.
      // Outputs are µs-truncated instants; the corpus is µs-exact, so the
      // ns-side span filter and the µs-side oracle filter agree.
      (s, dir) => kqlRun(s, dir,
        """events
          | | where event_type in ('signup', 'purchase')
          | | evaluate sequence_detect(ts, 604800000000000, 604800000000000,
          |     user_id, signup = event_type == 'signup',
          |     purchase = event_type == 'purchase')
          | | project user_id, signup_us = signup_ts div 1000,
          |     purchase_us = purchase_ts div 1000, dur_us = duration div 1000
          | | order by user_id asc, purchase_us asc""".stripMargin),
      Some("""
        WITH lp AS (SELECT user_id, event_type, epoch_us(ts) AS tn FROM events
                    WHERE event_type IN ('signup','purchase')),
        m AS (SELECT user_id, event_type, tn,
                max(CASE WHEN event_type = 'signup' THEN tn END)
                  OVER (PARTITION BY user_id ORDER BY tn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_a
              FROM lp),
        b AS (SELECT user_id, tn AS purchase_us, last_a,
                lag(tn) OVER (PARTITION BY user_id ORDER BY tn) AS prev_b
              FROM m WHERE event_type = 'purchase')
        SELECT user_id, last_a AS signup_us, purchase_us,
               purchase_us - last_a AS dur_us
        FROM b WHERE last_a IS NOT NULL AND (prev_b IS NULL OR last_a > prev_b)
          AND purchase_us - last_a <= 604800000000
        ORDER BY user_id, purchase_us""")),

    "q_series_fft" -> QueryDef(
      // series_fft / series_ifft: numpy-checked spectral pins on a radix-2
      // (n=8) AND a Bluestein (n=6) vector, the ifft∘fft round-trip, and
      // Parseval (Σ|X|²/n = Σx²) — all computed through the REAL rewrite +
      // native-expression path. The [re, im] pair returns as [0]/[1] of one
      // array (ADX's tuple assignment has no Spark analog — documented).
      (s, dir) => kqlRun(s, dir,
        """print x = dynamic([1.0, 2.0, 3.0, 4.0, 0.0, -1.0, -2.0, 1.0]),
          |    y = dynamic([2.0, 1.0, -1.0, 0.5, 3.0, -2.0])
          | | extend f = series_fft(x), g = series_fft(y)
          | | extend rt = series_ifft(f[0], f[1])
          | | project re1 = round(todouble(f[0][1]), 6),
          |     im1 = round(todouble(f[1][1]), 6),
          |     gre2 = round(todouble(g[0][2]), 6),
          |     gim2 = round(todouble(g[1][2]), 6),
          |     rt_ok = todouble(array_sort(series_abs(series_subtract(rt[0], x)))[7])
          |       < 0.000000001,
          |     rti_ok = todouble(array_sort(series_abs(rt[1]))[7]) < 0.000000001,
          |     pv_ok = abs((series_dot_product(f[0], f[0])
          |       + series_dot_product(f[1], f[1])) / 8.0
          |       - series_dot_product(x, x)) < 0.000000001""".stripMargin),
      Some("""
        SELECT 1.0 AS re1, -9.242641 AS im1, 2.0 AS gre2, -6.062178 AS gim2,
               TRUE AS rt_ok, TRUE AS rti_ok, TRUE AS pv_ok""")),

    "q_series_periods" -> QueryDef(
      // series_periods_detect: top-2 candidate periods of the daily count
      // series by normalized autocorrelation (divergence from ADX's FFT
      // detector, same output contract). Candidates sort as [-score, lag]
      // pairs — lexicographic array order is (score desc, lag asc) on both
      // engines.
      (s, dir) => kqlRun(s, dir,
        """events
          | | make-series n = count()
          |     on ts from 1704067200000000000 to 1706659200000000000 step 86400000000000
          |     by event_type
          | | extend pd = series_periods_detect(n, 2, 10, 2)
          | | project event_type, periods_json = to_json(pd.periods),
          |     scores_json = to_json(pd.scores)
          | | order by event_type asc""".stripMargin),
      Some("""
        WITH e AS (SELECT event_type, epoch_ns(ts) AS tn FROM events),
             binned AS (
               SELECT event_type,
                      1704067200000000000 + CAST(floor((tn - 1704067200000000000) / 86400000000000) AS BIGINT) * 86400000000000 AS b,
                      count(*) AS n
               FROM e
               WHERE tn >= 1704067200000000000 AND tn < 1706659200000000000
               GROUP BY 1, 2),
             grid AS (
               SELECT k.event_type, g.b, CAST(coalesce(n, 0) AS DOUBLE) AS v
               FROM (SELECT DISTINCT event_type FROM binned) k
               CROSS JOIN (SELECT unnest(range(1704067200000000000, 1706659200000000000, 86400000000000)) AS b) g
               LEFT JOIN binned USING (event_type, b)),
             ser AS (SELECT event_type, list(v ORDER BY b) AS x
                     FROM grid GROUP BY 1),
             c AS (SELECT event_type,
                          list_transform(x, v -> v - list_sum(x) / len(x)) AS cc
                   FROM ser),
             d AS (SELECT event_type, cc,
                          list_sum(list_transform(cc, v -> v * v)) AS dd
                   FROM c),
             p AS (SELECT event_type,
                          list_sort(list_transform(generate_series(2, 10), L ->
                            [-(CASE WHEN dd > 0 AND len(cc) - L >= 1 THEN
                                 coalesce(list_sum(list_transform(
                                   generate_series(1, len(cc) - L),
                                   i -> cc[i] * cc[i + L])), 0) / dd
                               ELSE 0 END),
                             CAST(L AS DOUBLE)])) AS pairs
                   FROM d)
        SELECT event_type,
               to_json(list_transform(pairs[1:2], pr -> pr[2])) AS periods_json,
               to_json(list_transform(pairs[1:2], pr -> round(-pr[1], 6))) AS scores_json
        FROM p ORDER BY 1""")),

    "q_series_fit2lines" -> QueryDef(
      // series_fit_2lines_dynamic on an exact piecewise-linear fixture —
      // the oracle is the HAND-DERIVED ground truth (slope 1 then −2,
      // break at 6, perfect fit), not a reimplementation; every sum is
      // integer-exact in double so the recovered params are exact.
      // `+ 0.0` normalizes a possible −0.0 interception.
      (s, dir) => kqlRun(s, dir,
        """print d = series_fit_2lines_dynamic(
          |     dynamic([0.0, 1, 2, 3, 4, 5, 10, 8, 6, 4]))
          | | project split_idx = d.split_idx,
          |     rsq = round(d.rsquare, 6),
          |     ls = round(d.left_slope, 6) + 0.0,
          |     li = round(d.left_interception, 6) + 0.0,
          |     rs = round(d.right_slope, 6) + 0.0,
          |     ri = round(d.right_interception, 6) + 0.0,
          |     fit = to_json(transform(d.line_fit, v -> round(v, 6)))""".stripMargin),
      Some("""
        SELECT CAST(6 AS BIGINT) AS split_idx, 1.0 AS rsq,
               1.0 AS ls, 0.0 AS li, -2.0 AS rs, 22.0 AS ri,
               '[0.0,1.0,2.0,3.0,4.0,5.0,10.0,8.0,6.0,4.0]' AS fit""")),

    "q_kql_arrayfuncs" -> QueryDef(
      // dynamic-array scalar tail over an inline datatable: pure
      // codegen'd array-function work, zero shuffles. Set-op outputs are
      // sorted in the QUERY so engine ordering contracts can't diverge.
      (s, dir) => kqlRun(s, dir,
        """datatable (k:long) [ 1 ]
          | | extend a = dynamic([3, 1, 2, 2]), b = dynamic([2, 3, 4]),
          |     m = dynamic([true, false, true])
          | | project k,
          |     s_asc = to_json(array_sort_asc(a)),
          |     s_desc = to_json(array_sort_desc(a)),
          |     rev = to_json(array_reverse(b)),
          |     alen = array_length(a),
          |     cc = to_json(array_concat(a, b)),
          |     sl = to_json(array_slice(a, 1, 2)),
          |     rl = to_json(array_rotate_left(a, 1)),
          |     rr = to_json(array_rotate_right(a, 1)),
          |     shl = to_json(array_shift_left(a, 2, 0)),
          |     su = to_json(array_sort_asc(set_union(a, b))),
          |     si = to_json(array_sort_asc(set_intersect(a, b))),
          |     sd = to_json(array_sort_asc(set_difference(a, b))),
          |     has4 = set_has_element(b, 4),
          |     pk = to_json(pack_array(k, 5)),
          |     jac = round(jaccard_index(a, b), 6),
          |     aiff = to_json(array_iff(m, a, b)),
          |     zp = to_json(zip(b, b)),
          |     bk = to_json(bag_keys('{"x":1,"y":2}'))""".stripMargin),
      Some("""
        WITH d AS (SELECT CAST(1 AS BIGINT) AS k,
                          [3, 1, 2, 2] AS a, [2, 3, 4] AS b,
                          [true, false, true] AS m)
        SELECT k,
               to_json(list_sort(a)) AS s_asc,
               to_json(list_sort(a, 'DESC')) AS s_desc,
               to_json(list_reverse(b)) AS rev,
               CAST(len(a) AS BIGINT) AS alen,
               to_json(list_concat(a, b)) AS cc,
               to_json(list_slice(a, 2, 3)) AS sl,
               to_json(list_concat(list_slice(a, 2, 4), list_slice(a, 1, 1))) AS rl,
               to_json(list_concat(list_slice(a, 4, 4), list_slice(a, 1, 3))) AS rr,
               to_json(list_concat(list_slice(a, 3, 4), [0, 0])) AS shl,
               to_json(list_sort(list_distinct(list_concat(a, b)))) AS su,
               to_json(list_sort(list_distinct(list_intersect(a, b)))) AS si,
               to_json(list_sort(list_distinct(list_filter(a, x -> NOT list_contains(b, x))))) AS sd,
               list_contains(b, 4) AS has4,
               to_json([k, 5]) AS pk,
               round(CAST(len(list_distinct(list_intersect(a, b))) AS DOUBLE)
                 / len(list_distinct(list_concat(a, b))), 6) AS jac,
               to_json(list_transform(generate_series(1, len(m)),
                 i -> CASE WHEN m[i] THEN a[i] ELSE b[i] END)) AS aiff,
               to_json(list_transform(generate_series(1, len(b)),
                 i -> [b[i], b[i]])) AS zp,
               to_json(json_keys('{"x":1,"y":2}')) AS bk
        FROM d""")),

    "q_kql_cohort_retention" -> QueryDef(
      // new_activity_metrics: the sparse cohort matrix — cohort = first
      // active day, one row per (cohort, active day) pair with ≥1 retained
      (s, dir) => kqlRun(s, dir,
        """events
          | | evaluate new_activity_metrics(user_id, ts,
          |     1704067200000000000, 1706659200000000000, 86400000000000)
          | | order by from_timestamp asc, to_timestamp asc""".stripMargin),
      Some("""
        WITH b AS (SELECT DISTINCT user_id,
                     1704067200000000000 + (epoch_us(ts)*1000 - 1704067200000000000)
                       // 86400000000000 * 86400000000000 AS bin
                   FROM events
                   WHERE epoch_us(ts)*1000 >= 1704067200000000000
                     AND epoch_us(ts)*1000 < 1706659200000000000),
             c AS (SELECT user_id, min(bin) AS cohort FROM b GROUP BY 1),
             r AS (SELECT cohort, bin, count(DISTINCT b.user_id) AS dcount_retained
                   FROM b JOIN c USING (user_id) GROUP BY 1, 2),
             s AS (SELECT cohort, count(*) AS dcount_new FROM c GROUP BY 1)
        SELECT cohort AS from_timestamp, bin AS to_timestamp, dcount_new,
               dcount_retained,
               round(CAST(dcount_retained AS DOUBLE) / dcount_new, 6)
                 AS retention_rate
        FROM r JOIN s USING (cohort) ORDER BY 1, 2""")),

    "q_kql_activity_engagement" -> QueryDef(
      // DAU/WAU engagement ratio: distinct users in the trailing day over
      // distinct users in the trailing week, per day — two explode-shape
      // rolling dcounts joined on the grid
      (s, dir) => kqlRun(s, dir,
        """events
          | | evaluate activity_engagement(user_id, ts,
          |     1704067200000000000, 1706659200000000000,
          |     86400000000000, 604800000000000, 86400000000000)
          | | order by timestamp asc""".stripMargin),
      Some("""
        WITH b AS (SELECT user_id,
                     1704067200000000000 + (epoch_us(ts)*1000 - 1704067200000000000)
                       // 86400000000000 * 86400000000000 AS bin
                   FROM events
                   WHERE epoch_us(ts)*1000 >= 1704067200000000000
                     AND epoch_us(ts)*1000 < 1706659200000000000),
             grid AS (SELECT unnest(range(1704067200000000000,
                                          1706659200000000000,
                                          86400000000000)) AS t),
             i AS (SELECT t, count(DISTINCT user_id) AS di
                   FROM grid JOIN b ON bin <= t AND bin > t - 86400000000000
                   GROUP BY 1),
             o AS (SELECT t, count(DISTINCT user_id) AS do_
                   FROM grid JOIN b ON bin <= t AND bin > t - 604800000000000
                   GROUP BY 1)
        SELECT i.t AS "timestamp", di AS dcount_activities_inner,
               do_ AS dcount_activities_outer,
               round(CAST(di AS DOUBLE) / do_, 6) AS activity_ratio
        FROM i JOIN o ON i.t = o.t ORDER BY 1""")),

    "q_kql_funnel_sequence" -> QueryDef(
      // click→purchase transitions grouped by the surrounding states
      // ('' at stream edges): k−1 lead chain per user, one shuffle, no
      // self-joins. (user_id, ts) is unique in the corpus, so the per-user
      // order — and therefore the lead chain — is total on both engines.
      (s, dir) => kqlRun(s, dir,
        """events
          | | evaluate funnel_sequence(user_id, ts, event_type,
          |     'click', 'purchase')
          | | order by matches desc, prev asc, next asc""".stripMargin),
      Some("""
        WITH o AS (SELECT user_id, event_type,
                          coalesce(lag(event_type) OVER w, '') AS prev,
                          lead(event_type, 1) OVER w AS n1,
                          coalesce(lead(event_type, 2) OVER w, '') AS next
                   FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        SELECT prev, next, count(*) AS matches,
               count(DISTINCT user_id) AS dcount_ids
        FROM o WHERE event_type = 'click' AND n1 = 'purchase'
        GROUP BY 1, 2 ORDER BY matches DESC, prev, next""")),

    "q_kql_rolling_percentile" -> QueryDef(
      // trailing-week median of event value per day — EXACT interpolated
      // percentile (ADX's plugin is T-digest approximate; documented
      // divergence keeps the quantile_cont twin bit-comparable)
      (s, dir) => kqlRun(s, dir,
        """events
          | | evaluate rolling_percentile(value, 50, ts,
          |     1704067200000000000, 1706659200000000000, 7, 86400000000000)
          | | order by timestamp asc""".stripMargin),
      Some("""
        WITH b AS (SELECT value,
                     1704067200000000000 + (epoch_us(ts)*1000 - 1704067200000000000)
                       // 86400000000000 * 86400000000000 AS bin
                   FROM events
                   WHERE epoch_us(ts)*1000 >= 1704067200000000000
                     AND epoch_us(ts)*1000 < 1706659200000000000),
             grid AS (SELECT unnest(range(1704067200000000000,
                                          1706659200000000000,
                                          86400000000000)) AS t)
        SELECT t AS "timestamp",
               round(quantile_cont(value, 0.5), 6) AS rolling_percentile
        FROM grid JOIN b ON bin <= t AND bin > t - 604800000000000
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_autocluster" -> QueryDef(
      // autocluster = the basket lattice + the CLOSED-segment rule: `cls`
      // is functionally dependent on priority, so every (priority, *)
      // segment is subsumed by its equal-count (priority, cls) twin and
      // must be dropped — the oracle restates the rule as NOT EXISTS over
      // the same support-filtered cube.
      (s, dir) => kqlRun(s, dir,
        """orders
          | | extend cls = iff(o_orderpriority == '1-URGENT'
          |     or o_orderpriority == '2-HIGH', 'hot', 'std')
          | | project o_orderstatus, o_orderpriority, cls
          | | evaluate autocluster(0.05)
          | | project status = coalesce(o_orderstatus, '*'),
          |     priority = coalesce(o_orderpriority, '*'),
          |     cls = coalesce(cls, '*'), Count, Percent
          | | order by Count desc, status asc, priority asc, cls asc""".stripMargin),
      Some("""
        WITH base AS (SELECT o_orderstatus AS s, o_orderpriority AS p,
                             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                  THEN 'hot' ELSE 'std' END AS c
                      FROM orders),
             tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM base),
             cand AS (SELECT s, p, c, GROUPING(s) AS gs, GROUPING(p) AS gp,
                             GROUPING(c) AS gc, count(*) AS cnt
                      FROM base GROUP BY CUBE(s, p, c)),
             f AS (SELECT * FROM cand, tot
                   WHERE NOT (gs = 1 AND gp = 1 AND gc = 1) AND cnt >= t * 0.05)
        SELECT coalesce(a.s, '*') AS status, coalesce(a.p, '*') AS priority,
               coalesce(a.c, '*') AS cls, a.cnt AS "Count",
               round(a.cnt * 100 / a.t, 6) AS "Percent"
        FROM f a
        WHERE NOT EXISTS (SELECT 1 FROM f b
          WHERE b.cnt = a.cnt
            AND b.gs <= a.gs AND b.gp <= a.gp AND b.gc <= a.gc
            AND b.gs + b.gp + b.gc < a.gs + a.gp + a.gc
            AND (a.gs = 1 OR b.s = a.s)
            AND (a.gp = 1 OR b.p = a.p)
            AND (a.gc = 1 OR b.c = a.c))
        ORDER BY "Count" DESC, status, priority, cls""")),

    "q_kql_diffpatterns" -> QueryDef(
      // click-vs-purchase segment share difference over (value band,
      // user bucket): ONE cube with conditional counts, percent against
      // each cohort's own total, |diff| ≥ 0.1pp
      (s, dir) => kqlRun(s, dir,
        """events
          | | extend band = iff(value > 50.0, 'hi', 'lo'),
          |     ub = tostring(user_id % 7)
          | | project event_type, band, ub
          | | evaluate diffpatterns(event_type, 'click', 'purchase', 0.1)
          | | project band = coalesce(band, '*'), ub = coalesce(ub, '*'),
          |     CountA, CountB, PercentA, PercentB, PercentDiff
          | | order by PercentDiff desc, band asc, ub asc""".stripMargin),
      Some("""
        WITH base AS (SELECT event_type,
                             CASE WHEN value > 50.0 THEN 'hi' ELSE 'lo' END AS band,
                             CAST(user_id % 7 AS VARCHAR) AS ub
                      FROM events WHERE event_type IN ('click', 'purchase')),
             tot AS (SELECT CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS ta,
                            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) AS tb
                     FROM base),
             cand AS (SELECT band, ub, GROUPING(band) AS gb, GROUPING(ub) AS gu,
                             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
                             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
                      FROM base GROUP BY CUBE(band, ub))
        SELECT coalesce(band, '*') AS band, coalesce(ub, '*') AS ub,
               CAST(ca AS BIGINT) AS CountA, CAST(cb AS BIGINT) AS CountB,
               round(ca * 100 / ta, 6) AS PercentA,
               round(cb * 100 / tb, 6) AS PercentB,
               round(round(ca * 100 / ta, 6) - round(cb * 100 / tb, 6), 6) AS PercentDiff
        FROM cand, tot
        WHERE NOT (gb = 1 AND gu = 1)
          AND abs(round(round(ca * 100 / ta, 6) - round(cb * 100 / tb, 6), 6)) >= 0.1
        ORDER BY PercentDiff DESC, band, ub""")),

    "q_kql_scalar_tail2" -> QueryDef(
      // series cosine, float classification, and the one-array percentiles
      // aggregate in a single oracle row over lineitem quantities
      (s, dir) => kqlRun(s, dir,
        """let cs = toscalar(print round(series_cosine_similarity(
          |   dynamic([1.0, 2.0, 3.0]), dynamic([2.0, 4.0, 6.0])), 6));
          |lineitem
          | | where l_orderkey <= 1000
          | | summarize pa = percentiles_array(l_quantity, 25, 50, 75)
          | | project pa_json = to_json(transform(pa, v -> round(v, 6))),
          |     cos_par = cs,
          |     inf_flag = isinf(todouble('Infinity')),
          |     fin_flag = isfinite(42.0),
          |     nan_fin = isfinite(todouble('NaN'))""".stripMargin),
      Some("""
        SELECT to_json([round(quantile_cont(l_quantity, 0.25), 6),
                        round(quantile_cont(l_quantity, 0.50), 6),
                        round(quantile_cont(l_quantity, 0.75), 6)]) AS pa_json,
               1.0 AS cos_par, TRUE AS inf_flag, TRUE AS fin_flag,
               FALSE AS nan_fin
        FROM lineitem WHERE l_orderkey <= 1000""")),

    "q_kql_math_tail" -> QueryDef(
      // math/string/CSV scalar tail: gamma family via the WelchTest
      // Lanczos numerics (DuckDB's gamma/lgamma recompute them exactly),
      // beta_cdf against its integer-parameter CLOSED FORM I_x(2,2) =
      // 3x²−2x³, three-way strcmp with null-safe CASE, replace_regex,
      // RFC-4180 parse_csv (embedded comma), and the IANA-zone datetime
      // converters (America/New_York straddles UTC−5 in January)
      (s, dir) => kqlRun(s, dir,
        """print g1 = round(gamma(7.5), 6), lg = round(loggamma(12.3), 6),
          |   b1 = round(beta_cdf(0.25, 2.0, 2.0), 6),
          |   b2 = round(beta_cdf(0.5, 2.0, 2.0), 6),
          |   sc1 = strcmp('abc', 'abd'), sc2 = strcmp('x', 'x'),
          |   rr = replace_regex('ab12cd34', '[0-9]+', '#'),
          |   c0 = parse_csv('a,"b,c",d')[0], c1 = parse_csv('a,"b,c",d')[1],
          |   c2 = parse_csv('a,"b,c",d')[2],
          |   lcl = tostring(datetime_utc_to_local(datetime(2024-01-01 12:00:00),
          |       'America/New_York')),
          |   utc = tostring(datetime_local_to_utc(datetime(2024-01-01 12:00:00),
          |       'America/New_York'))""".stripMargin),
      Some("""
        SELECT round(gamma(7.5), 6) AS g1,
               round(lgamma(12.3), 6) AS lg,
               round(CAST(0.15625 AS DOUBLE), 6) AS b1,
               round(CAST(0.5 AS DOUBLE), 6) AS b2,
               CAST(-1 AS BIGINT) AS sc1, CAST(0 AS BIGINT) AS sc2,
               'ab#cd#' AS rr,
               'a' AS c0, 'b,c' AS c1, 'd' AS c2,
               '2024-01-01 07:00:00' AS lcl,
               '2024-01-01 17:00:00' AS utc""")),

    "q_kql_geo_polygon" -> QueryDef(
      // geo_point_in_polygon over synthetic per-order coordinates:
      // GEODESIC containment — gnomonic projection centered at each query
      // point (great circles → straight lines) followed by planar ray
      // casting from the origin. The ring spans ±40°, where geodesic
      // edges bulge poleward by several degrees vs the planar shortcut,
      // so this pins real spherical behavior; the projection and crossing
      // test restate identically in DuckDB (same closed form, same
      // operation order), so the boolean is exact per row
      (s, dir) => kqlRun(s, dir,
        """orders
          | | where o_orderkey <= 500
          | | extend lon = (o_orderkey % 180) * 1.0 - 90.0,
          |     lat = (o_orderkey % 80) * 1.0 - 40.0
          | | extend inside = geo_point_in_polygon(lon, lat,
          |     dynamic([[-30.0, -20.0], [40.0, -25.0], [35.0, 30.0], [-25.0, 35.0]]))
          | | summarize n_in = countif(inside), n = count()""".stripMargin),
      Some("""
        WITH f AS (SELECT o_orderkey,
                     (o_orderkey % 180) * 1.0 - 90.0 AS x,
                     (o_orderkey % 80) * 1.0 - 40.0 AS y
                   FROM orders WHERE o_orderkey <= 500),
        p AS (SELECT [[-30.0, -20.0], [40.0, -25.0], [35.0, 30.0], [-25.0, 35.0]] AS poly),
        pr AS (SELECT x, y,
                list_transform(poly, v ->
                  [ (cos(radians(v[2])) * sin(radians(v[1]) - radians(x))) /
                    (sin(radians(y)) * sin(radians(v[2])) + cos(radians(y)) * cos(radians(v[2])) * cos(radians(v[1]) - radians(x))),
                    (cos(radians(y)) * sin(radians(v[2])) - sin(radians(y)) * cos(radians(v[2])) * cos(radians(v[1]) - radians(x))) /
                    (sin(radians(y)) * sin(radians(v[2])) + cos(radians(y)) * cos(radians(v[2])) * cos(radians(v[1]) - radians(x))) ]) AS r
               FROM f, p),
        e AS (SELECT x, y,
                list_sum(list_transform(list_zip(r, list_concat(r[2:], [r[1]])),
                  q -> CASE WHEN ((q[1][2] > 0.0) != (q[2][2] > 0.0))
                             AND (0.0 < (q[2][1] - q[1][1]) * (0.0 - q[1][2])
                                      / (q[2][2] - q[1][2]) + q[1][1])
                       THEN 1 ELSE 0 END)) % 2 = 1 AS inside
              FROM pr)
        SELECT CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
               CAST(count(*) AS BIGINT) AS n FROM e""")),

    "q_kql_geo_measures" -> QueryDef(
      // geo_line_length (haversine segment fold) and geo_polygon_area
      // (fan-triangulated spherical excess, Eriksson atan2 form) over
      // per-order synthetic triangles — both closed forms restate
      // verbatim in DuckDB (same operation order), so the rounded sums
      // are exact across engines
      (s, dir) => kqlRun(s, dir,
        """orders
          | | where o_orderkey <= 200
          | | extend lon1 = (o_orderkey % 90) * 1.0, lat1 = (o_orderkey % 45) * 1.0
          | | extend lon2 = lon1 + 5.0, lat2 = lat1 - 3.0,
          |     lon3 = lon1 - 4.0, lat3 = lat1 + 6.0
          | | extend len = geo_line_length(dynamic([[lon1, lat1], [lon2, lat2], [lon3, lat3]])),
          |     area = geo_polygon_area(dynamic([[lon1, lat1], [lon2, lat2], [lon3, lat3]]))
          | | summarize sl = sum(len), sa = sum(area), n = count()
          | | project total_len_km = round(sl / 1000.0, 3),
          |     total_area_1e9m2 = round(sa / 1000000000.0, 3), n""".stripMargin),
      Some("""
        WITH f AS (SELECT o_orderkey,
                     (o_orderkey % 90) * 1.0 AS lon1, (o_orderkey % 45) * 1.0 AS lat1
                   FROM orders WHERE o_orderkey <= 200),
        g AS (SELECT o_orderkey, lon1, lat1,
                     lon1 + 5.0 AS lon2, lat1 - 3.0 AS lat2,
                     lon1 - 4.0 AS lon3, lat1 + 6.0 AS lat3 FROM f),
        m AS (SELECT
          (2.0 * 6371008.8 * asin(sqrt(pow(sin(radians((lat2) - (lat1)) / 2), 2) + cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(radians((lon2) - (lon1)) / 2), 2))))
          + (2.0 * 6371008.8 * asin(sqrt(pow(sin(radians((lat3) - (lat2)) / 2), 2) + cos(radians(lat2)) * cos(radians(lat3)) * pow(sin(radians((lon3) - (lon2)) / 2), 2)))) AS len,
          abs(2 * atan2(
            (cos(radians(lat1))*cos(radians(lon1))) * ((cos(radians(lat2))*sin(radians(lon2))) * sin(radians(lat3)) - sin(radians(lat2)) * (cos(radians(lat3))*sin(radians(lon3))))
            + (cos(radians(lat1))*sin(radians(lon1))) * (sin(radians(lat2)) * (cos(radians(lat3))*cos(radians(lon3))) - (cos(radians(lat2))*cos(radians(lon2))) * sin(radians(lat3)))
            + sin(radians(lat1)) * ((cos(radians(lat2))*cos(radians(lon2))) * (cos(radians(lat3))*sin(radians(lon3))) - (cos(radians(lat2))*sin(radians(lon2))) * (cos(radians(lat3))*cos(radians(lon3)))),
            1 + ((cos(radians(lat1))*cos(radians(lon1)))*(cos(radians(lat2))*cos(radians(lon2))) + (cos(radians(lat1))*sin(radians(lon1)))*(cos(radians(lat2))*sin(radians(lon2))) + sin(radians(lat1))*sin(radians(lat2)))
              + ((cos(radians(lat2))*cos(radians(lon2)))*(cos(radians(lat3))*cos(radians(lon3))) + (cos(radians(lat2))*sin(radians(lon2)))*(cos(radians(lat3))*sin(radians(lon3))) + sin(radians(lat2))*sin(radians(lat3)))
              + ((cos(radians(lat3))*cos(radians(lon3)))*(cos(radians(lat1))*cos(radians(lon1))) + (cos(radians(lat3))*sin(radians(lon3)))*(cos(radians(lat1))*sin(radians(lon1))) + sin(radians(lat3))*sin(radians(lat1)))
          )) * 6371008.8 * 6371008.8 AS area
          FROM g)
        SELECT round(sum(len) / 1000.0, 3) AS total_len_km,
               round(sum(area) / 1000000000.0, 3) AS total_area_1e9m2,
               CAST(count(*) AS BIGINT) AS n FROM m""")),

    "q_kql_geo_line_dist" -> QueryDef(
      // geo_distance_point_to_line: per-order synthetic 3-point polyline
      // and a nearby query point — per segment, cross-track distance when
      // the perpendicular foot is within the arc, else nearer-endpoint
      // (unit-vector closed form). The oracle restates the IDENTICAL
      // arithmetic via KqlCompat.segmentDistanceSql — both engines
      // evaluate the same trig text, so the rounded sum matches exactly
      // (the geo_measures discipline). A 1-point line is NULL.
      (s, dir) => kqlRun(s, dir,
        """orders
          | | where o_orderkey <= 200
          | | extend lon1 = (o_orderkey % 90) * 1.0, lat1 = (o_orderkey % 45) * 1.0
          | | extend lon2 = lon1 + 5.0, lat2 = lat1 - 3.0,
          |     lon3 = lon1 - 4.0, lat3 = lat1 + 6.0,
          |     px = lon1 + 2.0, py = lat1 + 1.0
          | | extend d = geo_distance_point_to_line(px, py,
          |       dynamic([[lon1, lat1], [lon2, lat2], [lon3, lat3]])),
          |     dn = geo_distance_point_to_line(px, py, dynamic([[lon1, lat1]]))
          | | summarize sd = sum(d), n = count(), nnull = sum(iff(isnull(dn), 1, 0))
          | | project total_d_km = round(sd / 1000.0, 3), n, nnull""".stripMargin),
      Some {
        def comp(lon: String, lat: String): (String, String, String) =
          (s"(cos(radians($lat)) * cos(radians($lon)))",
           s"(cos(radians($lat)) * sin(radians($lon)))",
           s"(sin(radians($lat)))")
        val (p1, p2, p3) = comp("px", "py")
        val (a1, a2, a3) = comp("lon1", "lat1")
        val (b1, b2, b3) = comp("lon2", "lat2")
        val (c1, c2, c3) = comp("lon3", "lat3")
        val seg1 = KqlCompat.segmentDistanceSql(a1, a2, a3, b1, b2, b3, p1, p2, p3)
        val seg2 = KqlCompat.segmentDistanceSql(b1, b2, b3, c1, c2, c3, p1, p2, p3)
        s"""
        WITH f AS (SELECT o_orderkey,
                     (o_orderkey % 90) * 1.0 AS lon1, (o_orderkey % 45) * 1.0 AS lat1
                   FROM orders WHERE o_orderkey <= 200),
        g AS (SELECT o_orderkey, lon1, lat1,
                     lon1 + 5.0 AS lon2, lat1 - 3.0 AS lat2,
                     lon1 - 4.0 AS lon3, lat1 + 6.0 AS lat3,
                     lon1 + 2.0 AS px, lat1 + 1.0 AS py FROM f),
        m AS (SELECT least($seg1, $seg2) * 6371008.8 AS d FROM g)
        SELECT round(sum(d) / 1000.0, 3) AS total_d_km,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS nnull FROM m"""
      }),

    "q_kql_ipv4_text" -> QueryDef(
      // has_ipv4 family (log-scanning predicates: properly-delimited,
      // octet-valid dotted quads via ONE regexp pass + the parse_ipv4
      // fold on each candidate), 2-arg ADX trim, and the quarter
      // datetime pair — fixture constants through the real rewrite path
      (s, dir) => kqlRun(s, dir,
        """print h1 = has_ipv4('src 192.168.1.1 dst'),
          |   h2 = has_ipv4('bad 999.1.2.3 here'),
          |   h3 = has_ipv4('edge 10.0.0.255'),
          |   h4 = has_ipv4('1.2.3.4.5'),
          |   hp = has_ipv4_prefix('from 118.56.2.9 port', '118.56.'),
          |   hp2 = has_ipv4_prefix('from 118.56.2.9 port', '119.'),
          |   ha = has_any_ipv4('saw 10.1.1.1 and 10.1.1.2', '10.1.1.2', '8.8.8.8'),
          |   ha2 = has_any_ipv4('saw 10.1.1.1 only', '8.8.8.8'),
          |   tr = trim('[-+]+', '--hello++'),
          |   tq = tostring(startofquarter(datetime(2024-05-15))),
          |   eq = tostring(endofquarter(datetime(2024-05-15))),
          |   fm = format_ipv4_mask('192.165.12.17', 24),
          |   fm2 = format_ipv4_mask('192.165.12.17/20', 24),
          |   pm6 = parse_ipv6_mask('2001:db8:abcd:12:ffff::1', 64),
          |   pm6v4 = parse_ipv6_mask('192.168.1.5', 128)""".stripMargin),
      Some("""
        SELECT TRUE AS h1, FALSE AS h2, TRUE AS h3, FALSE AS h4,
               TRUE AS hp, FALSE AS hp2, TRUE AS ha, FALSE AS ha2,
               'hello' AS tr,
               '2024-04-01 00:00:00' AS tq,
               '2024-06-30 23:59:59.999999' AS eq,
               '192.165.12.0/24' AS fm, '192.165.0.0/20' AS fm2,
               '2001:0db8:abcd:0012:0000:0000:0000:0000' AS pm6,
               '0000:0000:0000:0000:0000:ffff:c0a8:0105' AS pm6v4""")),

    "q_kql_ipv6funcs" -> QueryDef(
      // IPv6 family over the native ipv6_norm expression: canonical
      // normalization (compression, embedded/plain IPv4), fixed-width
      // ordering, and nibble-prefix matching — constants through the real
      // rewrite + codegen path, oracle restates the expected values
      (s, dir) => kqlRun(s, dir,
        """print a = parse_ipv6('2001:db8::8a2e:370:7334')
          | | project a,
          |     v4 = parse_ipv6('127.0.0.1'),
          |     bad_null = isnull(parse_ipv6('1::2::3')),
          |     cmp_eq = ipv6_compare('::1', '0:0:0:0:0:0:0:1'),
          |     cmp_lt = ipv6_compare('::1', '::2'),
          |     m48 = ipv6_is_match('2001:db8:0:1::1', '2001:db8:0:2::9', 48),
          |     m48f = ipv6_is_match('2001:db8:0:1::1', '2001:db9:0:1::1', 48),
          |     m128 = ipv6_is_match('::1', '0:0::0:1')""".stripMargin),
      Some("""
        SELECT '2001:0db8:0000:0000:0000:8a2e:0370:7334' AS a,
               '0000:0000:0000:0000:0000:ffff:7f00:0001' AS v4,
               TRUE AS bad_null,
               CAST(0 AS INT) AS cmp_eq, CAST(-1 AS INT) AS cmp_lt,
               TRUE AS m48, FALSE AS m48f, TRUE AS m128""")),

    "q_kql_scalar_tail4" -> QueryDef(
      // bitwise scalars, bag_keys, array_shift_right — constants through
      // the rewrite path, DuckDB restates with its native bit operators
      (s, dir) => kqlRun(s, dir,
        """print b_and = binary_and(12, 10)
          | | project b_and, b_or = binary_or(12, 10), b_xor = binary_xor(12, 10),
          |     b_not = binary_not(0),
          |     sl = binary_shift_left(1, 10), sr = binary_shift_right(1024, 3),
          |     bc = bitset_count_ones(255),
          |     keys = to_json(bag_keys('{"b":1,"a":2}')),
          |     shr = to_json(array_shift_right(dynamic([1, 2, 3, 4]), 1, 0))""".stripMargin),
      Some("""
        SELECT 12 & 10 AS b_and, 12 | 10 AS b_or, xor(12, 10) AS b_xor,
               ~0 AS b_not,
               CAST(1 << 10 AS BIGINT) AS sl, CAST(1024 >> 3 AS BIGINT) AS sr,
               CAST(bit_count(CAST(255 AS BIGINT)) AS BIGINT) AS bc,
               CAST(to_json(json_keys('{"b":1,"a":2}')) AS VARCHAR) AS keys,
               '[0,1,2,3]' AS shr""")),

    "q_kql_rows_near" -> QueryDef(
      // rows_near: context rows around error events in one user's
      // serialized stream — two ScanOps distance scans (since-last /
      // to-next TRUE), zero shuffle, never a one-partition window; the
      // oracle restates the window as ROWS BETWEEN after PRECEDING AND
      // before FOLLOWING over the same order
      (s, dir) => kqlRun(s, dir,
        """events
          | | where user_id == 7
          | | order by ts asc
          | | evaluate rows_near(event_type == 'error', 1, 2)
          | | project event_id, event_type
          | | order by event_id asc""".stripMargin),
      Some("""
        SELECT event_id, event_type
        FROM (SELECT event_id, event_type,
                     max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       OVER (ORDER BY ts ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS nearby
              FROM events WHERE user_id = 7)
        WHERE nearby = 1 ORDER BY event_id""")),

    "q_kql_scalar_tail3" -> QueryDef(
      // URL anatomy, comparable versions, regex trims/quoting, ascii
      // classification, Sunday-based startofweek — constants through the
      // REAL rewrite+eval path, oracle restates the expected values
      (s, dir) => kqlRun(s, dir,
        """print u = parse_url('https://user@example.com:8080/a/b?x=1&y=2#frag')
          | | project scheme = u.Scheme, host = u.Host, port = u.Port,
          |     path = u.Path, qry = u.Query, frag = u.Fragment,
          |     ver_cmp = parse_version('10.2.0.1') > parse_version('2.9.9.9'),
          |     ver_eq = parse_version('1.2') == parse_version('1.2.0.0'),
          |     enc = url_encode('a b&c'), dec = url_decode('a%20b%26c'),
          |     tr = translate('abc', 'xyz', 'aabbcc'),
          |     t_start = trim_start('[0-9]+', '123abc456'),
          |     t_end = trim_end('[0-9]+', '123abc456'),
          |     asc_t = isascii('plain'), asc_f = isascii('café'),
          |     ir = indexof_regex('hello world', 'o w'),
          |     ir_none = indexof_regex('abc', 'z+'),
          |     doy = tolong(dayofyear(datetime(2024-03-01))),
          |     sow = format_datetime(startofweek(datetime(2024-03-15)), 'yyyy-MM-dd'),
          |     mx = max_of(3, 7, 5), mn = todouble(min_of(3.5, 2.0)),
          |     sub = substring('abcdef', 2, 3),
          |     e2 = exp2(10), ct = round(cot(1.0), 6),
          |     tsp = format_datetime(datetime(2024-01-01) + totimespan('1.02:30:00'),
          |       'yyyy-MM-dd HH:mm'),
          |     uq = parse_urlquery('https://e.com/p?b=2&a=1%203'),
          |     uq2 = parse_urlquery('https://e.com/p?a=b=c&k'),
          |     gl0 = geo_line_length(dynamic([[1.0, 2.0]])),
          |     pc = punycode_from_string('münchen'),
          |     pcd = punycode_to_string('bcher-kva'),
          |     pcbad = isnull(punycode_to_string('zzz999'))""".stripMargin),
      Some("""
        SELECT 'https' AS scheme, 'example.com' AS host, '8080' AS port,
               '/a/b' AS path, 'x=1&y=2' AS qry, 'frag' AS frag,
               '{"Query Parameters":{"a":"1 3","b":"2"}}' AS uq,
               -- value = everything after the FIRST '=' ('b=c'); a bare
               -- key keeps an empty value; degenerate 1-point line is 0.0
               '{"Query Parameters":{"a":"b=c","k":""}}' AS uq2,
               0.0 AS gl0,
               'mnchen-3ya' AS pc, 'bücher' AS pcd, TRUE AS pcbad,
               TRUE AS ver_cmp, TRUE AS ver_eq,
               'a+b%26c' AS enc, 'a b&c' AS dec, 'xxyyzz' AS tr,
               'abc456' AS t_start, '123abc' AS t_end,
               TRUE AS asc_t, FALSE AS asc_f,
               CAST(4 AS BIGINT) AS ir, CAST(-1 AS BIGINT) AS ir_none,
               CAST(61 AS BIGINT) AS doy, '2024-03-10' AS sow,
               CAST(7 AS INT) AS mx, 2.0 AS mn, 'cde' AS sub,
               1024.0 AS e2, 0.642093 AS ct, '2024-01-02 02:30' AS tsp""")),

    "q_kql_row_rank" -> QueryDef(
      // row_rank_dense + row_rank_min over the serialized event stream of
      // one user: dense bumps when the event type changes (lag + cumsum
      // scans), min is the run-start row number (global row index minus
      // rows-since-boundary via distSinceTrue) — no 1-partition window
      (s, dir) => kqlRun(s, dir,
        """events
          | | where user_id == 7
          | | order by ts asc
          | | extend r = row_rank_dense(event_type)
          | | extend rm = row_rank_min(event_type)
          | | project event_id, event_type, r, rm
          | | order by event_id asc""".stripMargin),
      Some("""
        WITH b AS (SELECT event_id, ts, event_type,
                          lag(event_type) OVER (ORDER BY ts) AS prev,
                          row_number() OVER (ORDER BY ts) AS rid
                   FROM events WHERE user_id = 7),
             r AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL OR event_type <> prev
                                           THEN 1 ELSE 0 END)
                     OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS r
                   FROM b)
        SELECT event_id, event_type, r,
               CAST(min(rid) OVER (PARTITION BY r) AS BIGINT) AS rm
        FROM r ORDER BY event_id""")),

    "q_kql_graph_varlen" -> QueryDef(
      // variable-length graph-match on the TPC-H bulk-shipment graph:
      // (x)-[e*1..2]->(y) from customers = the union of the 1-hop (c→s)
      // and 2-hop (c→s→p) chains, counted per hop depth. Each expansion is
      // plain Catalyst joins with the qty=50 edge filter pushed to scans.
      (s, dir) => kqlRun(s, dir,
        """let E = orders
          |   | join kind=inner hint.strategy=shuffle (lineitem) on $left.o_orderkey == $right.l_orderkey
          |   | where l_quantity == 50
          |   | project src = strcat('c', tostring(o_custkey)),
          |       dst = strcat('s', tostring(l_suppkey))
          |   | union (lineitem
          |       | where l_quantity == 50
          |       | project src = strcat('s', tostring(l_suppkey)),
          |           dst = strcat('p', tostring(l_partkey)));
          |E
          | | make-graph src --> dst
          | | graph-match (x)-[e*1..2]->(y)
          |     where x.node_id startswith 'c'
          |     project hops = e_hops
          | | summarize paths = count() by hops
          | | order by hops asc""".stripMargin),
      Some("""
        WITH ce AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                           's' || CAST(l_suppkey AS VARCHAR) AS dst
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                    WHERE l_quantity = 50),
             se AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                           'p' || CAST(l_partkey AS VARCHAR) AS dst
                    FROM lineitem WHERE l_quantity = 50),
             E AS (SELECT * FROM ce UNION ALL SELECT * FROM se)
        SELECT CAST(1 AS BIGINT) AS hops, count(*) AS paths
        FROM E WHERE src LIKE 'c%'
        UNION ALL
        SELECT 2, count(*) FROM E a JOIN E b ON a.dst = b.src
        WHERE a.src LIKE 'c%'
        ORDER BY 1""")),

    "q_kql_graph_branch" -> QueryDef(
      // branching pattern: two paths share the bound node variable (s) —
      // bulk (qty 50) and near-bulk (qty 49) shipments out of the same
      // supplier, counted as ordered pairs. Lowered as one join chain with
      // the shared variable folded to its single alias; both edge
      // predicates push into the lineitem scans.
      (s, dir) => kqlRun(s, dir,
        """let E = lineitem
          |   | where l_quantity == 50 or l_quantity == 49
          |   | project src = strcat('s', tostring(l_suppkey)),
          |       dst = strcat('p', tostring(l_partkey)), qty = toint(l_quantity);
          |E
          | | make-graph src --> dst
          | | graph-match (s)-[e1]->(p), (s)-[e2]->(q)
          |     where e1.qty == 50 and e2.qty == 49
          |     project sid = s.node_id
          | | summarize pairs = count() by sid
          | | order by pairs desc, sid asc
          | | take 10""".stripMargin),
      Some("""
        WITH e AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS sid,
                          CAST(l_quantity AS INT) AS qty
                   FROM lineitem WHERE l_quantity IN (49, 50))
        SELECT sid, a.n * b.n AS pairs
        FROM (SELECT sid, count(*) AS n FROM e WHERE qty = 50 GROUP BY 1) a
        JOIN (SELECT sid, count(*) AS n FROM e WHERE qty = 49 GROUP BY 1) b
          USING (sid)
        ORDER BY pairs DESC, sid LIMIT 10""")),

    "q_kql_graph_cycle" -> QueryDef(
      // closed cycle via a repeated node variable: customer→supplier bulk
      // edges plus their reversals, pattern (x)-[e1]->(y)-[e2]->(x). The
      // repeat lowers to an equality constraint on the one x alias — per
      // customer the cycle count is Σ_s cnt(c,s)², which the oracle
      // restates directly.
      (s, dir) => kqlRun(s, dir,
        """let E = orders
          |   | join kind=inner hint.strategy=shuffle (lineitem) on $left.o_orderkey == $right.l_orderkey
          |   | where l_quantity == 50
          |   | project src = strcat('c', tostring(o_custkey)),
          |       dst = strcat('s', tostring(l_suppkey));
          |E
          | | union (E | project src = dst, dst = src)
          | | make-graph src --> dst
          | | graph-match (x)-[e1]->(y)-[e2]->(x)
          |     where x.node_id startswith 'c'
          |     project cid = x.node_id
          | | summarize cycles = count() by cid
          | | order by cycles desc, cid asc
          | | take 10""".stripMargin),
      Some("""
        WITH ce AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS cid,
                           's' || CAST(l_suppkey AS VARCHAR) AS sid,
                           count(*) AS n
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                    WHERE l_quantity = 50 GROUP BY 1, 2)
        SELECT cid, CAST(sum(n * n) AS BIGINT) AS cycles
        FROM ce GROUP BY 1
        ORDER BY cycles DESC, cid LIMIT 10""")),

    "q_kql_graph_varlen_agg" -> QueryDef(
      // all(e.qty) over a variable hop: the hop edges' quantities collect
      // into a per-branch array (array_sum folds it), so path-level
      // aggregates ride the SAME union-of-chains plan as q_kql_graph_varlen
      // — no extra shuffle, predicates still pushed to both edge scans.
      (s, dir) => kqlRun(s, dir,
        """let E = orders
          |   | join kind=inner hint.strategy=shuffle (lineitem) on $left.o_orderkey == $right.l_orderkey
          |   | where l_quantity >= 48
          |   | project src = strcat('c', tostring(o_custkey)),
          |       dst = strcat('s', tostring(l_suppkey)), qty = toint(l_quantity)
          |   | union (lineitem
          |       | where l_quantity >= 48
          |       | project src = strcat('s', tostring(l_suppkey)),
          |           dst = strcat('p', tostring(l_partkey)), qty = toint(l_quantity));
          |E
          | | make-graph src --> dst
          | | graph-match (x)-[e*1..2]->(y)
          |     where x.node_id startswith 'c'
          |     project hops = e_hops, qsum = tolong(array_sum(all(e.qty)))
          | | summarize paths = count(), total = sum(qsum) by hops
          | | order by hops asc""".stripMargin),
      Some("""
        WITH ce AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                           's' || CAST(l_suppkey AS VARCHAR) AS dst,
                           CAST(l_quantity AS BIGINT) AS qty
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                    WHERE l_quantity >= 48),
             se AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                           'p' || CAST(l_partkey AS VARCHAR) AS dst,
                           CAST(l_quantity AS BIGINT) AS qty
                    FROM lineitem WHERE l_quantity >= 48)
        SELECT CAST(1 AS BIGINT) AS hops, CAST(count(*) AS BIGINT) AS paths,
               CAST(sum(qty) AS BIGINT) AS total
        FROM ce
        UNION ALL
        SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(a.qty + b.qty) AS BIGINT)
        FROM ce a JOIN se b ON a.dst = b.src
        ORDER BY hops""")),

    "q_kql_graph_shortest" -> QueryDef(
      // graph-shortest-paths: level-synchronous BFS with per-level pair
      // pruning (never the union-of-all-chains plan graph-match uses), so
      // a customer with BOTH a direct qty-49 edge to a part AND a 2-hop
      // qty-50 route through a supplier counts once, at distance 1. The
      // oracle restates shortest-distance-per-pair as a bounded recursive
      // CTE min-folded per (start, end) pair.
      (s, dir) => kqlRun(s, dir,
        """let E = orders
          |   | join kind=inner hint.strategy=shuffle (lineitem) on $left.o_orderkey == $right.l_orderkey
          |   | where l_quantity == 50
          |   | project src = strcat('c', tostring(o_custkey)),
          |       dst = strcat('s', tostring(l_suppkey))
          |   | union (lineitem
          |       | where l_quantity == 50
          |       | project src = strcat('s', tostring(l_suppkey)),
          |           dst = strcat('p', tostring(l_partkey)))
          |   | union (orders
          |       | join kind=inner hint.strategy=shuffle (lineitem) on $left.o_orderkey == $right.l_orderkey
          |       | where l_quantity == 49
          |       | project src = strcat('c', tostring(o_custkey)),
          |           dst = strcat('p', tostring(l_partkey)));
          |E
          | | make-graph src --> dst
          | | graph-shortest-paths (x)-[e*1..3]->(y)
          |     where x.node_id startswith 'c' and y.node_id startswith 'p'
          |     project hops = e_hops
          | | summarize pairs = count() by hops
          | | order by hops asc""".stripMargin),
      Some("""
        WITH RECURSIVE e AS (
          SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                 's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE l_quantity = 50
          UNION ALL
          SELECT 's' || CAST(l_suppkey AS VARCHAR),
                 'p' || CAST(l_partkey AS VARCHAR)
          FROM lineitem WHERE l_quantity = 50
          UNION ALL
          SELECT 'c' || CAST(o_custkey AS VARCHAR),
                 'p' || CAST(l_partkey AS VARCHAR)
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE l_quantity = 49),
        sp AS (
          SELECT src AS s0, dst AS s1, 1 AS h FROM e
          UNION
          SELECT sp.s0, e2.dst, sp.h + 1
          FROM sp JOIN e e2 ON sp.s1 = e2.src WHERE sp.h < 3)
        SELECT CAST(mh AS BIGINT) AS hops, count(*) AS pairs
        FROM (SELECT s0, s1, min(h) AS mh FROM sp GROUP BY 1, 2)
        WHERE s0 LIKE 'c%' AND s1 LIKE 'p%'
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_graph_shortest_lo" -> QueryDef(
      // graph-shortest-paths with a lower hop bound: *2..3 = "shortest
      // qualifying WALK of length >= 2" — a customer with a direct (1-hop)
      // edge to a part still counts at 2 if a 2-hop route exists; levels
      // below lo expand unpruned so the sub-lo reach cannot mask it.
      // Oracle: recursive walk enumeration min-folded per pair over h >= 2.
      (s, dir) => kqlRun(s, dir,
        """let E = orders
          |   | join kind=inner hint.strategy=shuffle (lineitem) on $left.o_orderkey == $right.l_orderkey
          |   | where l_quantity == 50
          |   | project src = strcat('c', tostring(o_custkey)),
          |       dst = strcat('s', tostring(l_suppkey))
          |   | union (lineitem
          |       | where l_quantity == 50
          |       | project src = strcat('s', tostring(l_suppkey)),
          |           dst = strcat('p', tostring(l_partkey)))
          |   | union (orders
          |       | join kind=inner hint.strategy=shuffle (lineitem) on $left.o_orderkey == $right.l_orderkey
          |       | where l_quantity == 49
          |       | project src = strcat('c', tostring(o_custkey)),
          |           dst = strcat('p', tostring(l_partkey)));
          |E
          | | make-graph src --> dst
          | | graph-shortest-paths (x)-[e*2..3]->(y)
          |     where x.node_id startswith 'c' and y.node_id startswith 'p'
          |     project hops = e_hops, src0 = x.node_id, dst0 = y.node_id
          | | summarize pairs = count(), nsrc = dcount(src0), ndst = dcount(dst0) by hops
          | | order by hops asc""".stripMargin),
      Some("""
        WITH RECURSIVE e AS (
          SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                 's' || CAST(l_suppkey AS VARCHAR) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE l_quantity = 50
          UNION ALL
          SELECT 's' || CAST(l_suppkey AS VARCHAR),
                 'p' || CAST(l_partkey AS VARCHAR)
          FROM lineitem WHERE l_quantity = 50
          UNION ALL
          SELECT 'c' || CAST(o_custkey AS VARCHAR),
                 'p' || CAST(l_partkey AS VARCHAR)
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE l_quantity = 49),
        sp AS (
          SELECT src AS s0, dst AS s1, 1 AS h FROM e
          UNION
          SELECT sp.s0, e2.dst, sp.h + 1
          FROM sp JOIN e e2 ON sp.s1 = e2.src WHERE sp.h < 3)
        SELECT CAST(mh AS BIGINT) AS hops, count(*) AS pairs,
               count(DISTINCT s0) AS nsrc, count(DISTINCT s1) AS ndst
        FROM (SELECT s0, s1, min(h) AS mh FROM sp WHERE h >= 2 GROUP BY 1, 2)
        WHERE s0 LIKE 'c%' AND s1 LIKE 'p%'
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_graph_to_table" -> QueryDef(
      // graph-to-table nodes: the implicit node frame IS the distinct
      // endpoint union — counted whole and per prefix class
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | where l_quantity == 50
          | | project src = strcat('s', tostring(l_suppkey)),
          |     dst = strcat('p', tostring(l_partkey))
          | | make-graph src --> dst
          | | graph-to-table nodes
          | | summarize n_nodes = count(), n_s = countif(node_id startswith 's')""".stripMargin),
      Some("""
        WITH e AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                          'p' || CAST(l_partkey AS VARCHAR) AS dst
                   FROM lineitem WHERE l_quantity = 50),
             n AS (SELECT src AS node_id FROM e UNION SELECT dst FROM e)
        SELECT count(*) AS n_nodes,
               count(CASE WHEN node_id LIKE 's%' THEN 1 END) AS n_s
        FROM n""")),

    "q_kql_dcount_hll" -> QueryDef(
      // KQL's native dcount IS an HLL estimate; this pipeline's dcount is
      // exact by documented choice, and dcount_hll exposes the KQL-faithful
      // sketch. The whole gate is spelled in KQL itself: estimate within 15%
      // (3σ at rsd 0.05) of the exact count from the same run, exact count
      // oracle-matched to keep the row non-vacuous.
      (s, dir) => kqlRun(s, dir,
        """orders
          | | summarize est = dcount_hll(o_custkey), ex = dcount(o_custkey)
          |   by o_orderstatus
          | | extend est_ok = abs(est - ex) <= ex * 0.15
          | | project o_orderstatus, ex, est_ok
          | | order by o_orderstatus asc""".stripMargin),
      Some("""
        SELECT o_orderstatus, count(DISTINCT o_custkey) AS ex, TRUE AS est_ok
        FROM orders GROUP BY 1 ORDER BY 1""")),

    "q_kql_dcount_intersect" -> QueryDef(
      // dcount_intersect: intersection cardinality from per-group HLL
      // sketches by inclusion–exclusion over hll_union — the sketches stay
      // mergeable partials, no re-scan of raw keys. Gate spelled in KQL:
      // estimates within 15% of the exact intersection computed by dcountif
      // legs in the same pipeline (at ~730/~350 distinct keys the sketch is
      // in its near-exact low-cardinality regime); exacts oracle-matched to
      // keep rows non-vacuous.
      (s, dir) => kqlRun(s, dir,
        """orders
          | | summarize ha = hll(iff(o_orderstatus == 'O', o_custkey, tolong(null))),
          |             hb = hll(iff(o_orderstatus == 'F', o_custkey, tolong(null)))
          |   by o_orderpriority
          | | evaluate dcount_intersect(ha, hb)
          | | join kind=inner (orders
          |     | summarize ex0 = dcountif(o_custkey, o_orderstatus == 'O'),
          |                 exf = dcountif(o_custkey, o_orderstatus == 'F'),
          |                 exu = dcountif(o_custkey,
          |                   o_orderstatus == 'O' or o_orderstatus == 'F')
          |       by o_orderpriority) on o_orderpriority
          | | extend ex1 = ex0 + exf - exu
          | | extend s0_ok = abs(s0 - ex0) <= ex0 * 0.15,
          |          s1_ok = abs(s1 - ex1) <= ex1 * 0.15
          | | project o_orderpriority, ex0, ex1, s0_ok, s1_ok
          | | order by o_orderpriority asc""".stripMargin),
      Some("""
        SELECT o_orderpriority,
          count(DISTINCT CASE WHEN o_orderstatus = 'O' THEN o_custkey END) AS ex0,
          count(DISTINCT CASE WHEN o_orderstatus = 'O' THEN o_custkey END)
          + count(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END)
          - count(DISTINCT CASE WHEN o_orderstatus IN ('O', 'F') THEN o_custkey END) AS ex1,
          TRUE AS s0_ok, TRUE AS s1_ok
        FROM orders GROUP BY 1 ORDER BY 1""")),

    "q_kql_stats" -> QueryDef(
      // stdev/variance are float-summation-order sensitive, so cross-engine
      // hash equality is the WRONG gate; per the approximate-operator rule
      // the plan emits tolerance booleans against the closed-form
      // (n·Σx² − (Σx)²)/(n(n−1)) computed from the same scan, and the oracle
      // asserts them TRUE. n is oracle-exact to keep the row non-vacuous.
      (s, dir) => {
        val k = kqlRun(s, dir,
          """orders
            | | summarize sd = stdev(o_totalprice), va = variance(o_totalprice),
            |             n = count()
            |   by o_orderstatus""".stripMargin)
        val ex = t(s, dir, "orders").groupBy(col("o_orderstatus")).agg(
          count(lit(1)).cast("double").as("n_d"),
          sum(col("o_totalprice")).as("s1"),
          sum(col("o_totalprice") * col("o_totalprice")).as("s2"))
          .select(col("o_orderstatus"),
            ((col("n_d") * col("s2") - col("s1") * col("s1")) /
              (col("n_d") * (col("n_d") - 1))).as("va_exact"))
        k.join(ex, Seq("o_orderstatus"))
          .select(col("o_orderstatus"), col("n"),
            (abs(col("va") - col("va_exact")) <= col("va_exact") * 1e-6).as("va_ok"),
            (abs(col("sd") - sqrt(col("va_exact"))) <= sqrt(col("va_exact")) * 1e-6).as("sd_ok"))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o_orderstatus, count(*) AS n, TRUE AS va_ok, TRUE AS sd_ok
        FROM orders GROUP BY 1 ORDER BY 1""")),

    "q_kql_status_view" -> QueryDef(
      // the MLK_DeltaStatus view restated in KQL: `summarize arg_max(…) by …`
      // over the registered table (DatabaseGateway.cs:85-96 shape). ts is
      // unique per (user_id, event_type) group in the testdata (probed), so
      // arg_max is deterministic.
      (s, dir) => kqlRun(s, dir,
        """events
          | | summarize last_value = arg_max(ts, value), n_updates = count()
          |   by user_id, event_type
          | | order by user_id asc, event_type asc""".stripMargin),
      Some("""
        SELECT user_id, event_type, value AS last_value, cnt AS n_updates
        FROM (SELECT user_id, event_type, value,
                     count(*) OVER (PARTITION BY user_id, event_type) AS cnt,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts DESC) AS rn
              FROM events) WHERE rn = 1
        ORDER BY user_id, event_type""")),

    // ---- training-data extensions: epoch shuffle / corpus stats / tf-idf --

    "curate_epoch_shuffle" -> QueryDef(
      // deterministic per-epoch shuffle: reorder the corpus by the
      // overflow-free mod-multiply hash (a bijection: m prime, doc_id < m),
      // then number rows with zipWithIndex over the range-partitioned sort —
      // epoch-reproducible on any cluster size, no 1-partition window. The
      // training-loader primitive: same epoch ⇒ same order, different epoch
      // ⇒ decorrelated order.
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"))
        Seq((1, 7919L), (2, 104729L)).map { case (ep, mult) =>
          // doc_id tie-break: the mod-multiply hash is only a bijection while
          // doc_id < 1000003; at larger SFs duplicate hk values would
          // otherwise leave the order engine-dependent
          val ordered = docs
            .withColumn("hk", bucketHash(col("doc_id"), 1000003L, mult))
            .orderBy(col("hk"), col("doc_id"))
          graft.util.ZipIndex.withRowIndex(ordered, "pos")
            .select(lit(ep).as("epoch"), col("pos"), col("doc_id"))
        }.reduce(_ unionByName _)
      },
      Some("""
        WITH e AS (SELECT 1 AS epoch, 7919 AS mult UNION ALL SELECT 2, 104729),
        h AS (SELECT epoch, doc_id, ((doc_id % 1000003) * mult) % 1000003 AS hk
              FROM documents, e)
        SELECT epoch,
               row_number() OVER (PARTITION BY epoch ORDER BY hk, doc_id) AS pos,
               doc_id
        FROM h""")),

    "dedup_substring_spans" -> QueryDef(
      // EXACT substring-duplication detection (the Lee-et-al.-style exact
      // dedup signal): 50-char shingles with positions → grams seen in ≥2
      // docs → per-doc MERGED span coverage. Scale shapes: gram_hashes (the
      // native sliding Karp–Rabin expression) emits ALL window hashes in
      // one O(n) pass — the xxhash64(substring(…)) spelling re-reads every
      // char 50× and was the pipeline's hot loop — and the gram string
      // never leaves its row, so every exchange moves 8-byte keys (a 64-bit
      // collision only perturbs the candidate set — the oracle equality at
      // test scale proves none occur). Two shuffle prunes (this was the
      // suite's largest shuffle, trending 27×→38× at the 100× replica):
      //  (1) "in ≥2 docs" is min(doc)≠max(doc) — ONE partial-friendly
      //      groupBy(h) pass instead of distinct(h,doc)+count (two full
      //      exchanges of near-corpus cardinality);
      //  (2) the hits join pre-filters grams through a Bloom filter of the
      //      duplicate-hash set BEFORE its exchange — singleton grams
      //      (measured ~91% of occurrences) never shuffle; the exact join
      //      that follows removes the bloom's false positives.
      // Span merging via lead() over a window PARTITIONED by doc.
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .filter(length(col("text")) >= 50)
          .select(col("doc_id"), col("text"))
        // deliberately NOT persisted: the gram frame is consumed twice
        // (dup derivation + hits join) but recomputing the native rolling
        // hash is cheaper than materializing a corpus×50-row cache —
        // measured at the 100× replica: 41.5 s uncached vs 56.4 s cached
        val grams = docs
          .select(col("doc_id"),
            posexplode(graft.functions.expressions.GramHashes.gramHashes(col("text"), 50))
              .as(Seq("pos", "h")))
        // cached: consumed three times (count + bloom build + exact join),
        // and each recompute would re-aggregate the corpus-sized gram frame
        val dup = DedupFunctions.cached(
          grams.groupBy("h")
            .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
            .filter(col("d0") =!= col("d1")).select("h"))
        // shuffle_hash pin (r18): left to the planner, the dup set's
        // cached-size estimate sits under the broadcast threshold at the
        // 100× replica and the join becomes a BroadcastHashJoin whose
        // relation is built+compressed on ONE driver thread — thread dumps
        // showed ~17 s per rep of zero executor activity with only the
        // broadcast-exchange thread running (≈40% of the rep). Hash-
        // building the dup side per partition parallelizes that wall; the
        // bloom prefilter has already shrunk the gram side, so the extra
        // exchange is small at every scale.
        val hits = DedupFunctions.bloomSemiPrefilter(grams, dup, "h")
          .join(dup.hint("shuffle_hash"), "h").select(col("doc_id"), col("pos"))
        val w = Window.partitionBy("doc_id").orderBy("pos")
        hits.withColumn("nxt", lead(col("pos"), 1).over(w))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hits"),
            sum(when(col("nxt").isNull, lit(50L))
              .otherwise(least(col("nxt") - col("pos"), lit(50L)))).cast("bigint")
              .as("dup_chars"))
          .orderBy("doc_id")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 substr(text, CAST(i AS INT), 50) AS gram
          FROM documents, LATERAL unnest(generate_series(1, greatest(length(text) - 49, 0))) t(i)),
        dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        hits AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
        spans AS (SELECT doc_id, pos,
                         lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
                  FROM hits)
        SELECT doc_id, count(*) AS n_hits,
               CAST(sum(CASE WHEN nxt IS NULL THEN 50
                             ELSE least(nxt - pos, 50) END) AS BIGINT) AS dup_chars
        FROM spans GROUP BY 1 ORDER BY 1""")),

    "text_corpus_bigrams" -> QueryDef(
      // corpus n-gram statistics (the LM-data profiling op): explode word
      // bigrams via ONE generator over an inlined transform — no self-join,
      // one shuffle for the count, TakeOrdered for the top-k
      (s, dir) => t(s, dir, "documents")
        .select(split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w)-2), i -> concat(element_at(w, i+1), ' ', element_at(w, i+2)))"))
          .as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bg").asc).limit(20),
      Some("""
        WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        bi AS (SELECT w[i] || ' ' || w[i+1] AS bg FROM words,
               LATERAL unnest(generate_series(1, len(w)-1)) t(i))
        SELECT bg, count(*) AS n FROM bi
        GROUP BY 1 ORDER BY n DESC, bg ASC LIMIT 20""")),

    "text_tfidf" -> QueryDef(
      // tf-idf: the map-reduce classic — per-(doc,term) counts and per-term
      // document frequency share one exploded frame; the corpus size joins
      // as a broadcast 1-row scalar; identical ln/multiply order on both
      // engines + round(6) for cross-engine double parity
      (s, dir) => {
        val docs  = t(s, dir, "documents")
        val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf    = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        // document frequency via a window PARTITIONED by term over tf (one
        // row per (doc, term) already): one extra shuffle, no self-join, and
        // no recomputation of the exploded corpus (Spark's exchange reuse
        // does not fire across the join's two derivations of tf)
        val wTerm = Window.partitionBy("term")
        val nd    = docs.agg(count(lit(1)).as("nd"))
        tf.withColumn("dfreq", count(lit(1)).over(wTerm))
          .crossJoin(broadcast(nd))
          .select(col("doc_id"), col("term"),
            round(col("tf") * log(col("nd").cast("double") / col("dfreq")), 6).as("tfidf"))
          .orderBy(col("tfidf").desc, col("doc_id").asc, col("term").asc).limit(30)
      },
      Some("""
        WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
        df AS (SELECT term, count(DISTINCT doc_id) AS dfreq FROM words GROUP BY 1),
        n AS (SELECT count(*) AS nd FROM documents)
        SELECT t.doc_id, t.term, round(t.tf * ln(CAST(nd AS DOUBLE) / dfreq), 6) AS tfidf
        FROM tf t JOIN df USING (term), n
        ORDER BY tfidf DESC, t.doc_id ASC, t.term ASC LIMIT 30""")),

    "text_bpe_train" -> QueryDef(
      // BPE subword-tokenizer TRAINING on the corpus (Sennrich 2016) — the
      // tokenizer-construction step of an LLM pipeline, not a per-row
      // count. Training runs on the word-frequency table (ONE corpus
      // groupBy, then vocabulary-sized rounds — sublinear at 100 TB), one
      // bounded 1-row argmax collect per merge (Lloyd precedent). The
      // oracle re-derives everything SQL can reach exactly — word count,
      // base alphabet, and the FIRST merge (round 1 is a plain pair-count
      // argmax with the same (n desc, pair asc) tie-break) — and the
      // full-depth invariants gate in-plan: every trained token sequence
      // concatenates back to its word, and the encoded corpus is strictly
      // shorter than its character count
      (s, dir) => graft.functions.BpeFunctions.bpeSummary(t(s, dir, "documents"), 20),
      Some("""
        WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        wf AS (SELECT w, count(*) AS f FROM words WHERE w <> '' GROUP BY 1),
        chars AS (SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS c
                  FROM (SELECT w, unnest(range(1, len(w) + 1)) AS i FROM wf)),
        pc AS (SELECT substr(w, CAST(i AS INT), 2) AS p, sum(f) AS n
               FROM (SELECT w, f, unnest(range(1, len(w))) AS i FROM wf) GROUP BY 1),
        top AS (SELECT p FROM pc ORDER BY n DESC, p LIMIT 1)
        SELECT (SELECT count(*) FROM wf) AS n_words,
               (SELECT count(*) FROM chars) AS base_chars,
               20 AS n_merges,
               (SELECT p FROM top) AS top_merge,
               TRUE AS ok_roundtrip, TRUE AS ok_compress""")),

    "text_bm25_topk" -> QueryDef(
      // BM25 retrieval over the corpus — the training-pipeline "find the
      // documents about X" / contamination-search primitive, one grade up
      // from tf-idf: length-normalized term saturation (k1=1.2, b=0.75)
      // with the non-negative +1 idf. Shapes: ONE explode pass filtered to
      // the query's terms BEFORE the groupBy (the shuffled frame is
      // |terms|·|matching docs|, not the corpus), df via a window on the
      // tf frame (no second corpus pass), corpus stats as a broadcast
      // 1-row scalar with avgdl derived from the EXACT integer token sum.
      // The per-doc score folds term contributions IN TERM ORDER on both
      // engines (array_sort + aggregate here, sum(… ORDER BY term) there)
      // so the doubles associate identically and round(6) hash-matches.
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val d = docs.select(col("doc_id"), size(col("toks")).as("dl"))
        val n = d.agg(count(lit(1)).as("nd"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
        val tf = docs.select(col("doc_id"), explode(col("toks")).as("term"))
          .filter(col("term").isin("hash", "join", "stream"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
          .join(d, "doc_id")
          .crossJoin(broadcast(n))
          .withColumn("c",
            log(lit(1) + (col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
              (col("tf") * lit(2.2)) /
              (col("tf") + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
          .groupBy("doc_id")
          .agg(aggregate(array_sort(collect_list(struct(col("term"), col("c")))),
            lit(0.0), (acc, x) => acc + x.getField("c")).as("raw"))
          .select(col("doc_id"), round(col("raw"), 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id").asc).limit(10)
      },
      Some("""
        WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        d AS (SELECT doc_id, len(toks) AS dl FROM docs),
        n AS (SELECT count(*) AS nd, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d),
        w AS (SELECT doc_id, unnest(toks) AS term FROM docs),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM w
               WHERE term IN ('hash', 'join', 'stream') GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        sc AS (SELECT t.doc_id, t.term,
                ln(1 + (nd - df + 0.5) / (df + 0.5)) *
                (t.tf * 2.2) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / avgdl)) AS c
               FROM tf t JOIN df USING (term) JOIN d ON t.doc_id = d.doc_id, n)
        SELECT doc_id, round(sum(c ORDER BY term), 6) AS bm25
        FROM sc GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 10""")),

    "text_unigram_logloss" -> QueryDef(
      // unigram-LM quality scoring: train the unigram model ON the corpus
      // (one groupBy), score each doc by average negative log-likelihood —
      // the classic LM-based quality filter signal. Shapes: word explode →
      // vocab join (shuffle equi-join; the model side broadcast-ables when
      // small) → per-doc agg → broadcast 1-row total. ln/divide order
      // matches the oracle exactly; round(6) absorbs summation-order ulps.
      (s, dir) => {
        val docs  = t(s, dir, "documents")
        val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        // ONE explode pass: per-(doc, word) counts first (combiner-friendly
        // shuffle of the exploded frame); the vocab, the corpus total and the
        // per-doc score all derive from that much smaller frame —
        // sum over occurrences of ln(cnt_w) ≡ sum over distinct doc words of
        // tfd·ln(cnt_w), so the result is identical
        val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tfd"))
        // corpus word count via a window PARTITIONED by w (no vocab
        // self-join, no recompute of the exploded corpus); the 1-row corpus
        // total stays the broadcast-scalar pattern (q11/q14)
        val cnt = sum(col("tfd")).over(Window.partitionBy("w"))
        val tot = tf.agg(sum(col("tfd")).cast("double").as("t"))
        tf.withColumn("cnt", cnt)
          .groupBy("doc_id")
          .agg(sum(col("tfd")).as("n"),
            sum(col("tfd") * log(col("cnt").cast("double"))).as("s"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"), col("n").as("n_words"),
            round(log(col("t")) - col("s") / col("n"), 6).as("logloss"))
      },
      Some("""
        WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                       FROM documents),
        tf AS (SELECT doc_id, w, count(*) AS tfd FROM words GROUP BY 1, 2),
        vocab AS (SELECT w, CAST(sum(tfd) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM vocab),
        per AS (SELECT doc_id, CAST(sum(tfd) AS BIGINT) AS n,
                       sum(tfd * ln(CAST(cnt AS DOUBLE))) AS s
                FROM tf JOIN vocab USING (w) GROUP BY 1)
        SELECT doc_id, n AS n_words, round(ln(t) - s / n, 6) AS logloss
        FROM per, tot""")),

    "curate_logloss_buckets" -> QueryDef(
      // perplexity-bucketed curation — the LM-quality binning step real
      // pipelines run before mixing: per-doc unigram-LM logloss (the
      // text_unigram_logloss recipe), quartile BOUNDARIES as broadcast
      // scalars, bucket by comparison — never a global-order window
      // (ntile would be a 1-task WindowExec; boundary comparisons are
      // cross-engine safe because an interpolated quartile lies strictly
      // between two consecutive data values, so last-ulp wiggle cannot
      // cross a doc). Boundaries and comparisons run on the ROUNDED
      // logloss both sides
      (s, dir) => {
        val docs  = t(s, dir, "documents")
        val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        val tf    = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tfd"))
        val cnt   = sum(col("tfd")).over(Window.partitionBy("w"))
        val tot   = tf.agg(sum(col("tfd")).cast("double").as("t"))
        val ll = tf.withColumn("cnt", cnt)
          .groupBy("doc_id")
          .agg(sum(col("tfd")).as("n"),
            sum(col("tfd") * log(col("cnt").cast("double"))).as("s"))
          .crossJoin(broadcast(tot))
          .select(col("doc_id"), round(log(col("t")) - col("s") / col("n"), 6).as("logloss"))
        val qs = ll.agg(expr("percentile(logloss, array(0.25, 0.5, 0.75))").as("q"))
        ll.crossJoin(broadcast(qs))
          .select(col("doc_id"), col("logloss"),
            (lit(1) + (col("logloss") > col("q").getItem(0)).cast("int")
                    + (col("logloss") > col("q").getItem(1)).cast("int")
                    + (col("logloss") > col("q").getItem(2)).cast("int")).as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            round(min(col("logloss")), 6).as("lo"),
            round(max(col("logloss")), 6).as("hi"))
          .orderBy("bucket")
      },
      Some("""
        WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                       FROM documents),
        tf AS (SELECT doc_id, w, count(*) AS tfd FROM words GROUP BY 1, 2),
        vocab AS (SELECT w, CAST(sum(tfd) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM vocab),
        per AS (SELECT doc_id, CAST(sum(tfd) AS BIGINT) AS n,
                       sum(tfd * ln(CAST(cnt AS DOUBLE))) AS s
                FROM tf JOIN vocab USING (w) GROUP BY 1),
        ll AS (SELECT doc_id, round(ln(t) - s / n, 6) AS logloss FROM per, tot),
        q AS (SELECT quantile_cont(logloss, 0.25) AS q1,
                     quantile_cont(logloss, 0.50) AS q2,
                     quantile_cont(logloss, 0.75) AS q3 FROM ll),
        bk AS (SELECT doc_id, logloss,
                 1 + CASE WHEN logloss > q1 THEN 1 ELSE 0 END
                   + CASE WHEN logloss > q2 THEN 1 ELSE 0 END
                   + CASE WHEN logloss > q3 THEN 1 ELSE 0 END AS bucket
               FROM ll, q)
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
               round(min(logloss), 6) AS lo, round(max(logloss), 6) AS hi
        FROM bk GROUP BY 1 ORDER BY 1""")),

    "q_kql_row_cumsum" -> QueryDef(
      // row_cumsum through the KQL surface: two-pass distributed scan
      // (ScanOps.cumSum) — per-partition partials + offset walk, exact Long
      // arithmetic, no single-partition window
      (s, dir) => kqlRun(s, dir,
        """orders
          | | where o_totalprice > 450000.0
          | | order by o_orderkey asc | serialize
          | | extend cum = row_cumsum(tolong(floor(o_totalprice)))
          | | project o_orderkey, cum""".stripMargin),
      Some("""
        SELECT o_orderkey,
               CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
                 OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM orders WHERE o_totalprice > 450000.0""")),

    "q_kql_extractjson" -> QueryDef(
      // extractjson over the dynamic props column — JSON path evaluation
      // stays codegen'd (get_json_object), no UDF
      (s, dir) => kqlRun(s, dir,
        """events
          | | extend k = toint(extractjson('$.k', props))
          | | summarize n = count() by k
          | | order by k asc""".stripMargin),
      Some("""
        SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n
        FROM events GROUP BY 1 ORDER BY 1""")),

    "q_kql_partition_topk" -> QueryDef(
      // partition by (top N by …): per-group top-k via ONE key-partitioned
      // window over the pre-aggregated frame — never a per-group driver loop
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | extend qty = tolong(l_quantity)
          | | summarize s = sum(qty) by l_returnflag, l_suppkey
          | | partition by l_returnflag (top 2 by s desc, l_suppkey asc)
          | | order by l_returnflag asc, s desc""".stripMargin),
      Some("""
        SELECT l_returnflag, l_suppkey, s FROM (
          SELECT l_returnflag, l_suppkey,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY sum(CAST(l_quantity AS BIGINT)) DESC,
                                             l_suppkey ASC) AS rk
          FROM lineitem GROUP BY 1, 2)
        WHERE rk <= 2 ORDER BY 1, 3 DESC""")),

    "q_kql_partition_subquery" -> QueryDef(
      // general `partition by k ( sub-pipeline )`: where → extend →
      // summarize → top chained per key, every stage lowered key-aware
      // (summarize groups by the key too; top is one key-partitioned
      // window). Integer-scaled money keeps the sum engine-exact. One
      // shuffle for the aggregate, one for the window — no per-group loop.
      (s, dir) => kqlRun(s, dir,
        """events
          | | partition by event_type (
          |     where value > 0.1
          |     | extend mv = tolong(floor(value * 1000.0))
          |     | summarize n = count(), s = sum(mv) by ub = user_id % 10
          |     | top 3 by s desc, ub asc)
          | | project event_type, ub, n, s
          | | order by event_type asc, s desc, ub asc""".stripMargin),
      Some("""
        WITH f AS (SELECT event_type, user_id % 10 AS ub,
                          CAST(floor(value * 1000.0) AS BIGINT) AS mv
                   FROM events WHERE value > 0.1),
        g AS (SELECT event_type, ub, count(*) AS n, CAST(sum(mv) AS BIGINT) AS s
              FROM f GROUP BY 1, 2),
        r AS (SELECT *, row_number()
                OVER (PARTITION BY event_type ORDER BY s DESC, ub) AS rk FROM g)
        SELECT event_type, ub, n, s FROM r WHERE rk <= 3
        ORDER BY event_type, s DESC, ub""")),

    "q_kql_schema_merge" -> QueryDef(
      // evaluate schema_merge over a union of getschema outputs: agreeing
      // columns keep their type, conflicting ones widen to 'dynamic',
      // ordinal = first appearance — ONE groupBy over the schema frames
      (s, dir) => kqlRun(s, dir,
        """let A = nation | getschema;
          |let B = nation | extend n_name = tolong(n_nationkey) | getschema;
          |union A, B
          | | evaluate schema_merge()
          | | order by ColumnOrdinal asc, ColumnName asc""".stripMargin),
      Some("""
        SELECT * FROM (VALUES
          ('n_nationkey', CAST(0 AS BIGINT), 'int'),
          ('n_name',      CAST(1 AS BIGINT), 'dynamic'),
          ('n_regionkey', CAST(2 AS BIGINT), 'int'))
          t(ColumnName, ColumnOrdinal, ColumnType)
        ORDER BY ColumnOrdinal, ColumnName""")),

    "q_kql_bag_tail" -> QueryDef(
      // bag_set_key (overwrite + insert through earlier-wins bag_merge,
      // sorted-key bag currency) and bag_zip (parallel arrays → bag,
      // input order) — fixtures through the real rewrite path
      (s, dir) => kqlRun(s, dir,
        """print b = bag_pack('a', 1, 'z', 2)
          | | project s1 = bag_set_key(b, 'a', 9),
          |     s2 = bag_set_key(b, 'm', 5),
          |     z = bag_zip(dynamic(['k1', 'k2']), dynamic([10, 20])),
          |     cj = dynamic_to_json('{"z": {"q": 1, "b": [2, {"y": 3, "a": 4}]}, "a": 5}'),
          |     cs = dynamic_to_json('plain')""".stripMargin),
      Some("""
        SELECT '{"a":9,"z":2}' AS s1,
               '{"a":1,"m":5,"z":2}' AS s2,
               '{"k1":10,"k2":20}' AS z,
               '{"a":5,"z":{"b":[2,{"a":4,"y":3}],"q":1}}' AS cj,
               '"plain"' AS cs""")),

    "q_series_compare" -> QueryDef(
      // element-wise series tail: pow, the boolean comparison lanes, and
      // floor/ceiling — fixture arrays through the real zip_with rewrites
      (s, dir) => kqlRun(s, dir,
        """print x = 1
          | | extend a = dynamic([1.0, 5.0, 3.0]), b = dynamic([2.0, 5.0, 1.0])
          | | project p = to_json(series_pow(a, dynamic([2.0, 1.0, 2.0]))),
          |     eqj = to_json(series_equals(a, b)),
          |     gtj = to_json(series_greater(a, b)),
          |     lej = to_json(series_less_equals(a, b)),
          |     flr = to_json(series_floor(dynamic([1.7, -1.2]))),
          |     cl = to_json(series_ceiling(dynamic([1.2, -1.7])))""".stripMargin),
      Some("""
        SELECT '[1.0,5.0,9.0]' AS p,
               '[false,true,false]' AS eqj,
               '[false,false,true]' AS gtj,
               '[true,true,false]' AS lej,
               '[1.0,-2.0]' AS flr,
               '[2.0,-1.0]' AS cl""")),

    "q_kql_unixtime" -> QueryDef(
      // epoch→datetime family at every resolution (nanos truncate to the
      // engine's µs — documented), make_timespan arities equality-gated
      // against totimespan, and the extract_json/pack_dictionary aliases
      (s, dir) => kqlRun(s, dir,
        """print s = tostring(unixtime_seconds_todatetime(1700000000)),
          |   ms = tostring(unixtime_milliseconds_todatetime(1700000000123)),
          |   us = tostring(unixtime_microseconds_todatetime(1700000000123456)),
          |   ns = tostring(unixtime_nanoseconds_todatetime(1700000000123456789)),
          |   mt_ok = make_timespan(1, 2, 3) == totimespan('01:02:03'),
          |   mt4_ok = make_timespan(2, 1, 30, 15.0) == totimespan('2.01:30:15'),
          |   ej = extract_json('$.a', '{"a": 7}'),
          |   pd = pack_dictionary('k', 42)""".stripMargin),
      Some("""
        SELECT '2023-11-14 22:13:20' AS s,
               '2023-11-14 22:13:20.123' AS ms,
               '2023-11-14 22:13:20.123456' AS us,
               '2023-11-14 22:13:20.123456' AS ns,
               TRUE AS mt_ok, TRUE AS mt4_ok,
               '7' AS ej, '{"k":42}' AS pd""")),

    "q_kql_array_sort_tuple" -> QueryDef(
      // tuple-returning array_sort_asc/desc: the first array orders
      // (stable, nulls last), companions permute through ONE sorted index
      // array — fixture constants through the real extend lowering
      (s, dir) => kqlRun(s, dir,
        """print seed = 1
          | | extend (sq, sp) = array_sort_asc(dynamic([3, 1, 2]), dynamic(['c', 'a', 'b']))
          | | extend (dq, dp) = array_sort_desc(dynamic([3, 1, 2]), dynamic(['c', 'a', 'b']))
          | | project sq = to_json(sq), sp = to_json(sp),
          |     dq = to_json(dq), dp = to_json(dp)""".stripMargin),
      Some("""
        SELECT '[1,2,3]' AS sq, '["a","b","c"]' AS sp,
               '[3,2,1]' AS dq, '["c","b","a"]' AS dp""")),

    "q_kql_bag_unpack" -> QueryDef(
      // evaluate bag_unpack: dynamic-bag spread with one inference pass +
      // from_json star-expand; k infers as LONG from the JSON integers
      (s, dir) => kqlRun(s, dir,
        """events
          | | project props
          | | evaluate bag_unpack(props)
          | | summarize n = count() by k
          | | order by k asc""".stripMargin),
      Some("""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
        FROM events GROUP BY 1 ORDER BY 1""")),

    "q_kql_prev_next" -> QueryDef(
      // prev()/next() through the KQL surface: boundary-exchange row shifts
      // (ScanOps.lag1/lead1) — P scalars to the driver, zero shuffle, no
      // single-partition window
      (s, dir) => kqlRun(s, dir,
        """orders
          | | where o_totalprice > 450000.0
          | | order by o_orderkey asc | serialize
          | | extend prev_key = prev(o_orderkey), next_key = next(o_orderkey)
          | | project o_orderkey, prev_key, next_key""".stripMargin),
      Some("""
        SELECT o_orderkey,
               lag(o_orderkey)  OVER (ORDER BY o_orderkey) AS prev_key,
               lead(o_orderkey) OVER (ORDER BY o_orderkey) AS next_key
        FROM orders WHERE o_totalprice > 450000.0""")),

    "q_kql_let" -> QueryDef(
      // let statements: a scalar binding macro-substituted into a tabular
      // binding, which the final query joins — KQL's statement surface
      (s, dir) => kqlRun(s, dir,
        """let seg = 'BUILDING';
          |let bigcust = customer | where c_mktsegment == seg;
          |orders
          | | join kind=inner (bigcust) on $left.o_custkey == $right.c_custkey
          | | summarize n_orders = count(), max_order = max(o_orderkey) by c_nationkey
          | | order by c_nationkey asc""".stripMargin),
      Some("""
        SELECT c_nationkey, count(*) AS n_orders, max(o_orderkey) AS max_order
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_externaldata" -> QueryDef(
      // externaldata: the reference's own status-view source shape
      // (DatabaseGateway.cs:85-96 reads checkpoint blobs via externaldata);
      // here over a parquet path with a declared, narrowing schema
      (s, dir) => kqlRun(s, dir,
        s"""externaldata (n_nationkey:long, n_name:string, n_regionkey:long)
           |  ['$dir/nation.parquet'] with (format='parquet')
           | | where n_name hasprefix 'a' or n_regionkey == 2
           | | summarize n = count(), mx = max(n_nationkey) by n_regionkey
           | | order by n_regionkey asc""".stripMargin),
      Some("""
        SELECT n_regionkey, count(*) AS n, max(n_nationkey) AS mx
        FROM nation
        WHERE len(list_filter(string_split_regex(lower(n_name), '[^0-9a-z]+'),
                              t -> t LIKE 'a%')) > 0
           OR n_regionkey = 2
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_range" -> QueryDef(
      // range source compiles to spark.range (distributed, no materialized
      // array); stop-inclusive KQL axis semantics
      (s, _) => kqlRun(s, "",
        "range x from 1 to 100000 step 7 | summarize n = count(), s = sum(x), mx = max(x)"),
      Some("""
        SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s, max(x) AS mx
        FROM generate_series(1, 100000, 7) t(x)""")),

    "q_kql_datatable" -> QueryDef(
      // datatable as a broadcast lookup dim: inline literal enrichment —
      // null-safe countifs prove the leftouter pad
      (s, dir) => kqlRun(s, dir,
        """nation
          | | lookup (datatable (n_name:string, tier:long)
          |     ['ALGERIA', 1, 'ARGENTINA', 1, 'BRAZIL', 2, 'CANADA', 2, 'CHINA', 3]) on n_name
          | | summarize n = count(), t_low = countif(tier == 1),
          |             t_missing = countif(isnull(tier))""".stripMargin),
      Some("""
        SELECT count(*) AS n,
               count(CASE WHEN tier = 1 THEN 1 END) AS t_low,
               count(CASE WHEN tier IS NULL THEN 1 END) AS t_missing
        FROM nation LEFT JOIN (VALUES ('ALGERIA', 1), ('ARGENTINA', 1), ('BRAZIL', 2),
                                      ('CANADA', 2), ('CHINA', 3)) AS d(n_name, tier)
          USING (n_name)""")),

    "q_kql_predicates" -> QueryDef(
      // the KQL predicate surface: in~ (case-insensitive list), between
      // (inclusive range), hasprefix (term-prefix) — one scan, all codegen'd
      (s, dir) => kqlRun(s, dir,
        """customer
          | | where c_mktsegment in~ ('building', 'MACHINERY')
          |     and c_acctbal between (0.0 .. 5000.0)
          |     and c_name hasprefix 'customer'
          | | summarize n = count(), mx = max(c_custkey) by c_mktsegment
          | | order by c_mktsegment asc""".stripMargin),
      Some("""
        SELECT c_mktsegment, count(*) AS n, max(c_custkey) AS mx
        FROM customer
        WHERE lower(c_mktsegment) IN ('building', 'machinery')
          AND c_acctbal BETWEEN 0.0 AND 5000.0
          AND len(list_filter(string_split_regex(lower(c_name), '[^0-9a-z]+'),
                              t -> t LIKE 'customer%')) > 0
        GROUP BY 1 ORDER BY 1""")),

    "q_kql_predicates_cs" -> QueryDef(
      // the case-SENSITIVE predicate family (has_cs/contains_cs/
      // startswith_cs/endswith_cs/hasprefix_cs/hassuffix_cs + !has_cs):
      // identical term-boundary contracts to the ci forms, no case fold.
      // Each countif pairs a matching-case needle with its lowercase twin
      // so the oracle pins that the fold really is gone; the multi-term
      // has_cs literal exercises the case-sensitive phrase regex.
      (s, dir) => kqlRun(s, dir,
        """customer
          | | summarize
          |     n_sw_cs = countif(c_name startswith_cs 'Customer'),
          |     n_sw_lc = countif(c_name startswith_cs 'customer'),
          |     n_ct_cs = countif(c_mktsegment contains_cs 'ING'),
          |     n_ct_lc = countif(c_mktsegment contains_cs 'ing'),
          |     n_has_cs = countif(c_mktsegment has_cs 'BUILDING'),
          |     n_has_lc = countif(c_mktsegment has_cs 'building'),
          |     n_hp_cs = countif(c_name hasprefix_cs 'Cust'),
          |     n_hp_lc = countif(c_name hasprefix_cs 'cust'),
          |     n_hs_cs = countif(c_mktsegment hassuffix_cs 'ERY'),
          |     n_hs_lc = countif(c_mktsegment hassuffix_cs 'ery'),
          |     n_ew_cs = countif(c_mktsegment endswith_cs 'RE'),
          |     n_phrase = countif(c_name has_cs 'Customer#000000042'),
          |     n_neg = countif(c_name !has_cs 'Customer')""".stripMargin),
      Some("""
        SELECT
          count(*) FILTER (starts_with(c_name, 'Customer')) AS n_sw_cs,
          count(*) FILTER (starts_with(c_name, 'customer')) AS n_sw_lc,
          count(*) FILTER (contains(c_mktsegment, 'ING')) AS n_ct_cs,
          count(*) FILTER (contains(c_mktsegment, 'ing')) AS n_ct_lc,
          count(*) FILTER (list_contains(string_split_regex(c_mktsegment, '[^0-9A-Za-z]+'), 'BUILDING')) AS n_has_cs,
          count(*) FILTER (list_contains(string_split_regex(c_mktsegment, '[^0-9A-Za-z]+'), 'building')) AS n_has_lc,
          count(*) FILTER (len(list_filter(string_split_regex(c_name, '[^0-9A-Za-z]+'), t -> starts_with(t, 'Cust'))) > 0) AS n_hp_cs,
          count(*) FILTER (len(list_filter(string_split_regex(c_name, '[^0-9A-Za-z]+'), t -> starts_with(t, 'cust'))) > 0) AS n_hp_lc,
          count(*) FILTER (len(list_filter(string_split_regex(c_mktsegment, '[^0-9A-Za-z]+'), t -> ends_with(t, 'ERY'))) > 0) AS n_hs_cs,
          count(*) FILTER (len(list_filter(string_split_regex(c_mktsegment, '[^0-9A-Za-z]+'), t -> ends_with(t, 'ery'))) > 0) AS n_hs_lc,
          count(*) FILTER (ends_with(c_mktsegment, 'RE')) AS n_ew_cs,
          count(*) FILTER (regexp_matches(c_name, '(^|[^0-9A-Za-z])Customer[^0-9A-Za-z]+000000042([^0-9A-Za-z]|$)')) AS n_phrase,
          count(*) FILTER (NOT list_contains(string_split_regex(c_name, '[^0-9A-Za-z]+'), 'Customer')) AS n_neg
        FROM customer""")),

    "q_kql_top_nested" -> QueryDef(
      // hierarchical top-k: level 1 by sort-limit, level 2 ranked by a
      // window PARTITIONED by the level-1 key (never a global window)
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | extend qty = tolong(l_quantity)
          | | top-nested 2 of l_returnflag by total = sum(qty),
          |   top-nested 1 of l_linestatus by sub = sum(qty)
          | | order by l_returnflag asc""".stripMargin),
      Some("""
        WITH l1 AS (
          SELECT l_returnflag, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total
          FROM lineitem GROUP BY 1
          ORDER BY total DESC, l_returnflag ASC LIMIT 2),
        l2 AS (
          SELECT l.l_returnflag, l.l_linestatus,
                 CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sub
          FROM lineitem l JOIN l1 USING (l_returnflag)
          GROUP BY 1, 2),
        ranked AS (
          SELECT l_returnflag, l_linestatus, sub,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY sub DESC, l_linestatus ASC) AS rk
          FROM l2)
        SELECT r.l_returnflag, l1.total, r.l_linestatus, r.sub
        FROM ranked r JOIN l1 USING (l_returnflag)
        WHERE r.rk <= 1
        ORDER BY r.l_returnflag ASC""")),

    "q_kql_parse_where" -> QueryDef(
      // parse-where: anchored pattern filters AND extracts in one pass
      (s, dir) => kqlRun(s, dir,
        """orders
          | | parse-where o_orderpriority with '1-' label
          | | summarize n = count() by label""".stripMargin),
      Some("""
        SELECT substr(o_orderpriority, 3) AS label, count(*) AS n
        FROM orders WHERE o_orderpriority LIKE '1-%'
        GROUP BY 1""")),

    "q_kql_search" -> QueryDef(
      // search: whole-term match across ALL string columns in one scan
      (s, dir) => kqlRun(s, dir,
        """documents
          | | search 'spark'
          | | summarize n = count(), ids = sum(doc_id)""".stripMargin),
      Some("""
        SELECT count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS ids
        FROM documents
        WHERE list_contains(string_split_regex(lower(text), '[^0-9a-z]+'), 'spark')
           OR list_contains(string_split_regex(lower(lang), '[^0-9a-z]+'), 'spark')
           OR list_contains(string_split_regex(lower(source), '[^0-9a-z]+'), 'spark')""")),

    "q_kql_pivot" -> QueryDef(
      // evaluate pivot: wide per-value columns; the pivot domain (F/O) is
      // collected by Spark exactly as ADX pivot collects its value set
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | extend qty = tolong(l_quantity)
          | | project l_returnflag, l_linestatus, qty
          | | evaluate pivot(l_linestatus, sum(qty))
          | | order by l_returnflag asc""".stripMargin),
      Some("""
        SELECT l_returnflag,
               CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS F,
               CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS O
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    "q_kql_row_number" -> QueryDef(
      // serialize + row_number: global index via zipWithIndex over the
      // range-partitioned sort — the scalable spelling (no 1-partition window)
      (s, dir) => kqlRun(s, dir,
        """orders
          | | where o_totalprice > 400000.0
          | | order by o_orderkey asc | serialize
          | | extend rn = row_number()
          | | project rn, o_orderkey""".stripMargin),
      Some("""
        SELECT row_number() OVER (ORDER BY o_orderkey) AS rn, o_orderkey
        FROM orders WHERE o_totalprice > 400000.0""")),

    "q_kql_top_hitters" -> QueryDef(
      // top-hitters: EXACT heavy hitters (ADX approximates — same documented
      // divergence as dcount), deterministic key tie-break
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | extend qty = tolong(l_quantity)
          | | top-hitters 5 of l_suppkey by qty""".stripMargin),
      Some("""
        SELECT l_suppkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS approximate_sum_qty
        FROM lineitem GROUP BY 1
        ORDER BY 2 DESC, 1 ASC LIMIT 5""")),

    "q_kql_mvapply" -> QueryDef(
      // mv-apply: per-row subquery over a dynamic column — explode → filter
      // → ONE groupBy(rowId) carrying originals via first(); no self-join
      (s, dir) => kqlRun(s, dir,
        """documents
          | | extend words = split(text, ' ')
          | | mv-apply w = words on (where strlen(w) > 4
          |     | summarize n_big = count(), top_w = max(w))
          | | summarize n_docs = count(), total_big = sum(n_big), mx = max(top_w)""".stripMargin),
      Some("""
        WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        per AS (SELECT doc_id, count(*) AS n_big, max(w) AS top_w
                FROM ex WHERE length(w) > 4 GROUP BY doc_id)
        SELECT count(*) AS n_docs, CAST(sum(n_big) AS BIGINT) AS total_big,
               max(top_w) AS mx
        FROM per""")),

    "q_kql_percentilew" -> QueryDef(
      // weighted percentile family: percentilew + percentilesw lower to ONE
      // exact percentile pass with the weight as frequency — equivalent to
      // repeating each row weight times, which is exactly how the oracle
      // restates it (unnest(range(w)) expansion, then type-7 quantiles);
      // replace_strings' sequential fold rides as a fixture
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | where l_orderkey <= 2000
          | | summarize pw = percentilew(l_quantity, l_linenumber, 50),
          |     pa = percentilesw(l_quantity, l_linenumber, 25, 75)
          | | project pw = round(pw, 6),
          |     pws = to_json(transform(pa, v -> round(v, 6))),
          |     rs = replace_strings('A-B-C', dynamic(['A', 'C']), dynamic(['X', 'Y']))""".stripMargin),
      Some("""
        WITH src AS (SELECT l_quantity AS q, l_linenumber AS w
                     FROM lineitem WHERE l_orderkey <= 2000),
        ex AS (SELECT q FROM (SELECT q, unnest(range(w)) FROM src))
        SELECT round(quantile_cont(q, 0.50), 6) AS pw,
               to_json([round(quantile_cont(q, 0.25), 6),
                        round(quantile_cont(q, 0.75), 6)]) AS pws,
               'X-B-Y' AS rs
        FROM ex""")),

    "q_kql_percentiles" -> QueryDef(
      // percentiles(x, p…): one EXACT interpolated percentile column per p
      // (KQL's is T-digest approximate — documented divergence)
      (s, dir) => kqlRun(s, dir,
        """lineitem
          | | extend qty = tolong(l_quantity)
          | | summarize percentiles(qty, 25, 50, 75) by l_returnflag
          | | order by l_returnflag asc""".stripMargin),
      Some("""
        SELECT l_returnflag,
               quantile_cont(CAST(l_quantity AS BIGINT), 0.25) AS percentile_qty_25,
               quantile_cont(CAST(l_quantity AS BIGINT), 0.50) AS percentile_qty_50,
               quantile_cont(CAST(l_quantity AS BIGINT), 0.75) AS percentile_qty_75
        FROM lineitem GROUP BY 1 ORDER BY 1"""))
  )

  /** DuckDB-side stopword hit count, matching [[TextFunctions.langHits]]
    * arithmetic exactly: per word `(len(padded) - len(replace(padded, w, ''))) / len(w)`
    * cast to INT, summed.
    */
  private def dkHits(lang: String): String =
    TextFunctions.StopwordSets(lang).map { w =>
      val esc = w.replace("'", "''")
      s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', '$esc', ''))) / ${w.length} AS INT)"
    }.mkString("(", " + ", ")")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, v) => k -> v.fn }

  def oracleSql: Map[String, String] =
    registry.collect { case (k, QueryDef(_, Some(sql), _)) => k -> sql.trim }

  def headlines: Seq[String] = registry.collect { case (k, q) if q.headline => k }.toSeq.sorted
}
