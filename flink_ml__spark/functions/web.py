"""URL / web-domain operators for web-corpus curation — the first
stage of every published crawl pipeline (C4 blocklist filtering,
Raffel et al. 2020 §2.2; RefinedWeb URL filtering + dedup, Penedo et
al. 2023 §3.1): parse URLs into typed parts, canonicalize away
tracking noise, dedup by canonical URL, and gate on domain block/allow
lists. (Beyond the reference's surface — north-star extension; the
reference repo has no web/URL operators at all.)

100 TB design: parsing and canonicalization are pure Catalyst
regexp/string projections (codegen, zero shuffle — a URL column never
leaves the scan stage's projection); domain filtering is a map-only
check against a broadcast list; URL dedup is ONE hash aggregation on
the canonical key. Nothing here touches Python.

The registrable-domain cut uses an explicit multi-part-suffix list
(co.uk-style) folded into the expression rather than the full Public
Suffix List: the PSL is a versioned external artifact — pipelines that
need it exactly should broadcast-join their own snapshot; the
heuristic keeps the operator dependency-free and the oracle exact.
"""

from __future__ import annotations

from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ml__spark.base import AlgoOperator, HasInputCol

# two-label public suffixes that make the registrable domain THREE
# labels (site.co.uk). Deliberately the common-crawl-frequent subset,
# not the full PSL (see module docstring).
MULTIPART_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "ac.jp", "com.au", "net.au", "org.au", "com.br", "com.cn",
    "com.mx", "co.in", "co.kr", "com.tw", "com.ar", "co.za", "com.sg",
]

# scheme://[user@]host[:port][/path][?query][#fragment]
_URL_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*):\/\/(?:[^@\/?#]*@)?([^:\/?#]+)(?::(\d+))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?$"


def _host_expr(col):
    return F.lower(F.regexp_extract(col, _URL_RE, 2))


def registrable_domain(host_col):
    """eTLD+1 under the explicit multi-part-suffix list: 3 labels when
    the host ends in a listed 2-label suffix, else the last 2 labels.
    Literal IPv4 hosts pass through whole (a /8 is not a 'domain').
    Pure Catalyst — element_at on split, no UDF."""
    parts = F.split(host_col, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2),
                        F.element_at(parts, -1))
    last3 = F.concat_ws(".", F.element_at(parts, -3),
                        F.element_at(parts, -2),
                        F.element_at(parts, -1))
    is_ip = host_col.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    return (F.when(host_col.isNull() | (host_col == ""), F.lit(None))
            .when(is_ip, host_col)
            .when(n <= 2, host_col)
            .when(last2.isin(*MULTIPART_SUFFIXES), last3)
            .otherwise(last2))


class UrlParser(AlgoOperator, HasInputCol):
    """Parse a URL column into typed parts: appends ``url_scheme``,
    ``url_host`` (lowercased), ``url_domain`` (registrable eTLD+1),
    ``url_path``, ``url_query``. Malformed/NULL URLs yield NULL parts
    — never a failed job (the PERMISSIVE convention
    :class:`~flink_ml__spark.functions.feature_gen.JsonColumnParser`
    uses for its column family).

    One codegen regexp projection; the typed columns then participate
    in predicate pushdown and pruning downstream, unlike repeated
    per-query string probes over the raw URL.
    """

    _defaults = dict(inputCol="url")

    def transform(self, df: DataFrame) -> DataFrame:
        c = F.col(self.getInputCol())
        ok = c.rlike(_URL_RE)

        def part(i):
            return F.when(ok, F.regexp_extract(c, _URL_RE, i))

        host = F.when(ok, _host_expr(c))
        return (df
                .withColumn("url_scheme", F.lower(part(1)))
                .withColumn("url_host", host)
                .withColumn("url_domain", registrable_domain(host))
                .withColumn("url_path", part(4))
                .withColumn("url_query", part(5)))


class UrlCanonicalizer(AlgoOperator, HasInputCol):
    """Canonical URL form for dedup/against-crawl comparison: lowercase
    scheme+host, strip the fragment, drop default ports (:80 for http,
    :443 for https), remove tracking query parameters (``utm_*``,
    ``fbclid``, ``gclid``, ``ref`` by default), sort the surviving
    query parameters, and trim a trailing slash from non-root paths.
    Appends ``url_canonical`` (NULL for malformed/NULL input).

    Every step is a Catalyst string/array expression (filter + sort on
    the split query string — HOFs, no UDF), so canonicalization rides
    the scan projection at 100 TB.
    """

    dropParams = Param(Params._dummy(), "dropParams",
                       "query parameter names (exact or prefix-*) "
                       "removed during canonicalization",
                       TypeConverters.toListString)

    _defaults = dict(inputCol="url",
                     dropParams=["utm_*", "fbclid", "gclid", "ref"])

    def setDropParams(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        return self._set(dropParams=list(v))

    def transform(self, df: DataFrame) -> DataFrame:
        c = F.col(self.getInputCol())
        ok = c.rlike(_URL_RE)
        scheme = F.lower(F.regexp_extract(c, _URL_RE, 1))
        host = _host_expr(c)
        port = F.regexp_extract(c, _URL_RE, 3)
        path = F.regexp_extract(c, _URL_RE, 4)
        query = F.regexp_extract(c, _URL_RE, 5)

        keep_port = ~(
            (port == "") |
            ((scheme == "http") & (port == "80")) |
            ((scheme == "https") & (port == "443")))

        drops = self.getOrDefault(self.dropParams)
        exact = [d for d in drops if not d.endswith("*")]
        prefixes = [d[:-1] for d in drops if d.endswith("*")]

        def kept(kv):
            name = F.lower(F.split_part(kv, F.lit("="), F.lit(1)))
            cond = F.lit(True)
            if exact:
                cond = cond & ~name.isin(*exact)
            for p in prefixes:
                cond = cond & ~name.startswith(p)
            return cond

        params = F.array_sort(F.filter(
            F.split(query, "&"),
            lambda kv: (kv != "") & kept(kv)))
        canon_query = F.when(F.size(params) > 0,
                             F.concat(F.lit("?"),
                                      F.array_join(params, "&"))
                             ).otherwise(F.lit(""))
        canon_path = F.when(
            (F.length(path) > 1) & path.endswith("/"),
            F.substring(path, F.lit(1), F.length(path) - 1)
        ).otherwise(F.when(path == "", F.lit("/")).otherwise(path))

        canon = F.concat(
            scheme, F.lit("://"), host,
            F.when(keep_port, F.concat(F.lit(":"), port))
             .otherwise(F.lit("")),
            canon_path, canon_query)
        return df.withColumn("url_canonical",
                             F.when(ok, canon))


class UrlDeduplicator(AlgoOperator, HasInputCol):
    """Exact dedup on the CANONICAL URL — the crawl-pipeline first
    pass (RefinedWeb §3.2 dedups by URL before any content pass,
    because refetches and tracking-param variants are the bulk of raw
    crawl duplication). Keeps the row with the smallest ``idCol`` per
    canonical URL; rows with NULL/malformed URLs are kept (they carry
    no URL evidence of duplication — content dedup handles them).

    ONE hash aggregation on the canonical key (partial min map-side),
    broadcast-free; the same single-shuffle shape as
    :class:`~flink_ml__spark.functions.dedup.ExactDeduplicator`.
    """

    idCol = Param(Params._dummy(), "idCol", "tie-break id column",
                  TypeConverters.toString)

    _defaults = dict(inputCol="url", idCol="doc_id")

    def transform(self, df: DataFrame) -> DataFrame:
        canon = UrlCanonicalizer().setInputCol(self.getInputCol())
        out = canon.transform(df)
        idc = self.getOrDefault(self.idCol)
        keep = (out.filter(F.col("url_canonical").isNotNull())
                .groupBy("url_canonical")
                .agg(F.min(idc).alias(idc))
                .select(idc))
        survivors = out.join(keep, idc, "left_semi")
        return survivors.unionByName(
            out.filter(F.col("url_canonical").isNull()))


class DomainFilter(AlgoOperator, HasInputCol):
    """Block/allow filtering by registrable domain with subdomain
    matching (``ads.example.com`` matches a listed ``example.com``) —
    the C4-style URL gate. ``setBlocklist([...])`` drops matching
    rows; ``setAllowlist([...])`` keeps ONLY matching rows (blocklist
    wins when both are set). Rows with NULL/malformed URLs are treated
    as non-matching (blocklist keeps them, allowlist drops them).

    The lists fold into the plan as literals via ``isin`` on the
    registrable domain — map-only, no join, no shuffle; for
    100k-entry lists use ``filter_against(df, domains_df)`` instead,
    which broadcast-anti-joins a domain DataFrame so the plan size
    stays O(1).
    """

    blocklist = Param(Params._dummy(), "blocklist",
                      "registrable domains to drop",
                      TypeConverters.toListString)
    allowlist = Param(Params._dummy(), "allowlist",
                      "registrable domains to keep (empty = keep all)",
                      TypeConverters.toListString)

    _defaults = dict(inputCol="url", blocklist=[], allowlist=[])

    def setBlocklist(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        return self._set(blocklist=[d.lower() for d in v])

    def setAllowlist(self, *v):
        if len(v) == 1 and isinstance(v[0], (list, tuple)):
            v = tuple(v[0])
        return self._set(allowlist=[d.lower() for d in v])

    def _domain(self):
        return registrable_domain(_host_expr(F.col(self.getInputCol())))

    def transform(self, df: DataFrame) -> DataFrame:
        block = self.getOrDefault(self.blocklist)
        allow = self.getOrDefault(self.allowlist)
        if not block and not allow:
            raise ValueError("no blocklist or allowlist set")
        d = self._domain()
        out = df
        if block:
            out = out.filter(~F.coalesce(d.isin(*block), F.lit(False)))
        if allow:
            out = out.filter(F.coalesce(d.isin(*allow), F.lit(False)))
        return out

    def filter_against(self, df: DataFrame,
                       domains: DataFrame, mode: str = "block"
                       ) -> DataFrame:
        """Large-list variant: drop (``mode='block'``) or keep
        (``mode='allow'``) rows whose registrable domain appears in
        the single-column ``domains`` DataFrame — a broadcast
        anti/semi join, so the list never inflates the plan."""
        if mode not in ("block", "allow"):
            raise ValueError(f"mode must be block or allow: {mode!r}")
        dcol = domains.columns[0]
        keys = F.broadcast(
            domains.select(F.lower(F.col(dcol)).alias("__dom"))
            .distinct())
        tagged = df.withColumn("__dom", self._domain())
        how = "left_anti" if mode == "block" else "left_semi"
        return tagged.join(keys, "__dom", how).drop("__dom")


class OutlinkExtractor(AlgoOperator, HasInputCol):
    """Hyperlink (outlink) extraction from an HTML/markup column —
    the edge-list producer of every web graph: feed the output to
    :class:`~flink_ml__spark.functions.graph.PageRank` /
    :class:`~flink_ml__spark.functions.graph.ConnectedComponents`
    for crawl-frontier scoring, or count per-domain inlinks as a
    quality prior (Common Crawl's harmonic-centrality ranking).

    ``transform(df)`` returns one row per extracted link::

        <idCol>     the source document id
        outlink     the raw href/src value (entity-decoding and
                    canonicalization are downstream:
                    :class:`UrlCanonicalizer`)
        out_domain  registrable domain of absolute http(s) links,
                    NULL for relative/other schemes

    Matches ``href``/``src`` attributes with either quote style,
    case-insensitive; unquoted attribute values (legacy HTML) are out
    of scope. Documents without links emit no rows.

    100 TB design: ONE ``regexp_extract_all`` projection + explode —
    map-only, zero shuffle, output-proportional; the regex is
    RE2-compatible so the SQL oracle replays it verbatim.
    """

    idCol = Param(Params._dummy(), "idCol", "document id column",
                  TypeConverters.toString)

    # group 1: quote char (backreference-free: match both quote
    # alternatives explicitly so RE2 accepts the pattern)
    RE_HREF = "(?i)(?:href|src)\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)')"

    _defaults = dict(inputCol="text", idCol="doc_id")

    def transform(self, df: DataFrame) -> DataFrame:
        i = self.getOrDefault(self.idCol)
        text = F.col(self.getInputCol())
        dq = F.regexp_extract_all(text, F.lit(self.RE_HREF), 1)
        sq = F.regexp_extract_all(text, F.lit(self.RE_HREF), 2)
        # the unmatched alternative yields '' — zip the two capture
        # groups and keep the non-empty side of each match
        links = F.zip_with(dq, sq,
                           lambda a, b: F.when(a != "", a).otherwise(b))
        out = (df.filter(text.isNotNull())
               .select(F.col(i), F.explode(links).alias("outlink")))
        is_abs = F.col("outlink").rlike("(?i)^https?://")
        return out.withColumn(
            "out_domain",
            F.when(is_abs,
                   registrable_domain(_host_expr(F.col("outlink")))))
