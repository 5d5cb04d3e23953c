"""HTML main-content extraction (boilerplate strip) — the north-rule's
first clause (`BASELINE.json` B:14: "HTML boilerplate strip, PDF/layout
parse, DOM heuristics") as a first-class, engine-portable operator.

Algorithm (the published Boilerpipe NumWordsRulesClassifier shape
[Kohlschütter et al., WSDM'10 "Boilerplate Detection using Shallow Text
Features" — public paper], stateless simplification): drop
script/style/comment subtrees, split the page into text blocks at
block-level tag boundaries, compute per-block word count and link-word
count, and keep blocks with >= MIN_WORDS words and link density <= 1/3.
Navigation bars, sidebars and footers are short and link-dense; body
paragraphs are long and link-sparse — the two features separate them
without any DOM tree build.

Scale design (100 TB):
- pure map-side: one projection over the scan, zero shuffle, zero
  Python (JVM regexp + higher-order array functions throughout; plan
  asserted in tests/test_plans.py). Filters/column pruning push down
  untouched.
- the block split is linear in page bytes and allocation-bounded by
  the page itself — no quadratic backtracking (every regex here is
  backtrack-safe: single non-greedy span or a character class).
- link density uses INTEGER arithmetic (lw * 3 <= nw), so the
  keep-decision is bit-portable across engines and never hits float
  rounding.

The registry key builds a deterministic synthetic page around each
document's text (planted nav/sidebar/footer boilerplate + a style and
script block), IDENTICALLY in Spark and DuckDB, then extracts — the
oracle checks the extraction, not the page builder. The library entry
point :func:`extract_main_content` takes any DataFrame with a raw-HTML
column (the real-corpus surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hocr_de_noising_spark.queries.util import let_sql, load, register

MIN_WORDS = 8  # Boilerpipe's "number of words" rule threshold
# link density <= 1/3, kept as integer math: lw * 3 <= nw
LINK_DENSITY_DEN = 3

# every pattern below is in the RE2 ∩ java.util.regex portable subset:
# no backreferences, no lookaround; (?is) inline flags and non-greedy
# .*? are supported by both engines
_DROP_SUBTREES = (
    "(?is)<script[^>]*>.*?</script>",
    "(?is)<style[^>]*>.*?</style>",
    "(?s)<!--.*?-->",
)
_BLOCK_SPLIT = (
    "(?i)</?(?:p|div|h[1-6]|li|ul|ol|table|tr|td|th|section|article"
    "|header|footer|nav|blockquote|br)[^>]*>"
)
_TAG = "<[^>]*>"
_WS = "[ \\t\\r\\n]+"
_LINK_INNER = "(?is)<a[^>]*>(.*?)</a>"


def _spark_drop_subtrees(col):
    for pat in _DROP_SUBTREES:
        col = F.regexp_replace(col, pat, " ")
    return col


# SQL fragment: plain text of an HTML fragment `X` — tags to spaces,
# whitespace collapsed, trimmed. Identical syntax in Spark SQL and
# DuckDB up to the global flag, handled by the caller.
def _txt_of(x: str, g: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace({x}, '{_TAG}', ' '{g}), "
        f"'{_WS}', ' '{g}))"
    )


def _words_of(t: str) -> str:
    # split on the single spaces left by the collapse; '' -> 0 words
    return f"(CASE WHEN {t} = '' THEN 0 ELSE size(split({t}, ' ')) END)"


def _spark_stats_expr(bs_col: str = "bs") -> str:
    """blocks -> array<struct<txt,nw,lw>> in Spark SQL (JVM HOFs)."""
    txt = _txt_of("b", "")
    link_words = (
        f"aggregate(regexp_extract_all(b, '{_LINK_INNER}', 1), 0, "
        f"(acc, a) -> acc + {_words_of(_txt_of('a', ''))})"
    )
    return (
        f"transform(transform({bs_col}, b -> struct({txt} AS txt, "
        f"{link_words} AS lw)), s -> struct(s.txt AS txt, s.lw AS lw, "
        f"{_words_of('s.txt')} AS nw))"
    )


_KEEP = f"s -> s.nw >= {MIN_WORDS} AND s.lw * {LINK_DENSITY_DEN} <= s.nw"


# DOM heuristic (the north-rule's "DOM heuristics" clause): the
# Readability/Arc90 unlikely-candidate rule — containers whose id/class
# matches the negative keyword set are boilerplate regardless of their
# text statistics (a verbose link-sparse nav passes the word rules but
# no reader wants it). Subtree removal is non-greedy to the FIRST
# matching close tag per tag family — RE2 (DuckDB) has no pattern
# backreferences, so the exactly-nested form is not portable; for the
# leaf-ish containers these classes mark, first-close is the subtree.
_UNLIKELY = "nav|foot|side|comment|menu|banner|promo|related|share"
_UNLIKELY_TAGS = ("div", "section", "aside", "ul", "table")


def _unlikely_pat(tag: str) -> str:
    return (
        f"(?is)<{tag}[^>]*(?:id|class)=\"[^\"]*(?:{_UNLIKELY})[^\"]*\""
        f"[^>]*>.*?</{tag}>"
    )


def extract_main_content(
    df: DataFrame, html_col: str = "html", dom_heuristics: bool = False
) -> DataFrame:
    """Main-content extraction over a raw-HTML column: returns the
    input plus (main_text, n_blocks, n_kept). Map-side only — safe to
    compose before any shuffle-bearing stage. ``dom_heuristics=True``
    additionally removes Readability-style unlikely-candidate subtrees
    (negative id/class keywords) before the block statistics."""
    scrubbed = _spark_drop_subtrees(F.col(html_col))
    if dom_heuristics:
        for t in _UNLIKELY_TAGS:
            scrubbed = F.regexp_replace(scrubbed, _unlikely_pat(t), " ")
    bs = F.split(scrubbed, _BLOCK_SPLIT)
    # collision-unlikely staging names (ADVICE r7): an input frame that
    # already carries `bs` or `stats` would have been silently
    # clobbered and dropped from the output
    return (
        df.withColumn("_emc_bs", bs)
        .withColumn("_emc_stats", F.expr(_spark_stats_expr("_emc_bs")))
        .select(
            *df.columns,
            F.expr(
                f"array_join(transform(filter(_emc_stats, {_KEEP}), "
                f"s -> s.txt), '\\n')"
            ).alias("main_text"),
            F.expr("size(filter(_emc_stats, s -> s.nw > 0))")
            .cast("int")
            .alias("n_blocks"),
            F.expr(f"size(filter(_emc_stats, {_KEEP}))")
            .cast("int")
            .alias("n_kept"),
        )
    )


# -------------------------------------------------------- registry key --

# deterministic synthetic page: nav / sidebar / footer boilerplate
# (short, link-dense), a style+script subtree (must vanish), the doc
# text as the main paragraph, and a substr(text, 1, 80) second
# paragraph that straddles the MIN_WORDS threshold across docs so the
# keep-rule's boundary is exercised by the corpus itself
_PAGE_PARTS = [
    '<html><head><title>d</title><style>.x{color:red}</style>'
    "<script>var a=1;</script></head><body>"
    '<div id="nav"><a href="/">Home</a> <a href="/a">About</a> '
    '<a href="/b">Contact</a></div><p>',
    "</p>"
    '<div class="side"><a href="/x">More</a> <a href="/y">Other</a> '
    "links</div>"
    # long link-SPARSE promo block: passes the word rules (12 words,
    # zero links) so only the DOM unlikely-candidate heuristic drops
    # it — the case separating html_main_content_dom from the
    # rules-only key
    '<div class="promo">every reader deserves these twelve generic '
    "promotional words delivered verbatim today</div><p>",
    # one ABSOLUTE link whose domain is doc-dependent (doc_id % 10) —
    # gives html_links / link_domains_topk a non-degenerate domain
    # distribution; anchor text unchanged so the extraction keys see
    # the same blocks
    "</p>"
    '<div id="footer">(c) 2026 example <a href="/p">privacy</a> '
    '<a href="https://s',
    '.example.com/t">terms</a></div></body></html>',
]


def _duck_page_expr() -> str:
    p = [x.replace("'", "''") for x in _PAGE_PARTS]
    return (
        f"'{p[0]}' || text || '{p[1]}' || substr(text, 1, 80) || "
        f"'{p[2]}' || CAST(doc_id % 10 AS VARCHAR) || '{p[3]}'"
    )


def _duck_sql(dom_heuristics: bool = False) -> str:
    drop = "html"
    for pat in _DROP_SUBTREES:
        drop = f"regexp_replace({drop}, '{pat}', ' ', 'g')"
    if dom_heuristics:
        for t in _UNLIKELY_TAGS:
            drop = f"regexp_replace({drop}, '{_unlikely_pat(t)}', ' ', 'g')"
    txt = (
        "trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), "
        "'[ \\t\\r\\n]+', ' ', 'g'))"
    )
    atxt = (
        "trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'), "
        "'[ \\t\\r\\n]+', ' ', 'g'))"
    )
    keep = f"s -> s.nw >= {MIN_WORDS} AND s.lw * {LINK_DENSITY_DEN} <= s.nw"
    return f"""
WITH pages AS (
  SELECT doc_id, {_duck_page_expr()} AS html
  FROM documents WHERE text IS NOT NULL
), blk AS (
  SELECT doc_id,
         regexp_split_to_array({drop}, '{_BLOCK_SPLIT}') AS bs
  FROM pages
), st AS (
  SELECT doc_id,
    list_transform(
      list_transform(bs, b -> struct_pack(
        txt := {txt},
        lw := coalesce(list_sum(list_transform(
          regexp_extract_all(b, '{_LINK_INNER}', 1),
          a -> CASE WHEN {atxt} = '' THEN 0
               ELSE len(string_split({atxt}, ' ')) END)), 0)
      )),
      s -> struct_pack(txt := s.txt, lw := s.lw,
        nw := CASE WHEN s.txt = '' THEN 0
              ELSE len(string_split(s.txt, ' ')) END)
    ) AS stats
  FROM blk
)
SELECT doc_id,
  -- DuckDB's array_to_string returns NULL on an empty list where
  -- Spark's array_join returns '' — normalize to Spark's behavior
  coalesce(array_to_string(list_transform(list_filter(stats, {keep}),
                                          s -> s.txt), chr(10)),
           '') AS main_text,
  CAST(len(list_filter(stats, s -> s.nw > 0)) AS INTEGER) AS n_blocks,
  CAST(len(list_filter(stats, {keep})) AS INTEGER) AS n_kept
FROM st
"""


def _spark_pages(spark, sf):
    t = load(spark, sf, "documents").filter(F.col("text").isNotNull())
    page = F.concat(
        F.lit(_PAGE_PARTS[0]),
        F.col("text"),
        F.lit(_PAGE_PARTS[1]),
        F.substring("text", 1, 80),
        F.lit(_PAGE_PARTS[2]),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(_PAGE_PARTS[3]),
    )
    return t.select("doc_id", page.alias("html"))


@register("html_main_content", _duck_sql())
def html_main_content(spark, sf):
    """Boilerplate-strip / main-content extraction over synthetic pages
    built from the documents table (see module docstring): planted
    nav/sidebar/footer must be dropped, the body paragraphs kept, the
    script/style subtrees erased — checked block-for-block against the
    DuckDB oracle. (The word rules alone KEEP the planted link-sparse
    promo block — see html_main_content_dom.)"""
    return extract_main_content(_spark_pages(spark, sf), "html").select(
        "doc_id", "main_text", "n_blocks", "n_kept"
    )


@register("html_main_content_dom", _duck_sql(dom_heuristics=True))
def html_main_content_dom(spark, sf):
    """Main-content extraction WITH the Readability-style DOM
    unlikely-candidate heuristic: the planted class="promo" block (12
    words, zero links — invisible to the word rules) must be dropped
    structurally, along with the nav/side/footer containers."""
    return extract_main_content(
        _spark_pages(spark, sf), "html", dom_heuristics=True
    ).select("doc_id", "main_text", "n_blocks", "n_kept")


# ------------------------------------------------------- link graph --

_LINK_ELEM = "(?is)<a[^>]*>.*?</a>"
_HREF = '(?is)href="([^"]*)"'


def extract_links(df: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, href, anchor) rows — the link-graph construction
    primitive for a web corpus. Map-side extract + one generator
    (explode), no shuffle: at 100 TB the link table lands partitioned
    exactly like its source scan, ready for a target-keyed exchange
    only if the consumer needs one (e.g. in-degree counting)."""
    elems = F.expr(
        f"regexp_extract_all({html_col}, '{_LINK_ELEM}', 0)"
    )
    e = df.select(
        *df.columns, F.explode(elems).alias("elem")
    )
    anchor = _txt_of("elem", "")
    return e.select(
        *df.columns,
        F.expr(f"regexp_extract(elem, '{_HREF}', 1)").alias("href"),
        F.expr(anchor).alias("anchor"),
    )


_LINKS_CTE = f"""
WITH pages AS (
  SELECT doc_id, {{page}} AS html
  FROM documents WHERE text IS NOT NULL
), links AS (
  SELECT doc_id,
         regexp_extract(elem, '{_HREF}', 1) AS href,
         trim(regexp_replace(regexp_replace(elem, '<[^>]*>', ' ', 'g'),
                             '[ \\t\\r\\n]+', ' ', 'g')) AS anchor
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(html, '{_LINK_ELEM}', 0)) AS elem
        FROM pages)
)
"""


@register(
    "html_links",
    _LINKS_CTE.format(page=_duck_page_expr())
    + "SELECT doc_id, href, anchor FROM links",
)
def html_links(spark, sf):
    """Per-page link extraction over the synthetic pages: every <a>
    element becomes a (doc_id, href, anchor) row."""
    return extract_links(_spark_pages(spark, sf), "html").select(
        "doc_id", "href", "anchor"
    )


# ------------------------------------------------- URL canonicalize --

# Canonical form (the crawl-dedup normalization every web pipeline runs
# before URL-keyed dedup/frontier checks): lowercase scheme+host, drop
# a leading "www.", drop default ports (:80 http / :443 https), strip
# the fragment, drop utm_* tracking params, sort the surviving query
# params, strip trailing path slashes. Implemented as component
# EXTRACTION + REBUILD — no replacement backreferences, whose syntax
# differs between java.util.regex ($1) and RE2 (\\1), so every regex
# stays in the portable subset. Pure map-side: zero shuffle, zero
# Python.

_U_SCHEME = "^([a-zA-Z]+)://"
_U_HOST = "^[a-zA-Z]+://([^/:?#]+)"
_U_PORT = "^[a-zA-Z]+://[^/:?#]+:([0-9]+)"
_U_PATH = "^[a-zA-Z]+://[^/?#]+([^?#]*)"
_U_QUERY = "\\?([^#]*)"


def canonicalize_url(url):
    """Column expression: canonical form of an absolute http(s) URL.
    Composable anywhere (map-side only)."""
    scheme = F.lower(F.regexp_extract(url, _U_SCHEME, 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(url, _U_HOST, 1)), "^www\\.", ""
    )
    port = F.regexp_extract(url, _U_PORT, 1)
    keep_port = ~(
        (port == "")
        | ((scheme == F.lit("http")) & (port == "80"))
        | ((scheme == F.lit("https")) & (port == "443"))
    )
    path = F.regexp_replace(F.regexp_extract(url, _U_PATH, 1), "/+$", "")
    q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract(url, _U_QUERY, 1), "&"),
                lambda x: (x != "") & ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


# deterministic messy-URL corpus: four variants cycling on doc_id, with
# the path id folded mod 97 so distinct docs collide post-canon (the
# situation URL dedup exists for)
_DUCK_URLS = """
urls AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/Path/'
                  || CAST(doc_id % 97 AS VARCHAR)
                  || '/?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
                  || '#top'
      WHEN 1 THEN 'http://example.com:80/path/'
                  || CAST(doc_id % 97 AS VARCHAR)
                  || '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x'
      WHEN 2 THEN 'https://sub.Example.com:8443/path/'
                  || CAST(doc_id % 97 AS VARCHAR) || '/'
      ELSE 'https://example.com/path/' || CAST(doc_id % 97 AS VARCHAR)
           || '?b=2&utm_medium=em&a=1'
    END AS url
  FROM documents
)
"""

_CANON_DUCK = """
lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) || '://'
|| regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)),
                  '^www\\.', '')
|| CASE WHEN regexp_extract(url, '^[a-zA-Z]+://[^/:?#]+:([0-9]+)', 1) = ''
          OR (lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) = 'http'
              AND regexp_extract(url, '^[a-zA-Z]+://[^/:?#]+:([0-9]+)', 1) = '80')
          OR (lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) = 'https'
              AND regexp_extract(url, '^[a-zA-Z]+://[^/:?#]+:([0-9]+)', 1) = '443')
        THEN ''
        ELSE ':' || regexp_extract(url, '^[a-zA-Z]+://[^/:?#]+:([0-9]+)', 1) END
|| regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
                  '/+$', '')
|| CASE WHEN coalesce(array_to_string(list_sort(list_filter(
            string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
            x -> x != '' AND NOT starts_with(x, 'utm_'))), '&'), '') = ''
        THEN ''
        ELSE '?' || array_to_string(list_sort(list_filter(
            string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
            x -> x != '' AND NOT starts_with(x, 'utm_'))), '&') END
"""


@register(
    "url_canonicalize",
    f"WITH {_DUCK_URLS} SELECT doc_id, url, {_CANON_DUCK} AS canon_url FROM urls",
)
def url_canonicalize(spark, sf):
    """URL canonicalization over the deterministic messy-URL corpus:
    case/port/fragment/tracking-param/trailing-slash variants of the
    same resource must collapse to one canonical string."""
    t = load(spark, sf, "documents")
    pid = (F.col("doc_id") % 97).cast("string")
    qid = (F.col("doc_id") % 7).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("HTTPS://WWW.Example.COM:443/Path/"),
                pid,
                F.lit("/?utm_source=feed&id="),
                qid,
                F.lit("#top"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("http://example.com:80/path/"),
                pid,
                F.lit("?id="),
                qid,
                F.lit("&utm_campaign=x"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://sub.Example.com:8443/path/"), pid, F.lit("/")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example.com/path/"),
                pid,
                F.lit("?b=2&utm_medium=em&a=1"),
            )
        )
    )
    urls = t.select("doc_id", url.alias("url"))
    return urls.select(
        "doc_id", "url", canonicalize_url(F.col("url")).alias("canon_url")
    )


# ---------------------------------------------- URL blocklist filter --

# Domain-suffix blocklist filtering (the C4/RefinedWeb URL-filter
# step [Raffel et al. arXiv:1910.10683 §2.2; Penedo et al.
# arXiv:2306.01116 — public papers]): a blocklist entry blocks the
# exact host AND every subdomain of it ("example.com" blocks
# "ads.example.com"), matched only at dot boundaries ("notexample.com"
# passes). Implemented by expanding each host into its dot-boundary
# suffix chain map-side and intersecting with the blocklist — pure
# map-side (arrays_overlap against a literal array, zero shuffle, zero
# Python).

_BLOCKLIST = ("spam-net.com", "ads.site3.com", "site7.org")


def host_suffixes(host):
    """Column: all dot-boundary suffixes of a hostname, most-specific
    first (e.g. a.b.com -> [a.b.com, b.com, com])."""
    # let-bound label array: split the host once per row, not three
    # times per suffix inside the lambda (util.let_sql)
    return F.expr(
        let_sql(
            f"split({host}, '\\\\.')",
            "hs",
            "transform(sequence(0, size(hs) - 1), "
            "i -> array_join(slice(hs, i + 1, size(hs) - i), '.'))",
        )
    )


def filter_blocked_hosts(df: DataFrame, host_col: str = "host",
                         blocklist: tuple[str, ...] = _BLOCKLIST) -> DataFrame:
    """Adds (blocked, block_rule) for a host column: blocked iff any
    dot-boundary suffix is a blocklist entry; block_rule is the most
    specific matching entry (NULL when allowed). Map-side only."""
    bl = ", ".join(f"'{b}'" for b in blocklist)
    sufs = host_suffixes(host_col)
    return df.withColumn("sufs", sufs).select(
        *df.columns,
        F.arrays_overlap("sufs", F.expr(f"array({bl})")).alias("blocked"),
        # get() not [0]: null-safe under ANSI mode when nothing matches
        F.expr(f"get(filter(sufs, s -> array_contains(array({bl}), s)), 0)")
        .alias("block_rule"),
    )


_DUCK_HOSTS = """
hosts AS (
  SELECT doc_id,
    CASE doc_id % 3
      WHEN 0 THEN 'a' || CAST(doc_id % 11 AS VARCHAR) || '.spam-net.com'
      WHEN 1 THEN 'ads.site' || CAST(doc_id % 11 AS VARCHAR) || '.com'
      ELSE 'blog.site' || CAST(doc_id % 11 AS VARCHAR) || '.org'
    END AS host
  FROM documents
)
"""


def _duck_host_filter() -> str:
    bl = ", ".join(f"'{b}'" for b in _BLOCKLIST)
    sufs = (
        "list_transform(range(len(string_split(host, '.'))), "
        "i -> array_to_string(list_slice(string_split(host, '.'), "
        "i + 1, len(string_split(host, '.'))), '.'))"
    )
    return f"""
WITH {_DUCK_HOSTS}, s AS (
  SELECT doc_id, host, {sufs} AS sufs FROM hosts
)
SELECT doc_id, host,
  list_has_any(sufs, [{bl}]) AS blocked,
  list_filter(sufs, s -> list_contains([{bl}], s))[1] AS block_rule
FROM s
"""


@register("url_host_filter", _duck_host_filter())
def url_host_filter(spark, sf):
    """Domain-suffix blocklist over a deterministic host corpus:
    'spam-net.com' must block every subdomain, 'ads.site3.com' must
    block exactly one host shape, 'site7.org' must block at the parent
    -domain boundary — matched suffix recorded per row."""
    t = load(spark, sf, "documents")
    k = (F.col("doc_id") % 11).cast("string")
    host = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("a"), k, F.lit(".spam-net.com")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("ads.site"), k, F.lit(".com")),
        )
        .otherwise(F.concat(F.lit("blog.site"), k, F.lit(".org")))
    )
    hosts = t.select("doc_id", host.alias("host"))
    return filter_blocked_hosts(hosts, "host")


@register(
    "link_domains_topk",
    _LINKS_CTE.format(page=_duck_page_expr())
    + """
SELECT regexp_extract(href, '^https?://([^/]+)', 1) AS domain,
       count(*) AS n_links,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM links
WHERE href LIKE 'http%'
GROUP BY 1 ORDER BY n_links DESC, domain LIMIT 10""",
)
def link_domains_topk(spark, sf):
    """Top-10 outbound domains by link count (+ distinct referring
    docs) — the blocklist/allowlist feeder every web-corpus pipeline
    runs. Two-level hash aggregate with map-side partials; the top-k
    is a TakeOrdered, never a global sort."""
    links = extract_links(_spark_pages(spark, sf), "html")
    return (
        links.filter(F.col("href").startswith("http"))
        .select(
            F.regexp_extract("href", "^https?://([^/]+)", 1).alias(
                "domain"
            ),
            "doc_id",
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_links").desc(), "domain")
        .limit(10)
    )
