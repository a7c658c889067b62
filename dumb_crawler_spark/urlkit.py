"""URL kernel (SURVEY.md §2.3): parse, canonicalize, hash, resource test.

Everything here is a **pure Column expression** — JVM-side, inside
whole-stage codegen, no Python on the executor path at all (stronger than the
input_hint's "vectorized pandas UDF" floor). At 10^10 URLs/round this layer
runs inside the scan/project stage with zero serialization cost.

Reference parity notes:
- U1 mirrors okhttp ``HttpUrl.parse`` variables (URLExpressionEvaluator.java:29-49):
  url, protocol, host, path ('' → '/'), port (default 80/443 by scheme),
  query (null if absent), fragment (null if absent). okhttp parses only
  http/https; other schemes yield null parts (→ no tags, like the reference).
- U2 mirrors ``URLHasher.hashUrl`` (URLHasher.java:31-42): full-match of
  ``idExtractorPattern`` → named group ``id``; else md5 hex of the url.
  Java ``Matcher.matches()`` is FULL-string — patterns are anchored here.
- U5 mirrors ``ExpressionFunctions._isResource`` (ExpressionFunctions.java:11-17,46-52).
- U9 (canonicalize) is a north-rule addition with no reference counterpart
  (the reference only resolves relative links, CrawlingTaskCallable.java:97):
  lowercase scheme+host, strip fragment, strip default port, sort query
  params, '' path → '/'.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 18 static-asset extensions, verbatim list from ExpressionFunctions.java:11-14
RESOURCE_EXTENSIONS = (
    "css", "js", "sass", "less", "ico", "jpeg", "jpg", "png", "webp",
    "pdf", "mpeg", "mpg", "mp3", "mp4", "avi", "ogg", "wav", "iso",
)
_RESOURCE_RE = r"^.*\.(" + "|".join(RESOURCE_EXTENSIONS) + r")$"

_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://.*$"


def anchor(pattern: str) -> str:
    """Wrap a Java regex for full-string semantics (U3: String.matches)."""
    return f"^(?:{pattern})$"


def named_group_index(pattern: str, name: str) -> int:
    """Resolve a Java named capture group ``(?<name>…)`` to its group index,
    so Spark's index-based ``regexp_extract`` can address it. Parsed on the
    driver once per config; Java named-group syntax is translated to Python's
    for introspection only — the JVM still receives the original pattern.
    """
    py_pattern = re.sub(r"\(\?<([A-Za-z][A-Za-z0-9]*)>", r"(?P<\1>", pattern)
    idx = re.compile(py_pattern).groupindex.get(name)
    if idx is None:
        raise ValueError(f"pattern has no (?<{name}>…) group: {pattern}")
    return idx


def is_http(url: Column) -> Column:
    """F1 protocol filter predicate (URLStore.java:102-111, LinkFilter.java:26-28).

    The reference tests ``url.startsWith("http")`` — which admits http, https
    (and technically any http* scheme); replicated exactly.
    """
    return url.startswith("http")


def is_resource(path: Column) -> Column:
    """U5: path ends with a static-asset extension (case-sensitive, like the
    reference's Pattern without CASE_INSENSITIVE)."""
    return path.rlike(_RESOURCE_RE)


_HOST_RE = r"^(?:[^@]*@)?([^:]+)"


def _scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def _from_authority(authority: Column) -> tuple[Column, Column, Column]:
    """(lowercased host, explicit port, userinfo) of an AUTHORITY part."""
    return (
        F.lower(F.regexp_extract(authority, _HOST_RE, 1)),
        F.regexp_extract(authority, r":(\d+)$", 1),
        F.regexp_extract(authority, r"^([^@]*@)", 1),
    )


def _parts(url, scheme, raw_path, query, fragment, host, explicit_port) -> Column:
    """The U1 struct from the parsed pieces of ``url``."""
    ok = scheme.isin("http", "https")
    port = F.when(~ok, F.lit(None).cast("int")).otherwise(
        F.when(explicit_port != "", explicit_port.cast("int")).otherwise(
            F.when(scheme == "https", F.lit(443)).otherwise(F.lit(80))
        )
    )
    path = F.when(ok, F.when(raw_path.isNull() | (raw_path == ""), F.lit("/")).otherwise(raw_path))
    return F.struct(
        url.alias("url"),
        F.when(ok, scheme).alias("protocol"),
        F.when(ok & (host != ""), host).alias("host"),
        path.alias("path"),
        port.alias("port"),
        F.when(ok, query).alias("query"),
        F.when(ok, fragment).alias("fragment"),
    )


def url_parts(url: Column) -> Column:
    """U1: struct<url, protocol, host, path, port, query, fragment>.

    Only http/https URLs produce non-null parts (okhttp behaviour); the
    expression compiler treats null parts as falsey, matching the reference's
    "unparseable ⇒ expression false ⇒ no tags" path
    (URLExpressionEvaluator.java:33-38, ThreadLocalEvaluator coercion).
    """
    host, explicit_port, _ = _from_authority(F.try_parse_url(url, F.lit("AUTHORITY")))
    parsed = (F.try_parse_url(url, F.lit(p)) for p in ("PATH", "QUERY", "REF"))
    return _parts(url, _scheme(url), *parsed, host, explicit_port)


def _canonical(u, scheme, raw_path, query, host, explicit_port, userinfo) -> Column:
    """U9 from the parsed pieces of the fragment-less ``u``."""
    default_port = F.when(scheme == "https", F.lit("443")).otherwise(F.lit("80"))
    port_part = F.when(
        (explicit_port == "") | (explicit_port == default_port), F.lit("")
    ).otherwise(F.concat(F.lit(":"), explicit_port))
    path = F.when(raw_path.isNull() | (raw_path == ""), F.lit("/")).otherwise(raw_path)
    sorted_query = F.array_join(F.array_sort(F.split(query, "&")), "&")
    query_part = F.when(query.isNull() | (query == ""), F.lit("")).otherwise(
        F.concat(F.lit("?"), sorted_query)
    )
    canon = F.concat(scheme, F.lit("://"), userinfo, host, port_part, path, query_part)
    return F.when(scheme.isin("http", "https") & (host != ""), canon).otherwise(u)


def canonicalize(url: Column) -> Column:
    """U9 [north-rule]: canonical URL string.

    lowercase scheme+host · strip fragment · strip default port (:80 http,
    :443 https) · sort query params lexicographically · '' path → '/'.
    Idempotent (property-tested). Non-http(s) input passes through trimmed —
    F1 drops it before it ever reaches the frontier.
    """
    u = F.trim(url)
    no_frag = F.regexp_replace(u, r"#.*$", "")
    parsed = (F.try_parse_url(no_frag, F.lit(p)) for p in ("PATH", "QUERY"))
    pieces = _from_authority(F.try_parse_url(no_frag, F.lit("AUTHORITY")))
    return _canonical(u, _scheme(u), *parsed, *pieces)


# -- layered kernel (the hot path) -------------------------------------------
#
# The Column-expression forms above are convenient and exact, but COMPOSING
# them (canonicalize → url_parts → tags) builds one giant expression tree in
# which every `when`/`nullif` duplicates its heavyweight argument
# (parse_url, regexp_extract) — multiplicatively. Measured: ~100-200 core-µs
# per URL, and the generated code can outgrow HotSpot's JIT method limit
# (→ interpreted execution, another ~10×). The layered forms below evaluate
# each heavy sub-expression EXACTLY ONCE per row by aliasing it as an
# intermediate column, one ``select`` per layer: Catalyst's CollapseProject
# never inlines a non-cheap alias that is referenced more than once, so the
# layering survives optimization. Same semantics (pinned by tests), ~10×
# cheaper. A layer list holds only Columns — unresolved expressions — so a
# crawl builds it once and every round's plan reuses it (apply_layers).


def apply_layers(df: DataFrame, layers: list[list[Column]]) -> DataFrame:
    """One ``select`` per layer."""
    for cols in layers:
        df = df.select(*cols)
    return df


def _aliased(cols, names: tuple[str, ...]) -> list[Column]:
    return [c.alias(n) for c, n in zip(cols, names)]


def canonical_url_layers(keep=()) -> list[list[Column]]:
    """U9 as select layers — identical results to ``canonicalize(col)``, each
    parse/regex evaluated once per row. The last layer holds the ``keep``
    columns and ``url``, now canonical."""
    star, u, nofrag = F.col("*"), F.col("_u"), F.col("_nofrag")
    parsed = ("_path", "_query", "_host", "_eport", "_userinfo")
    return [
        [star, F.trim(F.col("url")).alias("_u")],
        [star, _scheme(u).alias("_scheme"), F.regexp_replace(u, r"#.*$", "").alias("_nofrag")],
        [star, *_aliased(
            (F.try_parse_url(nofrag, F.lit(p)) for p in ("AUTHORITY", "PATH", "QUERY")),
            ("_authority", "_path", "_query"),
        )],
        [star, *_aliased(_from_authority(F.col("_authority")), ("_host", "_eport", "_userinfo"))],
        [*map(F.col, keep), _canonical(u, F.col("_scheme"), *map(F.col, parsed)).alias("url")],
    ]


def url_parts_layers(keep=("url",), with_host: bool = False) -> list[list[Column]]:
    """U1 as select layers — ``_parts``, the struct ``url_parts(url)`` gives,
    with each parse/regex evaluated once per row. The last layer holds the
    ``keep`` columns, ``_parts`` and, ``with_host``, ``host``: the any-scheme
    host (the ``host_of`` semantics used for the frontier host column —
    non-null even for non-http schemes)."""
    star, url, host = F.col("*"), F.col("url"), F.col("_p_host")
    parsed = ("_p_path", "_p_query", "_p_ref", "_p_host", "_p_eport")
    exported = [F.when(host == "", F.lit(None)).otherwise(host).alias("host")] if with_host else []
    return [
        [star, _scheme(url).alias("_p_scheme"), *_aliased(
            (F.try_parse_url(url, F.lit(p)) for p in ("AUTHORITY", "PATH", "QUERY", "REF")),
            ("_p_authority", "_p_path", "_p_query", "_p_ref"),
        )],
        [star, *_aliased(_from_authority(F.col("_p_authority"))[:2], ("_p_host", "_p_eport"))],
        [
            *map(F.col, keep),
            _parts(url, F.col("_p_scheme"), *map(F.col, parsed)).alias("_parts"),
            *exported,
        ],
    ]


def url_id(url: Column, id_extractor_pattern: str | None = None) -> Column:
    """U2: stable URL identity (URLHasher.java:31-42).

    Full-string match of ``id_extractor_pattern`` → its ``(?<id>…)`` group;
    otherwise md5 hex of the url. The pattern is anchored because Java's
    ``matches()`` is full-string while Spark's regexp_extract is find-based.
    """
    fallback = F.md5(url)
    if not id_extractor_pattern:
        return fallback
    grp = named_group_index(id_extractor_pattern, "id")
    extracted = F.regexp_extract(url, anchor(id_extractor_pattern), grp)
    return F.coalesce(F.nullif(extracted, F.lit("")), fallback)


def host_of(url: Column) -> Column:
    """Lowercased host (politeness/partition key)."""
    h = _from_authority(F.try_parse_url(F.trim(url), F.lit("AUTHORITY")))[0]
    return F.when(h == "", F.lit(None)).otherwise(h)


def part_of(host: Column, url_id_col: Column, partitions: int, salt: int) -> Column:
    """Explicit frontier partition [north-rule]: murmur3 host bucket with a
    per-url salt sub-split so one mega-host spreads across ``salt`` buckets
    while politeness still groups by ``host`` (SURVEY.md §4 skew row).

    ``F.hash`` is Spark's murmur3_x86_32 — the same function Iceberg's
    bucket transform family uses, so this column ports directly to a
    ``bucket(partitions, …)`` partition spec at cluster scale.
    """
    sub = F.pmod(F.hash(url_id_col), F.lit(salt))
    return F.pmod(F.hash(host, sub), F.lit(partitions))
