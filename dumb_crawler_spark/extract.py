"""L2/L3: link extraction from interleaved spans + span-order preservation
(SURVEY.md §2.7).

Reference behaviour (CrawlingTaskCallable.java:92-106): collect
``a[href]`` ∪ ``link[href]`` anchors, drop ``rel=nofollow`` (F4), resolve
relative hrefs against the page URL (Jsoup ``absUrl``), keep http(s), Set
dedup. Over the span model:

- text spans contribute hrefs embedded as ``<a href="…">`` / ``<link href="…">``
  tokens (corpus.py generates exactly this shape);
- media spans contribute their ``media_ref`` (an asset URL is a link);
- nofollow anchors (``<a href="…" rel="nofollow">``) are excluded by a
  negative lookahead in the extraction regex — F4 as part of L2;
- relative resolution implements the RFC-3986 cases the corpus emits
  (absolute / protocol-relative / root-relative / path-relative) as pure
  Column expressions.

Everything is higher-order array functions + regexp_extract_all — JVM-side,
zero Python, no explode/re-group shuffle (the per-page link array never
leaves its row until the frontier-merge flatten).

D1 determinism: the reference's Set dedup is unordered; spec keeps FIRST
occurrence order (array_distinct preserves first occurrence; oracle matches).

L3 invariant (BASELINE.json input_hint): stored pages preserve span-sequence
equality (kind, text, media_ref, order) — spans are ordered by ``offset`` and
never reordered afterwards; pytest asserts per-row equality vs the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# href="…" capture for <a>/<link>, skipping rel="nofollow" anchors (F4,
# CrawlingTaskCallable.java:95). Lookahead runs in the JVM regex engine.
_HREF_RE = r'<(?:a|link) href="([^"]+)"(?! rel="nofollow")'


_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://"
_ORIGIN_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+)"
_BASE_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+([^?#]*)"


def _base_dir(base_path: Column) -> Column:
    """origin-relative base directory: the path up to (and incl.) its last '/'."""
    return F.when(base_path == "", F.lit("/")).otherwise(F.regexp_replace(base_path, r"[^/]*$", ""))


def _resolve(scheme: Column, origin: Column, base_dir: Column, href: Column) -> Column:
    return (
        F.when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .otherwise(F.concat(origin, base_dir, href))
    )


def resolve_url(base: Column, href: Column) -> Column:
    """Relative → absolute resolution (Jsoup absUrl analog,
    CrawlingTaskCallable.java:97) as pure Column expressions.

    Cases: absolute (has scheme) · protocol-relative (//h/p) ·
    root-relative (/p) · path-relative (p, resolved against the base
    directory with query/fragment of the base dropped).
    """
    return _resolve(
        F.regexp_extract(base, _SCHEME_RE, 1),
        F.regexp_extract(base, _ORIGIN_RE, 1),
        _base_dir(F.regexp_extract(base, _BASE_PATH_RE, 1)),
        href,
    )


def _links(spans: Column, resolve) -> Column:
    per_span = F.transform(
        spans,
        lambda s: F.when(
            s["kind"] == "text",
            F.regexp_extract_all(s["text"], F.lit(_HREF_RE), F.lit(1)),
        )
        .when(s["kind"] == "media", F.array(s["media_ref"]))
        .otherwise(F.array().cast("array<string>")),
    )
    resolved = F.transform(F.flatten(per_span), resolve)
    return F.array_distinct(F.filter(resolved, lambda u: u.rlike(r"^https?://")))


def extract_links(spans: Column, base_url: Column) -> Column:
    """L2: array<string> of absolute http(s) links, first-occurrence dedup.

    text spans → regex href extraction; media spans → media_ref; preserves
    span order (anchors of span i come before span i+1), matching the
    reference's insertion-ordered traversal before its Set dedup.
    """
    return _links(spans, lambda h: resolve_url(base_url, h))


def base_parts_layers() -> list[list[Column]]:
    """Layer the base-URL pieces (scheme/origin/base-dir) as columns, one
    select per layer, so the per-link resolution lambda references cheap
    attributes instead of re-running three regexes per array ELEMENT
    (urlkit.py layered-kernel rationale: `transform` lambdas duplicate outer
    expressions per element). Every other column passes through."""
    star, url = F.col("*"), F.col("url")
    return [
        [
            star,
            F.regexp_extract(url, _SCHEME_RE, 1).alias("_b_scheme"),
            F.regexp_extract(url, _ORIGIN_RE, 1).alias("_b_origin"),
            F.regexp_extract(url, _BASE_PATH_RE, 1).alias("_b_path"),
        ],
        [star, _base_dir(F.col("_b_path")).alias("_b_dir")],
    ]


BASE_PART_COLS = ("_b_scheme", "_b_origin", "_b_path", "_b_dir")


def extract_links_with_base(spans: Column) -> Column:
    """extract_links over a DataFrame prepared by :func:`base_parts_layers` —
    identical output, ~6× fewer regex evaluations per link."""
    scheme, origin, base_dir = map(F.col, ("_b_scheme", "_b_origin", "_b_dir"))
    return _links(spans, lambda h: _resolve(scheme, origin, base_dir, h))


def order_spans(spans: Column) -> Column:
    """L3: canonical span order = ascending offset (ties keep input order is
    not required — offsets are unique per doc in the corpus; comparator sorts
    by offset only so struct-field order never leaks into the sort)."""
    return F.array_sort(
        spans,
        lambda l, r: F.when(l["offset"] < r["offset"], -1)
        .when(l["offset"] > r["offset"], 1)
        .otherwise(0),
    )
