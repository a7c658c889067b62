"""Single-threaded golden oracle (SURVEY.md §5).

The reference ships no tests (its sole test is a Spring context smoke check,
WebCrawlerApplicationTests.java:7-13), so correctness for the Spark engine is
defined by this ~300-line pure-Python crawler implementing exactly the
semantics catalogued in SURVEY.md §2 with determinism rules D1-D3:

- D1: tag order = config-key order; in-batch dedup keeps (max priority, min url)
- D2: dequeue total order = (priority DESC, attempt ASC, url_id ASC)
- D3: logical time = round numbers

It shares the expression grammar with the engine via
``expressions.PythonEvaluator`` (same AST, second backend) and mirrors the
URL kernel (canonicalize/url_id/host) and link extraction function-for-
function. Golden outputs (FIXTURES.md §6): per-round dequeue order, final
seen-set, status histogram, counters, stored pages.

This module never touches Spark and never runs on executors — it exists so
pytest can diff the distributed engine against an implementation simple
enough to be obviously correct.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from dataclasses import dataclass, field

from .config import CrawlConfig
from .expressions import PythonEvaluator
from .urlkit import RESOURCE_EXTENSIONS  # noqa: F401  (re-export for tests)

QUEUED, PROCESSING, PROCESSED, FAILED = 0, 1, 2, 3

_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://")
_AUTH_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)")
_HREF_RE = re.compile(r'<(?:a|link) href="([^"]+)"(?! rel="nofollow")')


# -- URL kernel mirror (urlkit.py) -------------------------------------------

def canonicalize(url: str) -> str:
    u = url.strip()
    m = _SCHEME_RE.match(u)
    scheme = m.group(1).lower() if m else ""
    if scheme not in ("http", "https"):
        return u
    no_frag = re.sub(r"#.*$", "", u)
    am = _AUTH_RE.match(no_frag)
    authority = am.group(1) if am else ""
    userinfo_m = re.match(r"^([^@]*@)", authority)
    userinfo = userinfo_m.group(1) if userinfo_m else ""
    host_m = re.match(r"^(?:[^@]*@)?([^:]+)", authority)
    host = host_m.group(1).lower() if host_m else ""
    if not host:
        return u
    port_m = re.search(r":(\d+)$", authority)
    explicit_port = port_m.group(1) if port_m else ""
    default_port = "443" if scheme == "https" else "80"
    port_part = "" if explicit_port in ("", default_port) else f":{explicit_port}"
    rest = no_frag[len(scheme) + 3 + len(authority):]
    path_m = re.match(r"^([^?#]*)", rest)
    path = path_m.group(1) or "/"
    qpos = rest.find("?")
    query = rest[qpos + 1:] if qpos >= 0 else None
    query_part = "" if not query else "?" + "&".join(sorted(query.split("&")))
    return f"{scheme}://{userinfo}{host}{port_part}{path}{query_part}"


def url_parts(url: str) -> dict:
    m = _SCHEME_RE.match(url)
    scheme = m.group(1).lower() if m else ""
    if scheme not in ("http", "https"):
        return {"url": url, "protocol": None, "host": None, "path": None,
                "port": None, "query": None, "fragment": None, "contentType": None}
    no_frag, frag = (url.split("#", 1) + [None])[:2]
    am = _AUTH_RE.match(no_frag)
    authority = am.group(1) if am else ""
    host_m = re.match(r"^(?:[^@]*@)?([^:]+)", authority)
    host = host_m.group(1).lower() if host_m else None
    port_m = re.search(r":(\d+)$", authority)
    port = int(port_m.group(1)) if port_m else (443 if scheme == "https" else 80)
    rest = no_frag[len(scheme) + 3 + len(authority):]
    path = re.match(r"^([^?#]*)", rest).group(1) or "/"
    qpos = rest.find("?")
    query = rest[qpos + 1:] if qpos >= 0 else None
    return {"url": url, "protocol": scheme, "host": host, "path": path,
            "port": port, "query": query, "fragment": frag, "contentType": None}


def url_id(url: str, pattern: str | None) -> str:
    if pattern:
        py_pat = re.sub(r"\(\?<([A-Za-z][A-Za-z0-9]*)>", r"(?P<\1>", pattern)
        m = re.fullmatch(py_pat, url)
        if m and m.group("id"):
            return m.group("id")
    return hashlib.md5(url.encode("utf-8")).hexdigest()


def host_of(url: str) -> str | None:
    return url_parts(url)["host"]


def resolve_url(base: str, href: str) -> str:
    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", href):
        return href
    scheme_m = _SCHEME_RE.match(base)
    scheme = scheme_m.group(1) if scheme_m else ""
    origin_m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+)", base)
    origin = origin_m.group(1) if origin_m else ""
    if href.startswith("//"):
        return f"{scheme}:{href}"
    if href.startswith("/"):
        return origin + href
    path_m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+([^?#]*)", base)
    base_path = path_m.group(1) if path_m else ""
    base_dir = "/" if base_path == "" else re.sub(r"[^/]*$", "", base_path)
    return origin + base_dir + href


def extract_links(spans: list[dict], base_url: str) -> list[str]:
    raw: list[str] = []
    for s in spans:
        if s["kind"] == "text" and s.get("text"):
            raw.extend(_HREF_RE.findall(s["text"]))
        elif s["kind"] == "media" and s.get("media_ref"):
            raw.append(s["media_ref"])
    resolved = [resolve_url(base_url, h) for h in raw]
    http = [u for u in resolved if re.match(r"^https?://", u)]
    out, seen = [], set()
    for u in http:
        if u not in seen:
            seen.add(u)
            out.append(u)
    return out


# -- tagging / filtering mirror (tagging.py, filters.py) ----------------------

class Kernel:
    """Compiled config: tag evaluators in config-key order (D1)."""

    def __init__(self, cfg: CrawlConfig):
        self.cfg = cfg
        self.taggers = [
            (tag, PythonEvaluator(expr)) for tag, expr in cfg.tagger.items() if tag != "other"
        ]

    def tag(self, url: str) -> list[str]:
        v = url_parts(url)
        if v["protocol"] is None:
            return ["other"]  # unparseable ⇒ all expressions false (URLExpressionEvaluator.java:33-38)
        tags = [t for t, ev in self.taggers if ev.evaluate_bool(v)]
        return tags or ["other"]

    def priority(self, tags: list[str]) -> int:
        if not tags:
            return 0
        return max(self.cfg.priorities.get(t, 0) for t in tags) if self.cfg.priorities else 0

    def filter_verdict(self, tags: list[str]) -> str:
        for t in tags:
            if t in self.cfg.blacklist:
                return "reject"
            if t in self.cfg.whitelist:
                return "accept"
        return "pending"

    def allowed(self, url: str, tags: list[str]) -> bool:
        if not url.startswith("http"):
            return False
        v = self.filter_verdict(tags)
        return v == "accept" or (v == "pending" and self.cfg.allow_by_default)


@dataclass
class Entry:
    url_id: str
    url: str
    host: str | None
    tags: list[str]
    status: int
    priority: int
    attempt: int
    depth: int
    created_round: int
    taken_round: int | None = None
    completed_round: int | None = None
    error: str | None = None


@dataclass
class OracleResult:
    dequeue_order: list[tuple[int, int, str]] = field(default_factory=list)  # (round, seq, url_id)
    frontier: dict[str, Entry] = field(default_factory=dict)
    counters: Counter = field(default_factory=Counter)
    pages: list[dict] = field(default_factory=list)  # url_id,url,round,spans
    rounds_run: int = 0

    def seen_set(self) -> set[str]:
        return set(self.frontier)

    def status_hist(self) -> dict[int, int]:
        h: Counter = Counter(e.status for e in self.frontier.values())
        return dict(h)


class OracleCrawler:
    """Batch-round crawl identical to crawler.py's plan, in plain Python."""

    def __init__(
        self,
        cfg: CrawlConfig,
        docs: dict[str, list[dict]],
        host_budgets: dict[str, int] | None = None,
    ):
        self.cfg = cfg
        self.kernel = Kernel(cfg)
        self.docs = docs
        self.host_budgets = host_budgets or {}  # robots crawl-delay budgets
        self.r = OracleResult()

    # -- frontier ops ---------------------------------------------------------
    def _candidates(self, urls: list[str], seeds: bool) -> list[Entry]:
        cands = []
        for raw in urls:
            u = canonicalize(raw)
            tags = self.kernel.tag(u)
            prio = self.kernel.priority(tags)
            if seeds:
                tags = ["seed"] + tags
            cands.append(
                Entry(url_id=url_id(u, self.cfg.id_extractor_pattern), url=u,
                      host=host_of(u), tags=tags, status=QUEUED, priority=prio,
                      attempt=0, depth=0, created_round=0)
            )
        return cands

    def _merge(self, cands: list[Entry], round_no: int, depth: int) -> None:
        http = [c for c in cands if c.url.startswith("http")]
        self.r.counters["IGNORED_URLS"] += len(cands) - len(http)
        best: dict[str, Entry] = {}
        for c in http:  # D1 dedup: max priority, then min url
            cur = best.get(c.url_id)
            if cur is None or (c.priority, _neg(c.url)) > (cur.priority, _neg(cur.url)):
                best[c.url_id] = c
        new = [c for cid, c in best.items() if cid not in self.r.frontier]
        for c in new:
            c.created_round = round_no
            c.depth = depth
            self.r.frontier[c.url_id] = c
        self.r.counters["DISCOVERED_URLS"] += len(new)

    def _dequeue(self, round_no: int) -> list[Entry]:
        elig = [
            e for e in self.r.frontier.values()
            if e.status == QUEUED and e.attempt < self.cfg.max_attempt_count
        ]
        out = capped_topk(
            elig, self._round_k(), self.cfg.politeness.budget_per_host_per_round,
            self.host_budgets,
        )
        for seq, e in enumerate(out):
            e.status = PROCESSING
            e.taken_round = round_no
            self.r.dequeue_order.append((round_no, seq, e.url_id))
        return out

    def _round_k(self) -> int | None:
        # reference backpressure (DumbCrawler.java:266-274) ≈ 2×pool per loop;
        # batch engine uses an explicit per-round k = thread_count * 2
        return self.cfg.thread_count * 2

    # -- one round --------------------------------------------------------------
    def run_round(self, round_no: int) -> int:
        dq = self._dequeue(round_no)
        if not dq:
            return 0
        executed = []
        for e in dq:  # T4 re-tag + re-filter
            fresh = self.kernel.tag(e.url)
            v = self.kernel.filter_verdict(fresh)
            allowed = e.url.startswith("http") and (
                v == "accept" or (v == "pending" and self.cfg.allow_by_default)
            )
            self.r.counters["ALLOWED_LINKS" if allowed else "IGNORED_LINKS"] += 1
            if allowed:
                executed.append((e, fresh))
            # disallowed rows leak as PROCESSING, like the reference
        round_candidates: list[str] = []
        for e, fresh in executed:
            spans = self.docs.get(e.url_id)
            error = None
            if spans is None:
                error = "INVALID_STATUS_CODE_404"
            elif len(spans) == 0:
                error = "EMPTY_RESPONSE_BODY"
            else:
                for t in fresh:  # F5, first failing tag in tag order
                    sel = self.cfg.validation_selectors.get(t)
                    if sel is not None and not any(
                        s["kind"] == "text" and s.get("text") and re.search(sel, s["text"])
                        for s in spans
                    ):
                        error = f"CONTENT_VALIDATION_ERROR_{t}"
                        break
            if error is None:
                links = extract_links(spans, e.url)
                # A4 warn metrics (DumbCrawler.java:108-110, CrawlingTaskCallable.java:54-56)
                if not links:
                    self.r.counters["WARN_EMPTY_LINKS"] += 1
                if len(links) > 300:
                    self.r.counters["WARN_TOO_MANY_LINKS"] += 1
                # link-ingest: tag → score → F2 filter → merge (§3.2)
                cands = []
                for link in links:
                    cu = canonicalize(link)
                    tags = self.kernel.tag(cu)
                    ok = self.kernel.allowed(cu, tags)
                    self.r.counters["ALLOWED_LINKS" if ok else "IGNORED_LINKS"] += 1
                    if ok:
                        round_candidates.append(cu)
                # F3 storage gate
                if any(t in self.cfg.storage_included_tags for t in fresh):
                    self.r.pages.append(
                        {"url_id": e.url_id, "url": e.url, "round": round_no,
                         "spans": sorted(spans, key=lambda s: s["offset"])}
                    )
                    self.r.counters["SAVED_PAGES"] += 1
                    self.r.counters["NEW_SAVED_PAGES"] += 1
                else:
                    self.r.counters["UNSAVED_PAGES"] += 1
                self.r.counters["PROCESSED_URLS"] += 1
                e.status = PROCESSED
            else:
                self.r.counters[f"ERROR_{error}"] += 1
                e.status = FAILED
                e.error = error
            e.tags = fresh
            e.attempt += 1
            e.completed_round = round_no
            if e.attempt >= self.cfg.max_attempt_count:
                self.r.counters["MAX_ATTEMPT_COUNT_REACHED"] += 1
        # one merge per round, like the engine's set-based plan; depth =
        # round of first sight (FIXTURES.md §3)
        self._merge(self._link_candidates(round_candidates), round_no, round_no)
        return len(dq)

    def _link_candidates(self, urls: list[str]) -> list[Entry]:
        cands = []
        for u in urls:  # already canonical
            tags = self.kernel.tag(u)
            cands.append(
                Entry(url_id=url_id(u, self.cfg.id_extractor_pattern), url=u,
                      host=host_of(u), tags=tags, status=QUEUED,
                      priority=self.kernel.priority(tags), attempt=0, depth=0,
                      created_round=0)
            )
        return cands

    def run(self, max_rounds: int | None = None) -> OracleResult:
        self._merge(self._candidates(list(self.cfg.seeds), seeds=True), 0, 0)
        rnd = 0
        limit = max_rounds if max_rounds is not None else self.cfg.max_rounds
        while limit is None or rnd < limit:
            rnd += 1
            if self.run_round(rnd) == 0:
                break
        self.r.rounds_run = rnd
        return self.r


def capped_topk(elig: list, k: int | None, budget: int | None, host_budgets: dict) -> list:
    """Sort, then cap: the eligible rows in D2 order (priority DESC, attempt
    ASC, url_id ASC), each host keeping its first ``cap`` rows, cut at k. A
    host's cap is ``host_budgets.get(host, budget)``, never above ``budget``;
    None means uncapped. Rows need priority/attempt/url_id/host attributes
    (oracle entries or Spark Rows)."""
    used: Counter = Counter()
    out = []
    for e in sorted(elig, key=lambda e: (-e.priority, e.attempt, e.url_id)):
        cap = host_budgets.get(e.host, budget)
        if budget is not None:
            cap = min(cap, budget)
        if cap is None or used[e.host] < cap:
            used[e.host] += 1
            out.append(e)
    return out if k is None else out[:k]


def _neg(s: str) -> tuple:
    """Order-reversal helper so 'min url' can live inside a max comparison."""
    return tuple(-ord(c) for c in s)
