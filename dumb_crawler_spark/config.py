"""Job configuration (SURVEY.md §2.1-S1, §2.3-U8, FIXTURES.md §4).

Mirrors the reference's dynamic-JSON config with dotted-path lookup and
defaults (reference CrawlingSessionContext.java:117-140, JsonUtil.java:43-51),
re-expressed as a validated frozen dataclass that the driver broadcasts to
executors implicitly via closure capture (it is tiny and picklable).

North-rule additions beyond the reference config surface
(reference README.md:13-47): ``politeness`` (per-host dequeue budget +
crawl-delay), ``partitions``/``salt`` (explicit host-bucket partitioning for
the 10^10-row design point).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

_PERIOD_RE = re.compile(r"^\s*(\d+)\s*(ms|s|m|h|d)\s*$", re.IGNORECASE)
_PERIOD_MS = {"ms": 1, "s": 1_000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}


def parse_period_ms(period: str) -> int:
    """U8: '5m' / '2h' / '30s' style duration → milliseconds.

    Same surface as the reference's period parser (Misc.java:41-69): integer
    magnitude + single unit suffix; invalid input raises ValueError.
    """
    m = _PERIOD_RE.match(period)
    if not m:
        raise ValueError(f"invalid period: {period!r}")
    return int(m.group(1)) * _PERIOD_MS[m.group(2).lower()]


@dataclass(frozen=True)
class Politeness:
    """North-rule politeness knobs (no reference counterpart).

    ``budget_per_host_per_round=None`` disables the per-host window and makes
    the dequeue exactly the reference's global top-K (URLStore.java:185-190),
    which is what the reference-parity golden tests use.
    """

    budget_per_host_per_round: int | None = None
    crawl_delay_default_ms: int = 0
    respect_robots: bool = False


@dataclass(frozen=True)
class CrawlConfig:
    """Validated config; key names mirror reference README.md:13-47."""

    seeds: tuple[str, ...] = ()
    id_extractor_pattern: str | None = None  # URLHasher.java:20-28; needs (?<id>…)
    max_attempt_count: int = 5  # CrawlingSessionContext.java:109-111
    thread_count: int = 3  # parallelism hint only (CrawlingSessionContext.java:105-107)
    tagger: dict[str, str] = field(default_factory=dict)  # tag → expression (UrlTagger.java:26-38)
    whitelist: tuple[str, ...] = ()
    blacklist: tuple[str, ...] = ()
    allow_by_default: bool = False  # LinkFilter.java:53-58
    priorities: dict[str, int] = field(default_factory=dict)  # LinkPrioritizer.java:27-31
    validation_selectors: dict[str, str] = field(default_factory=dict)  # ContentValidator.java:23-27
    proxify: tuple[str, ...] = ()  # ContentRenderer.java:31-52 ('all' or tag names)
    storage_included_tags: tuple[str, ...] = ()  # AbstractStorageManager.java:22-35; empty = store nothing
    task_killer_timeout_ms: int = parse_period_ms("10m")  # TaskKiller.java:18-23
    max_rounds: int | None = None  # sandbox bound; None = run to empty frontier
    politeness: Politeness = field(default_factory=Politeness)
    # Explicit partitioning for the 10^10-URL design point [north-rule]:
    # frontier partition = murmur3(host, salt-mixed) % partitions. At sandbox
    # scale (local[32]) 32 buckets; at 1000-executor scale this becomes the
    # Iceberg bucket(N, part) spec — see storage.py.
    partitions: int = 32
    salt: int = 7  # hot-host sub-splits within a part (skew defuse, SURVEY §4)
    seed: int = 42  # determinism for synthetic corpora

    def __post_init__(self) -> None:
        if self.id_extractor_pattern is not None and "?<id>" not in self.id_extractor_pattern:
            # same validation as reference URLHasher.initialize (URLHasher.java:25-27)
            raise ValueError("idExtractorPattern must contain '?<id>'")
        if "other" in self.tagger:
            # 'other' is reserved (UrlTagger.java:34-37) — strip, like the reference
            object.__setattr__(self, "tagger", {k: v for k, v in self.tagger.items() if k != "other"})


def load_config(path: str | Path) -> CrawlConfig:
    """S1: read config.json (reference CrawlingSessionContext.java:133-140)."""
    raw: dict[str, Any] = json.loads(Path(path).read_text())
    lf = raw.get("linkFilter", {})
    storage = raw.get("storage", {})
    pol = raw.get("politeness", {})
    tk = raw.get("taskKiller", {})
    return CrawlConfig(
        seeds=tuple(raw.get("seeds", [])),
        id_extractor_pattern=raw.get("idExtractorPattern"),
        max_attempt_count=int(raw.get("maxAttemptCount", 5)),
        thread_count=int(raw.get("threadCount", 3)),
        tagger=dict(raw.get("tagger", {})),
        whitelist=tuple(lf.get("whitelist", [])),
        blacklist=tuple(lf.get("blacklist", [])),
        allow_by_default=bool(lf.get("allowByDefault", False)),
        priorities={k: int(v) for k, v in raw.get("priorities", {}).items()},
        validation_selectors=dict(raw.get("validationSelectors", {})),
        proxify=tuple(raw.get("renderer", {}).get("proxify", [])),
        storage_included_tags=tuple(storage.get("includedTags", [])),
        task_killer_timeout_ms=parse_period_ms(tk.get("timeout", "10m")),
        max_rounds=raw.get("maxRounds"),
        politeness=Politeness(
            budget_per_host_per_round=pol.get("budget_per_host_per_round"),
            crawl_delay_default_ms=int(pol.get("crawl_delay_default_ms", 0)),
            respect_robots=bool(pol.get("respect_robots", False)),
        ),
        partitions=int(raw.get("partitions", 32)),
        salt=int(raw.get("salt", 7)),
        seed=int(raw.get("seed", 42)),
    )
