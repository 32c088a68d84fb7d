"""Query registry — single source of truth binding each operator's
Spark builder to its DuckDB oracle SQL, so ``queries()`` and
``oracle_sql()`` in ``__spark_entry__.py`` can never drift apart.

Conventions (driver contract, __spark_entry__.py docstring):
- builder signature: ``(spark, sf_dir) -> DataFrame``
- every computed/aggregate column aliased identically on both sides;
- derived floats rounded (2-6 dp) on BOTH sides, because Spark's
  partial aggregation and DuckDB's sequential fold can differ in the
  last ulp;
- DuckDB integer sums cast to BIGINT (DuckDB widens to HUGEINT,
  Spark keeps LongType);
- top-k queries order by a key-complete sort (unique tiebreaker) so
  both engines select the same row SET.
"""

from __future__ import annotations

import functools
import json
import os
import re
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

# External correctness harnesses verify only a prefix (~50 names) of
# ``queries()`` each round and record it as CORRECTNESS_r<N>.json in
# the repo root.  The order is derived from those files:
# - a CHANGED name leads while its latest driver row is older than the
#   round it maps to (the entry clears itself once that row lands);
# - every other name follows, oldest latest driver row first (never
#   checked counts as oldest), name-sorted within a round;
# - with no artifacts (a fresh clone), registration order.
# SPARK_GRAFT_QUERY_ORDER=comma,separated,names overrides ad hoc.
REPO_ROOT = Path(__file__).resolve().parents[2]
CHANGED: dict[str, int] = {"q_dedup_replacing": 18}

_ARTIFACT = re.compile(r"CORRECTNESS_r(\d+)\.json")


def load_rounds(root: Path = REPO_ROOT) -> dict[int, dict[str, dict]]:
    """Driver rows per round from ``root/CORRECTNESS_r<N>.json``.  A file
    that is not a JSON object of per-query row objects raises
    ValueError naming it, rather than silently reordering the window."""
    rounds: dict[int, dict[str, dict]] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = _ARTIFACT.fullmatch(p.name)
        try:
            rows = json.loads(p.read_text())
        except ValueError as exc:  # JSONDecodeError is a ValueError
            raise ValueError(f"malformed driver artifact {p}: {exc}") from exc
        if not m or not isinstance(rows, dict) or not all(
            isinstance(r, dict) for r in rows.values()
        ):
            raise ValueError(
                f"malformed driver artifact {p}: expected CORRECTNESS_r<round>.json "
                "holding an object of per-query row objects"
            )
        rounds[int(m.group(1))] = rows
    return rounds


def latest_rows(rounds: Mapping[int, Mapping[str, dict]]) -> dict[str, tuple[int, dict]]:
    """Each query's most recent driver row: name -> (round, row)."""
    latest: dict[str, tuple[int, dict]] = {}
    for rnd in sorted(rounds):
        for name, row in rounds[rnd].items():
            latest[name] = (rnd, row)
    return latest


def driver_order(
    names: Iterable[str],
    root: Path = REPO_ROOT,
    changed: Mapping[str, int] = CHANGED,
) -> list[str]:
    """``names`` in driver-window order, derived from the artifacts under
    ``root`` by the rule in the comment above."""
    names = list(names)
    latest = {n: rnd for n, (rnd, _) in latest_rows(load_rounds(root)).items()}
    if not latest:
        return names
    registered = set(names)
    front = [n for n, rnd in changed.items() if n in registered and latest.get(n, 0) < rnd]
    rest = sorted(registered.difference(front), key=lambda n: (latest.get(n, 0), n))
    return front + rest


@functools.cache
def _repo_order(names: tuple[str, ...]) -> tuple[str, ...]:
    return tuple(driver_order(names))


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


def query(name: str, oracle: str | None = None) -> Callable[[Builder], Builder]:
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """All registered QuerySpecs (importing plan modules populates this)
    in driver-window order — see driver_order / SPARK_GRAFT_QUERY_ORDER."""
    from clickhub_spark import plans  # noqa: F401  (triggers module imports)

    env = os.environ.get("SPARK_GRAFT_QUERY_ORDER")
    if env:
        priority = [n.strip() for n in env.split(",")]
    else:
        priority = _repo_order(tuple(_REGISTRY))
    out = {n: _REGISTRY[n] for n in priority if n in _REGISTRY}
    out.update((n, s) for n, s in _REGISTRY.items() if n not in out)
    return out
