"""Scale scenarios: evidence that each operator family keeps its plan
shape, its answers and its cost curve far past the testdata sizes.

Usage::

    python tools/scale                       # list every scenario
    python tools/scale <scenario> [sizes…]   # run one, print one JSON line

A scenario is a function ``fn(run, *sizes)`` in one of the family
modules next to this file, listed in that module's ``SCENARIOS`` with
the keyword arguments of its tiny Tier-1 run
(tests/test_scale_scenarios.py).  Its positional parameters are the
command line's sizes; keyword-only ones keep their defaults there.  It returns its JSON dict and records
two kinds of verdict on ``run``: correctness checks (closed-form counts
and checksums, recall floors, exactly-once) and timing gates (scaling
ratios, meaningful only at full size).  The harness owns everything
else: the session (``get_spark``, which honours ``SPARK_GRAFT_CPUS``),
a fresh temporary directory that is also the working directory, timing,
replication with key offsets, and the sf-directory writer that lets
registered builders run on synthetic tables.  It exits nonzero when any
check or gate is false.  Nothing is written under the repo; archive a
run with ``> FILE.json``.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import sys
import tempfile
import textwrap
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]
FAMILIES = ("storage", "streaming", "analytics", "llm", "service")


class Run:
    """What a scenario gets from the harness: the session, a temporary
    directory, helpers, and the ledger of its checks and gates."""

    def __init__(self, tmp: str, spark=None):
        self.tmp = tmp
        self._spark = spark
        self.checks: dict[str, bool] = {}
        self.gates: dict[str, bool] = {}

    @property
    def spark(self):
        """The engine session, created on first use (the coordination
        scenarios never start one).  Touch it before building any
        Column: pyspark needs an active context for those."""
        if self._spark is None:
            from clickhub_spark.session import get_spark

            self._spark = get_spark("scale")
            self._spark.sparkContext.setLogLevel("ERROR")
        return self._spark

    def check(self, name: str, ok) -> bool:
        """Record a correctness check; returns it as a bool."""
        self.checks[name] = bool(ok)
        return self.checks[name]

    def gate(self, name: str, ok) -> bool:
        """Record a timing gate; returns it as a bool."""
        self.gates[name] = bool(ok)
        return self.gates[name]

    def path(self, *parts: str) -> str:
        return str(Path(self.tmp, *parts))

    @staticmethod
    def timed(fn, ndigits: int = 3):
        """``(seconds, fn())``."""
        t0 = time.perf_counter()
        value = fn()
        return round(time.perf_counter() - t0, ndigits), value

    @staticmethod
    def fingerprint(df) -> dict:
        """Nonzero tools/plan_guard.py fingerprint fields of ``df``'s
        plan as submitted (before AQE re-plans it)."""
        from tools.plan_guard import fingerprint

        mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        fp = fingerprint(df._jdf.queryExecution().explainString(mode))
        return {k: v for k, v in fp.items() if v}

    @staticmethod
    def partitions(rows: int, full_rows: int, full_parts: int) -> int:
        """``full_parts`` at ``full_rows`` rows and above, proportionally
        fewer (at least one) below: a tiny run does not pay per-task
        overhead for a layout sized for the full one."""
        return max(1, min(full_parts, full_parts * rows // full_rows))

    def replicate(self, df, n: int, name: str, **offsets):
        """Write ``n`` copies of ``df`` as parquet under ``name`` and read
        them back, so scans hit disk and no replication plan leaks into
        a measured one.  Copy ``i`` adds ``i * offset`` to each column
        named in ``offsets``; an offset may also be a function of the
        copy-index column returning the amount to add."""
        from pyspark.sql import functions as F

        rep = F.col("__rep")
        cols = [
            F.col(c)
            if c not in offsets
            else (
                F.col(c)
                + (offsets[c](rep) if callable(offsets[c]) else rep * offsets[c])
            ).alias(c)
            for c in df.columns
        ]
        path = self.path(name)
        df.crossJoin(self.spark.range(n).withColumnRenamed("id", "__rep")).select(
            *cols
        ).write.parquet(path)
        return self.spark.read.parquet(path)

    def write_sf(self, **tables) -> str:
        """Write each DataFrame as ``<name>.parquet`` into a fresh sf
        directory and return it, for registered builders that take
        ``(spark, sf_dir)``."""
        sf = tempfile.mkdtemp(prefix="sf_", dir=self.tmp)
        for name, df in tables.items():
            df.write.parquet(f"{sf}/{name}.parquet")
        return sf


def scenarios() -> dict:
    """``{name: (function, tiny_kwargs)}`` over every family module."""
    out = {}
    for fam in FAMILIES:
        mod = importlib.import_module(f"tools.scale.{fam}")
        out.update((fn.__name__, (fn, tiny)) for fn, tiny in mod.SCENARIOS.items())
    return out


def sizes(fn) -> list[inspect.Parameter]:
    """The positional sizes a scenario takes after ``run``."""
    return [
        p
        for p in list(inspect.signature(fn).parameters.values())[1:]
        if p.kind is p.POSITIONAL_OR_KEYWORD
    ]


def main(argv: list[str]) -> int:
    table = scenarios()
    if not argv or argv[0] not in table:
        if argv:
            print(f"unknown scenario {argv[0]!r}", file=sys.stderr)
        for name, (fn, _) in table.items():
            params = " ".join(f"[{p.name}={p.default}]" for p in sizes(fn))
            doc = " ".join(fn.__doc__.split("\n\n")[0].split())
            print(f"{name} {params}\n    {textwrap.shorten(doc, 100)}")
        return 2 if argv else 0
    fn, _ = table[argv[0]]
    params = sizes(fn)
    if len(argv) - 1 > len(params):
        print(f"{argv[0]} takes at most {len(params)} sizes", file=sys.stderr)
        return 2
    args = [
        int(a) if isinstance(p.default, int) else os.path.abspath(a)
        for p, a in zip(params, argv[1:])
    ]
    # Spark's Python workers start in the session's working directory,
    # so they find clickhub_spark only through PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")]))
    with tempfile.TemporaryDirectory(prefix=f"scale_{argv[0]}_") as tmp:
        # managed tables (spark-warehouse) land here, not in the caller's cwd
        os.chdir(tmp)
        run = Run(tmp)
        out = fn(run, *args)
        os.chdir(REPO)
    print(json.dumps(out, default=str))
    failed = [name for name, ok in {**run.checks, **run.gates}.items() if not ok]
    if failed:
        print(f"failed: {', '.join(failed)}", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.path.insert(0, str(REPO))
    sys.exit(main(sys.argv[1:]))
