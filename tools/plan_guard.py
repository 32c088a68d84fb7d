"""Plan-fingerprint guard — automated plan hygiene for EVERY
registered query, not just the hand-pinned ones in test_plans.py.

For each query the guard records a small fingerprint of the ANALYZED
physical plan: counts of shuffle Exchanges, joins by strategy,
Windows, scans, python boundaries, plus the cartesian/loop-join red
flags.  The snapshot (PLAN_FINGERPRINTS.json) is committed;
tests/test_plan_guard.py fails when a query's plan REGRESSES against
it — more Exchanges, a broadcast join degrading to shuffle, a new
CartesianProduct — catching silent Catalyst-interaction regressions
that value-checking cannot see.

Usage:
  python tools/plan_guard.py            # refresh the snapshot
  python tools/plan_guard.py --check    # exit 1 on regressions
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SNAPSHOT = str(REPO / "PLAN_FINGERPRINTS.json")
SF_DIR = "/root/testdata/sf0.001"

#: operator classes counted per plan (formatted-mode detail headers)
COUNTED = [
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Window",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "TakeOrderedAndProject",
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "Scan parquet",
]

#: regressions worth failing on: fingerprint field -> reason
WORSE_IF_MORE = {
    "Exchange": "extra shuffle",
    "CartesianProduct": "cartesian product appeared",
    "BroadcastNestedLoopJoin": "nested-loop join appeared",
    "SortMergeJoin": "broadcast/shuffled-hash degraded to sort-merge",
    "BatchEvalPython": "row-at-a-time Python UDF appeared",
    "UnpartitionedWindow": "unpartitioned (SinglePartition) window appeared",
    "ComplexOutput": "Array/Map/Struct output column appeared",
}

#: Queries ALLOWED to return top-level Array/Map/Struct columns.
#: The correctness driver canonicalizes EVERY result (rows-only ones
#: included) with a pandas sort that CRASHES on unhashable cells —
#: round 6 shipped 4 driver-red queries this way (VERDICT r6 items
#: 1/3).  Registered queries must export collections in a scalar wire
#: form (CSV via concat_ws, or DECIMAL-cast CSV for floats — see
#: q_agg_summap); this whitelist exists only for a future query whose
#: complex output provably never reaches the driver.  Empty on
#: purpose.
COMPLEX_OUTPUT_OK: set[str] = set()

#: Queries ALLOWED to carry an unpartitioned window (VERDICT r5 item
#: 3).  A window with no PARTITION BY plans Exchange SinglePartition —
#: one task sorts the whole input — so every entry here must document
#: why that input is BOUNDED (already aggregated, or the documented
#: cross-engine oracle canon whose production twin is plan-tested).
#: Any query not listed here with UnpartitionedWindow > 0 is a HARD
#: --check failure even if the snapshot agrees.
UNPARTITIONED_WINDOW_CANON = {
    # documented oracle canon: global running sum IS the packing
    # spec; sharded production twin q_llm_pack_sharded is plan-tested
    # SinglePartition-free (tests/test_plans.py)
    "q_llm_pack",
    # global rank over the PER-USER aggregated table (users ≪ events);
    # the corpus-sized input never passes through the window — the
    # QUALIFY top-N is the statement's point (probe battery 6)
    "q_ch_sql_battery6b",
    # named-WINDOW rank/running-sum over the PER-EVENT-TYPE aggregate
    # (a handful of types ≪ events) — same bounded-aggregate shape;
    # the battery's point is the WINDOW w AS clause (probe battery 7)
    "q_ch_sql_battery7b",
    # cumulative window over a per-VALUE aggregated table (distinct
    # scores/values ≪ rows) — the q_llm_score_normalize technique;
    # the corpus-sized input never passes through the window
    "q_llm_score_normalize",
    "q_agg_ks_test",
    "q_agg_mannwhitney",
    # Spearman: midranks for each variable via cumulative windows over
    # that variable's distinct-value table (same aggregated-input
    # technique as q_agg_ks_test), broadcast-joined back to the facts
    "q_agg_spearman",
    # Kendall tau-b: strictly-below/above cumulative counts down the
    # value axis of the PIVOTED distinct-value table (8 bucket
    # columns) — aggregated input, corpus never enters the window
    "q_agg_kendall",
    # chi²/Cramér's V: row/col/grand totals as ORDER-LESS windows over
    # the ~nr×nc-cell contingency grid (one partial-aggregated shuffle
    # reduces the corpus first) — flagged only when the r7 detector
    # learned to see order-less unpartitioned specs; bounded input,
    # documented in the query docstring
    "q_agg_contingency",
}
# (A round-6 scan of every registered plan found unpartitioned window
# specs in exactly these queries — every other window in the registry
# is partitioned.)


def fingerprint(plan: str) -> dict[str, int]:
    ops = re.findall(r"^\(\d+\) ([A-Za-z ]+[A-Za-z])", plan, re.M)
    fp = {}
    for name in COUNTED:
        n = sum(
            1
            for o in ops
            if o == name or o.startswith(name + " ")
        )
        if name == "Exchange":
            # count only shuffle exchanges; broadcast counted separately
            n = sum(1 for o in ops if o == "Exchange")
        if n:
            fp[name] = n
    # Unpartitioned windows: a windowspecdefinition whose FIRST
    # argument is an ordering spec (expr ASC/DESC NULLS ...) has no
    # partition columns -> the Window's child is Exchange
    # SinglePartition.  Partitioned specs lead with bare partition
    # expressions instead.  (Counting specs, not Window operators: one
    # Window op can evaluate several specs; any unpartitioned spec
    # forces the single-partition distribution.)  The first argument
    # is extracted with a paren/bracket-aware scan, NOT `\S+` — an
    # ordering expression like `CAST(x AS BIGINT) ASC NULLS FIRST`
    # contains spaces and a `\S+` match would silently miss it
    # (ADVICE r6 guard false negative).
    # An order-less unpartitioned spec (Window.partitionBy() with no
    # orderBy — whole-table totals) leads with the frame spec itself;
    # it forces the same Exchange SinglePartition and must be counted
    # too (review r7: the ordering-only regex gave it a free pass).
    # The ordering-spec match is deliberately NOT $-anchored: plan
    # text renders string literals unquoted, so an expression like
    # split(s, "(", 2) unbalances the depth scan and the extracted
    # first arg can carry trailing junk past the ASC/DESC — an
    # anchored regex would then silently miss the spec.  Unanchored,
    # an overrun still matches (a loud false positive to adjudicate
    # beats a silent false negative); clean partition-led specs never
    # contain 'ASC/DESC NULLS' in their first argument.
    n_unpart = sum(
        1
        for first in _windowspec_first_args(plan)
        if re.search(r"\b(?:ASC|DESC) NULLS (?:FIRST|LAST)", first)
        or first.startswith("specifiedwindowframe(")
    )
    if n_unpart:
        fp["UnpartitionedWindow"] = n_unpart
    return fp


def _windowspec_first_args(plan: str):
    """Yield the first top-level argument of every
    ``windowspecdefinition(...)`` in the plan text, honouring nested
    parens/brackets so multi-word expressions survive intact."""
    marker = "windowspecdefinition("
    start = 0
    while True:
        i = plan.find(marker, start)
        if i < 0:
            return
        j = i + len(marker)
        depth = 0
        k = j
        while k < len(plan):
            c = plan[k]
            if c in "([":
                depth += 1
            elif c in ")]":
                if depth == 0:
                    break  # single-arg spec: `)` ends the first arg
                depth -= 1
            elif c == "," and depth == 0:
                break
            k += 1
        yield plan[j:k].strip()
        start = j


def collect() -> dict[str, dict[str, int]]:
    from clickhub_spark.plans import all_specs
    from clickhub_spark.session import get_spark

    spark = get_spark("plan-guard", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out = {}
    for name, spec in sorted(all_specs().items()):
        try:
            df = spec.builder(spark, SF_DIR)
            fp = fingerprint(df._jdf.queryExecution().explainString(mode))
            n_complex = complex_output_count(df.schema)
            if n_complex:
                fp["ComplexOutput"] = n_complex
            out[name] = fp
        except Exception as e:  # a builder that cannot plan is itself a finding
            out[name] = {"__error__": 1, "__msg__": str(e)[:120]}
    return out


def complex_output_count(schema) -> int:
    """Count top-level Array/Map/Struct output columns — cells the
    correctness driver's pandas canonicalizer cannot sort (round-6
    driver-red class; VERDICT r6 item 3)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return sum(
        1
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    )


def compare(old: dict, new: dict) -> list[str]:
    problems = []
    for name, fp_new in new.items():
        fp_old = old.get(name)
        # hard floor, snapshot-independent: an unpartitioned window is
        # only legal on the documented-canon list, even for a brand-new
        # query or one whose snapshot already carried it
        if (
            fp_new.get("UnpartitionedWindow", 0) > 0
            and name not in UNPARTITIONED_WINDOW_CANON
        ):
            problems.append(
                f"{name}: unpartitioned window (Exchange SinglePartition sort) "
                f"not in UNPARTITIONED_WINDOW_CANON — partition it or document "
                f"why its input is bounded"
            )
        # hard floor, snapshot-independent: complex output columns
        # crash the driver's pandas canonicalizer even for rows-only
        # queries — export a scalar wire form (CSV) instead
        if fp_new.get("ComplexOutput", 0) > 0 and name not in COMPLEX_OUTPUT_OK:
            problems.append(
                f"{name}: {fp_new['ComplexOutput']} Array/Map/Struct output "
                f"column(s) — the driver canon crashes on array cells; "
                f"export a scalar CSV wire form (see q_agg_summap)"
            )
        if fp_old is None:
            continue  # new query: no baseline yet
        if "__error__" in fp_new and "__error__" not in fp_old:
            problems.append(f"{name}: builder now fails to plan")
            continue
        for field, reason in WORSE_IF_MORE.items():
            if fp_new.get(field, 0) > fp_old.get(field, 0):
                problems.append(
                    f"{name}: {reason} ({field} "
                    f"{fp_old.get(field, 0)} -> {fp_new.get(field, 0)})"
                )
    return problems


def main() -> int:
    new = collect()
    if "--check" in sys.argv:
        with open(SNAPSHOT) as f:
            old = json.load(f)
        problems = compare(old, new)
        for p in problems:
            print("REGRESSION:", p)
        print(f"{len(new)} plans checked, {len(problems)} regressions")
        return 1 if problems else 0
    with open(SNAPSHOT, "w") as f:
        json.dump(new, f, indent=1, sort_keys=True)
    n_err = sum(1 for fp in new.values() if "__error__" in fp)
    print(f"snapshot: {len(new)} plans -> {SNAPSHOT} ({n_err} plan errors)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
