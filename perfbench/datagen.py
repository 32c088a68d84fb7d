"""Inputs of the benchmark workloads.  Nothing is read from outside the
checkout; the same seed gives byte-identical files
(``python3 perfbench/datagen.py`` verifies that).

- ``llm-sf0.1`` reads the engine's sf0.1 test tables, copied unchanged
  under ``perfbench/data/sf0.1`` (``SF01``); the seed only orders the
  queries.
- ``write_app_inputs``: per-repo commits TSVs in the
  ``tests/fixtures/commits.tsv`` layout (headerless, positional c1..c13,
  with in-batch duplicate keys), extended re-import versions that
  overlap the previous version, and parquet event files to land for the
  streaming freshness loop, all drawn from the seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: ``catalog.TESTDATA_TABLES``
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_EPOCH = dt.datetime(1970, 1, 1)

#: the engine's sf0.1 test tables, copied unchanged into the benchmark
SF01 = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_AUTHORS = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi"]


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _events(rng, first_id: int, n: int, n_users: int) -> pa.Table:
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, n_users, n)),
            "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


# -- app-ingest inputs ------------------------------------------------------


def repo_name(i: int) -> str:
    return f"org{i % 7}/repo{i:04d}"


def _commit_rows(rng, n: int, t0: int, t1: int, first_msg: int) -> list[tuple]:
    hashes = [rng.bytes(20).hex() for _ in range(n)]
    times = np.sort(rng.integers(t0, t1, n))
    metrics = rng.integers(0, 51, (n, 9))
    authors = rng.integers(0, len(_AUTHORS), n)
    return [
        (hashes[j], _AUTHORS[authors[j]], int(times[j]), f"commit message {first_msg + j}", metrics[j])
        for j in range(n)
    ]


def _with_duplicates(rng, rows: list[tuple], share: float) -> list[tuple]:
    """Append re-emitted keys (same hash and time, other metrics): the
    in-batch duplicates the FINAL view must absorb."""
    k = max(1, int(len(rows) * share))
    picks = rng.choice(len(rows), k, replace=False)
    metrics = rng.integers(0, 51, (k, 9))
    return rows + [(*rows[j][:4], m) for j, m in zip(picks, metrics)]


def _tsv(rows: list[tuple]) -> str:
    when = np.datetime_as_string(np.array([r[2] for r in rows], dtype="datetime64[s]"))
    return "".join(
        f"{r[0]}\t{r[1]}\t{w[:10]} {w[11:]}\t{r[3]}\t" + "\t".join(map(str, r[4])) + "\n"
        for r, w in zip(rows, when)
    )


def write_app_inputs(
    out_dir: str,
    seed: int,
    n_repos: int,
    n_extended: int,
    n_versions: int,
    n_event_files: int,
    rows_per_repo: int = 2_000,
    rows_per_event_file: int = 2_000,
) -> dict:
    """Write ``tsv/<i>.v<k>.tsv`` for each repo — version 0, plus
    ``n_versions - 1`` extensions for the first ``n_extended`` repos —
    and ``events/part-<k>.parquet`` landing files.  Returns the
    expected FINAL key count and max commit time (epoch seconds) per
    repo and version, and the ``view`` events per user in each landing
    file."""
    tsv_dir = os.path.join(out_dir, "tsv")
    ev_dir = os.path.join(out_dir, "events")
    os.makedirs(tsv_dir, exist_ok=True)
    os.makedirs(ev_dir, exist_ok=True)
    year = (_us(dt.datetime(2023, 1, 1)) // 10**6, _us(dt.datetime(2024, 1, 1)) // 10**6)
    expected: dict[str, list[tuple[int, int]]] = {}
    for i in range(n_repos):
        rng = np.random.default_rng([seed, 2, i])
        base = _commit_rows(rng, rows_per_repo, *year, 0)
        keys = {(r[0], r[2]) for r in base}
        rows = _with_duplicates(rng, base, 0.01)
        versions = []
        for v in range(n_versions if i < n_extended else 1):
            if v:
                # an extension: every earlier row again (the overlap the
                # high-water mark cuts) plus newer commits, some of them
                # emitted twice within the batch
                last = max(r[2] for r in rows)
                new = _commit_rows(rng, rows_per_repo // 10, last + 1, last + 86_400 * 30, len(rows))
                keys |= {(r[0], r[2]) for r in new}
                rows = rows + _with_duplicates(rng, new, 0.05)
            versions.append((len(keys), max(r[2] for r in rows)))
            with open(os.path.join(tsv_dir, f"{i:04d}.v{v}.tsv"), "w") as f:
                f.write(_tsv(rows))
        expected[repo_name(i)] = versions
    views: list[dict[int, int]] = []
    rng = np.random.default_rng([seed, 3])
    for k in range(n_event_files):
        t = _events(rng, k * rows_per_event_file, rows_per_event_file, n_users=200)
        _write(t, os.path.join(ev_dir, f"part-{k:04d}.parquet"))
        users = np.asarray(t.column("user_id"))
        is_view = np.asarray(t.column("event_type").cast(pa.string())) == "view"
        uniq, counts = np.unique(users[is_view], return_counts=True)
        views.append(dict(zip(uniq.tolist(), counts.tolist())))
    return {"versions": expected, "views": views}


def _check() -> int:
    """Generate the app inputs twice with one seed and once with another;
    the first two must be byte-identical and differ from the third."""
    import hashlib
    import shutil
    import tempfile

    def digest(d: str) -> str:
        h = hashlib.sha256()
        for root, dirs, files in os.walk(d):
            dirs.sort()
            for f in sorted(files):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
        return h.hexdigest()

    work = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_work")
    os.makedirs(work, exist_ok=True)
    base = tempfile.mkdtemp(dir=work, prefix="datagen-")
    try:
        out = []
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(base, tag)
            write_app_inputs(d, seed, 3, 1, 2, 2)
            out.append(digest(d))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    ok = out[0] == out[1] != out[2]
    print("datagen deterministic:", ok)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(_check())
