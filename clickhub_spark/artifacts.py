"""Build-once derived artifacts (ANN indexes, signature and model
stores, projections): deterministic locations keyed on the source
DataFrame's input files + mtimes + its normalized logical plan + a
tag, so the same data AND the same transformations reuse the
artifact, while regenerated data or a filtered/projected variant of
the same files triggers a rebuild (a files-only key would silently
serve an index built from different row content).  In-memory frames
(tests) get a throwaway temp location.

One publish-and-prune rule, in ``build_artifact``: an artifact is
written into ``<path>.__build``, published by one rename, and every
publish then drops the oldest siblings under its tag beyond the
newest eight.  A directory at the artifact path is therefore always
a finished artifact, and nothing else decides whether one exists."""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame


def _plan_fingerprint(df: DataFrame) -> bytes:
    """Analyzed-plan text with per-session expression ids (#123)
    stripped, so the same logical pipeline fingerprints identically
    across sessions and different pipelines over the same files do
    not collide."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return re.sub(r"#\d+", "#", plan).encode()


def derived_artifact_path(df: DataFrame, tag: str) -> str:
    files = sorted(df.inputFiles())
    if not files:
        return tempfile.mkdtemp(prefix=f"clickhub_{tag}_") + "/artifact"
    sig = hashlib.md5()
    for f in files:
        local = f.removeprefix("file:")
        try:
            st = os.stat(local)
            sig.update(f"{f}:{st.st_mtime_ns}:{st.st_size};".encode())
        except OSError:
            sig.update(f.encode())
    sig.update(_plan_fingerprint(df))
    sig.update(tag.encode())
    base = df.sparkSession.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    return os.path.join(base, tag, sig.hexdigest())


def prune_stale(artifact_path: str, keep: int = 8) -> int:
    """Drop the oldest sibling artifacts beyond ``keep``: every
    regenerated source dataset mints a new key, so long-lived
    deployments would otherwise accumulate orphaned indexes/stores.
    ``build_artifact`` runs it after each publish, so the just-built
    artifact is always retained (it is the newest).  Returns the
    number removed."""
    parent = os.path.dirname(artifact_path)
    if not os.path.isdir(parent):
        return 0
    siblings = sorted(
        (os.path.join(parent, d) for d in os.listdir(parent)),
        key=lambda p: os.path.getmtime(p),
        reverse=True,
    )
    removed = 0
    for stale in siblings[keep:]:
        shutil.rmtree(stale, ignore_errors=True)
        removed += 1
    return removed


def build_artifact(df: DataFrame, tag: str, writer) -> str:
    """Fingerprint-cached build-once artifact with an ATOMIC publish:
    if the derived path for (df, tag) doesn't exist yet, ``writer``
    materializes into ``<path>.__build``, the finished directory is
    renamed into place and stale siblings are pruned.  A crash
    mid-build leaves only the build dir — never a partial artifact
    that the existence check would treat as complete — which is the
    same publish protocol the incremental writer uses.  Returns the
    artifact path.

    ``writer(build_path)`` must write the artifact directory at
    ``build_path``.
    """
    path = derived_artifact_path(df, tag)
    if not os.path.isdir(path):
        build = f"{path}.__build"
        if os.path.isdir(build):
            # leftover from a crashed earlier build — a retry writer
            # must see a clean slate regardless of its write mode
            shutil.rmtree(build)
        writer(build)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        os.rename(build, path)
        prune_stale(path)
    return path
