"""build_artifact atomic-publish contract: a crashed build must never
be mistaken for a finished artifact, and a successful retry must
produce correct results."""

import os

import pytest

from clickhub_spark.artifacts import build_artifact, derived_artifact_path
from clickhub_spark.catalog import load
from clickhub_spark.plans import all_specs

from tests.conftest import SF_DIR


def test_build_artifact_crash_then_retry(spark):
    import uuid

    src = load(spark, SF_DIR, "region")
    tag = f"atomic_test_{uuid.uuid4().hex[:8]}"  # fresh per run: the
    # warehouse persists across sessions and a published artifact from
    # a previous run would short-circuit the crash path
    expected = derived_artifact_path(src, tag)
    calls = {"n": 0}

    def crashing_writer(build: str) -> None:
        calls["n"] += 1
        # simulate a crash AFTER partial output exists
        os.makedirs(build, exist_ok=True)
        with open(os.path.join(build, "part-00000.parquet"), "w") as f:
            f.write("partial garbage")
        raise RuntimeError("simulated mid-build crash")

    with pytest.raises(RuntimeError):
        build_artifact(src, tag, crashing_writer)
    # the half-built directory must NOT have been published
    assert not os.path.isdir(expected)

    def good_writer(build: str) -> None:
        calls["n"] += 1
        src.write.mode("overwrite").parquet(build)

    path = build_artifact(src, tag, good_writer)
    assert path == expected and os.path.isdir(path)
    assert spark.read.parquet(path).count() == src.count()

    # third call: cached — the writer must not run again
    before = calls["n"]
    assert build_artifact(src, tag, good_writer) == expected
    assert calls["n"] == before


@pytest.mark.parametrize(
    "name, table, tag, module, writer, path_arg, partial",
    [
        # what a killed driver leaves: Spark creates each output
        # directory (with _temporary/) as soon as the write job starts
        ("q_llm_knn_ivf", "embeddings", "ivf16", "knn", "build_ivf_index", 1, "data/_temporary/0"),
        ("q_llm_knn_pq", "embeddings", "pq16x32", "knn", "build_pq_index", 1, "codes/_temporary/0"),
        ("q_llm_dedup_incremental", "documents", "minhash_store", "dedup", "write_minhash_store", 3, "_temporary/0"),
        # killed after the vocab table committed, before unigrams
        ("q_llm_perplexity_store", "documents", "lm_store", "lm", "write_lm_store", 1, "vocab"),
    ],
)
def test_query_artifact_crash_then_retry(
    spark, tmp_path, monkeypatch, name, table, tag, module, writer, path_arg, partial
):
    """A query whose build-once artifact crashed mid-write rebuilds it
    on the next call and returns the rows of an uncrashed build.  The
    input is a copy of the testdata, so the artifact key is fresh."""
    import importlib
    import shutil

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{SF_DIR}/{table}.parquet", sf / f"{table}.parquet")
    builder = all_specs()[name].builder
    expected = sorted(builder(spark, SF_DIR).collect())

    mod = importlib.import_module(f"clickhub_spark.operators.{module}")

    def crashing_writer(*args, **kwargs):
        os.makedirs(os.path.join(args[path_arg], partial))
        raise RuntimeError("simulated driver kill mid-write")

    with monkeypatch.context() as m:
        m.setattr(mod, writer, crashing_writer)
        with pytest.raises(RuntimeError):
            builder(spark, str(sf))

    published = derived_artifact_path(load(spark, str(sf), table), tag)
    try:
        assert sorted(builder(spark, str(sf)).collect()) == expected
        assert os.path.isdir(published)
    finally:
        shutil.rmtree(published, ignore_errors=True)
