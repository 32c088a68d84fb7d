"""Registry + driver-contract sanity."""

import json

import pytest

import __spark_entry__ as entrymod
from clickhub_spark.plans import all_specs

from tests.conftest import SF_DIR


def test_every_query_has_builder_and_doc():
    specs = all_specs()
    assert len(specs) >= 40
    for name, spec in specs.items():
        assert name.startswith("q_")
        assert callable(spec.builder)
        assert spec.doc, f"{name} lacks a docstring"


def test_oracle_map_is_subset_of_queries():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every oracle-less query is one of the documented engine-internal ops
    rows_only = set(qs) - set(oracles)
    assert rows_only == {
        "q_agg_approx_distinct",
        "q_llm_dedup_minhash",
        "q_llm_simhash",
        "q_llm_knn_lsh",
        "q_agg_approx_quantile",
        "q_llm_knn_ivf",
        "q_agg_uniq_state",
        "q_llm_knn_pq",
        # eigendecomposition has no DuckDB oracle; pinned by
        # tests/test_pca.py (≡ numpy fit + invariants)
        "q_llm_pca",
        # iterative IRLS fit is not one SQL statement; pinned by
        # tests/test_glm.py (≡ numpy IRLS to 1e-8 + invariants)
        "q_llm_logreg_fit",
        # q_llm_bpe_train and q_agg_lttb_exact moved to value-oracled
        # in r13: recursive-CTE DuckDB transcriptions of the merge
        # loop / greedy recurrence (VERDICT r12 item 4)
    }


def test_round_priority_front_loads_window(monkeypatch):
    """Driver windows verify a prefix: all_specs() must follow the
    derived driver order, SPARK_GRAFT_QUERY_ORDER must override, and
    neither may drop or duplicate a registration."""
    from clickhub_spark.plans import registry

    names = list(all_specs())
    assert names == registry.driver_order(registry._REGISTRY)
    assert len(names) == len(set(names)) == len(registry._REGISTRY)

    monkeypatch.setenv("SPARK_GRAFT_QUERY_ORDER", "q_agg_count,q_join_inner")
    override = list(all_specs())
    assert override[:2] == ["q_agg_count", "q_join_inner"]
    assert sorted(override) == sorted(names)


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_column_names_match_oracle_aliases(spark):
    """Driver compares columns sorted by name — builders must not leak
    unaliased aggregate names like sum(l_quantity)."""
    for name, spec in all_specs().items():
        df = spec.builder(spark, SF_DIR)
        for c in df.columns:
            assert "(" not in c, f"{name} has unaliased column {c}"


WINDOW = 50
MAX_AGE = 7


def _window_staleness(order, registered, latest, next_round):
    """Names that would sit more than MAX_AGE rounds behind ``next_round``
    once the driver checks the first WINDOW names of ``order``."""
    window = set(order[:WINDOW])
    stale = []
    for name in registered:
        simulated = next_round if name in window else latest.get(name)
        if simulated is None:
            stale.append(f"{name}: never driver-checked and not in window")
        elif next_round - simulated > MAX_AGE:
            stale.append(
                f"{name}: would be {next_round - simulated} rounds stale "
                f"(last row r{simulated})"
            )
    return stale


def test_round_priority_rotation_bounds_staleness():
    """The driver verifies only the first 50 names of queries() each
    round.  Simulating the upcoming driver run over the derived order,
    no registered query may end up more than MAX_AGE rounds behind the
    newest CORRECTNESS file, and any never-checked query must sit
    inside the window.  MAX_AGE is 7: 341 names over a 50-name window
    revisit each name every 7 rounds."""
    from clickhub_spark.plans.registry import latest_rows, load_rounds

    rounds = load_rounds()
    if not rounds:
        return  # fresh clone without driver artifacts: nothing to gate
    latest = {name: rnd for name, (rnd, _) in latest_rows(rounds).items()}
    registered = list(entrymod.queries())
    order = list(all_specs())
    assert sorted(set(order)) == sorted(registered) and len(order) == len(registered), (
        "the driver order must cover the registry exactly once"
    )
    stale = _window_staleness(order, registered, latest, max(rounds) + 1)
    assert not stale, "driver window leaves stale queries:\n" + "\n".join(stale)


def _write_round(root, rnd, names):
    row = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps({n: row for n in names}))


def test_driver_order_forward_simulation_bounds_staleness(tmp_path):
    """Feed each round's derived 50-name window back in as that round's
    driver artifact for 12 rounds, starting from the committed history:
    the order must keep every registered query within MAX_AGE rounds
    without anyone editing it.  (A static list drifts one round staler
    per round.)"""
    from clickhub_spark.plans.registry import _REGISTRY, driver_order, latest_rows, load_rounds

    registered = list(_REGISTRY)
    history = load_rounds()
    if not history:
        pytest.skip("fresh clone without driver artifacts: no history to extend")
    for rnd, rows in history.items():
        _write_round(tmp_path, rnd, rows)
    for _ in range(12):
        rounds = load_rounds(tmp_path)
        latest = {name: rnd for name, (rnd, _) in latest_rows(rounds).items()}
        next_round = max(rounds) + 1
        order = driver_order(registered, tmp_path)
        assert sorted(order) == sorted(registered)
        stale = _window_staleness(order, registered, latest, next_round)
        assert not stale, f"r{next_round}:\n" + "\n".join(stale)
        _write_round(tmp_path, next_round, order[:WINDOW])


def test_driver_order_changed_entry_self_clears(tmp_path):
    """A CHANGED name leads until a driver row at its round exists, then
    drops back to its oldest-first slot."""
    from clickhub_spark.plans.registry import driver_order

    names = ["q_e", "q_d", "q_c", "q_b", "q_a"]
    _write_round(tmp_path, 1, ["q_a", "q_b", "q_c", "q_d", "q_e"])
    _write_round(tmp_path, 2, ["q_b", "q_c"])
    changed = {"q_c": 3}
    assert driver_order(names, tmp_path, changed) == ["q_c", "q_a", "q_d", "q_e", "q_b"]
    _write_round(tmp_path, 3, ["q_a", "q_c"])
    assert driver_order(names, tmp_path, changed) == ["q_d", "q_e", "q_b", "q_a", "q_c"]
    # a registered name with no driver row yet counts as oldest
    assert driver_order(["q_new", *names], tmp_path, changed)[0] == "q_new"


def test_driver_order_without_artifacts_is_registration_order(tmp_path):
    from clickhub_spark.plans.registry import _REGISTRY, driver_order

    assert driver_order(_REGISTRY, tmp_path) == list(_REGISTRY)
    assert driver_order(["q_b", "q_a"], tmp_path, {"q_a": 1}) == ["q_b", "q_a"]


@pytest.mark.parametrize("body", ["{", "[]", '{"q_a": 1}'])
def test_malformed_driver_artifact_names_the_file(tmp_path, body):
    from clickhub_spark.plans.registry import driver_order

    _write_round(tmp_path, 1, ["q_a"])
    (tmp_path / "CORRECTNESS_r02.json").write_text(body)
    with pytest.raises(ValueError, match="CORRECTNESS_r02.json"):
        driver_order(["q_a"], tmp_path)
