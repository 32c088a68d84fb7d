"""Every scale scenario (``python tools/scale``) at its tiny size on the
shared session: its correctness checks hold, and a scenario with a
committed full-size artifact (``<SCENARIO>_r<N>.json`` in the repo
root) still emits the newest artifact's top-level keys.  Timing gates
are recorded but not asserted at this size."""

import importlib
import json
import subprocess
import sys

import pytest

from tests.conftest import REPO_ROOT

harness = importlib.import_module("tools.scale.__main__")
SCENARIOS = harness.scenarios()


def _newest_artifact(name: str):
    found = sorted(
        REPO_ROOT.glob(f"{name.upper()}_r*.json"),
        key=lambda p: int(p.stem.rsplit("_r", 1)[1]),
    )
    return found[-1] if found else None


@pytest.mark.parametrize("name", list(SCENARIOS))
def test_scenario_at_tiny_size(spark, tmp_path, name):
    fn, tiny = SCENARIOS[name]
    run = harness.Run(str(tmp_path), spark)
    out = fn(run, **tiny)
    assert {k: ok for k, ok in run.checks.items() if not ok} == {}
    json.dumps(out)
    artifact = _newest_artifact(name)
    if artifact is not None:
        assert set(out) == set(json.loads(artifact.read_text())), artifact.name


def test_cli_lists_every_scenario():
    listing = subprocess.run(
        [sys.executable, "tools/scale"], cwd=REPO_ROOT, capture_output=True, text=True, check=True
    ).stdout
    listed = {line.split()[0] for line in listing.splitlines() if line and not line[0].isspace()}
    assert listed == set(SCENARIOS)


def test_no_hard_coded_checkout_path():
    """Code that runs from any checkout must not name this one."""
    checkout = str(REPO_ROOT)
    files = [
        *REPO_ROOT.joinpath("clickhub_spark").rglob("*.py"),
        *REPO_ROOT.joinpath("tools").rglob("*.py"),
        REPO_ROOT / "bench.py",
        REPO_ROOT / "__spark_entry__.py",
    ]
    assert [str(p.relative_to(REPO_ROOT)) for p in files if checkout in p.read_text()] == []
