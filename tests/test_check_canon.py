"""Regression tests for the local gate's driver-canon parity
(VERDICT r6 item 2): the round-6 driver hard-failed 4 queries whose
output carried raw array columns — pandas ``sort_values`` factorizes
object columns and ``TypeError: unhashable type: 'list'``s on list
cells — while tools/check.py's old ``str(v)`` canon passed them.
These tests pin that the gate's ``driver_canon_probe`` now fails
EXACTLY where the driver fails (list / dict / ndarray cells) and
stays quiet on every scalar shape the registry legitimately emits.
"""

import datetime
import sys

import numpy as np
import pytest

from tests.conftest import REPO_ROOT

sys.path.insert(0, str(REPO_ROOT / "tools"))

from check import driver_canon_probe  # noqa: E402


def test_list_column_crashes_like_the_driver():
    # the q_agg_summap shape that went driver-red in round 6
    rows = [(1, ["click", "view"], [1.5, 2.0]), (2, ["view"], [0.5])]
    with pytest.raises(TypeError, match="unhashable"):
        driver_canon_probe(["user_id", "k", "v"], rows)


def test_dict_and_ndarray_cells_crash_too():
    with pytest.raises(TypeError):
        driver_canon_probe(["a", "m"], [(1, {"x": 1}), (2, {"y": 2})])
    with pytest.raises((TypeError, ValueError)):
        driver_canon_probe(["a", "v"], [(1, np.array([1.0])), (2, np.array([2.0]))])


def test_scalar_shapes_pass():
    rows = [
        (1, "a", 1.5, None, datetime.date(2024, 1, 2), True),
        (2, "b", float("nan"), "x", datetime.date(2024, 1, 3), False),
        (3, None, -0.0, "y", None, None),
    ]
    driver_canon_probe(["i", "s", "f", "o", "d", "b"], rows)


def test_empty_result_passes():
    driver_canon_probe(["a", "b"], [])


def test_single_row_with_list_still_crashes():
    # len(df)==1 still sorts in the driver; the probe must not
    # short-circuit on tiny frames
    with pytest.raises(TypeError):
        driver_canon_probe(["a", "arr"], [(1, [1, 2, 3])])


def test_single_column_list_result_crashes():
    """Review r7: a ONE-column result with list cells took pandas'
    argsort path and slipped past the probe while the driver's hash
    step still rejects it — the appended probe column forces the
    factorize path for any column count."""
    with pytest.raises(TypeError):
        driver_canon_probe(["arr"], [([1, 2],), ([3],)])
