"""Query plan builders, one ``queries_<fam>.py`` module per name family.

A query named ``q_<fam>_…`` lives in ``queries_<fam>.py`` when that
module exists and in ``queries_core.py`` otherwise; helpers used by more
than one family live in ``queries_core.py``.  Importing this package
imports every ``queries_*`` module, which registers its queries into
``clickhub_spark.plans.registry``.

External harnesses verify only a prefix (~50 names) of the registered
queries each round; ``registry.driver_order`` derives that order from
the committed ``CORRECTNESS_r*.json`` driver artifacts (changed queries
first, then oldest driver row first) and falls back to registration
order (module name, then definition order) without them.
``SPARK_GRAFT_QUERY_ORDER`` overrides ad hoc.
"""

import importlib
import pkgutil

for _mod in pkgutil.iter_modules(__path__):
    if _mod.name.startswith("queries_"):
        importlib.import_module(f"{__name__}.{_mod.name}")

from clickhub_spark.plans.registry import all_specs  # noqa: E402,F401
