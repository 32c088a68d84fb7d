"""Scale scenarios; ``python tools/scale`` runs them (see __main__.py)."""

from pathlib import Path

from tools.plan_guard import SF_DIR as TINY_SF

REPO = Path(__file__).resolve().parents[2]
#: full-size input of the scenarios that grow the testdata: the sf0.1
#: set next to the sf0.001 one (TINY_SF) that the plan snapshot uses
SF01 = str(Path(TINY_SF).with_name("sf0.1"))
