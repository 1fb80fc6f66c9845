"""scripts/engine_conf_plans.py charges a plan change to a conf only when
the conf's plan differs from both plain sessions (pure Python, no JVM)."""

from scripts.engine_conf_plans import KINDS, _changed


def _run(final: str) -> dict:
    return {kind: {"joins": [final if kind == "final" else "BroadcastHashJoin"]} for kind in KINDS}


def test_a_conf_changes_a_plan_only_against_both_plain_sessions():
    left, right, sort = "BuildLeft", "BuildRight", "SortMergeJoin"
    runs = {
        # a build side that flips between the two plain sessions
        "base": {"flip": _run(left), "steady": _run(left)},
        "control": {"flip": _run(right), "steady": _run(left)},
        # the conf shows one of the plain sessions' plans for `flip`, and
        # a plan of its own for `steady`
        "conf": {"flip": _run(right), "steady": _run(sort)},
        "conf_same": {"flip": _run(left), "steady": _run(left)},
    }
    assert _changed(runs, "control")["final"] == ["flip"]
    assert _changed(runs, "conf")["final"] == ["steady"]
    assert _changed(runs, "conf_same")["final"] == []
    assert all(_changed(runs, v)["static"] == [] for v in ("control", "conf", "conf_same"))
