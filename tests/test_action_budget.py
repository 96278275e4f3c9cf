"""Driver-action budget audit (round-3 verdict, What's wrong #4 / item #6).

A ``queries()`` entry should build ONE distributed plan; scalar
pre-aggregates that `.collect()` before the main query re-scan the input
at every call — at 100 TB a 2x scan is 2x. The round-4 rewrites moved
every >=3-action offender in ``contract_mining`` to at most ONE internal
action (a single bounded collect of a grouped/calendar-bounded relation)
or to zero (scalars folded into the plan via broadcast one-row cross
joins). This test counts real driver actions by wrapping the classic
DataFrame's action methods and pins the budget so regressions surface.
"""

from __future__ import annotations

import pytest
from pyspark.sql.classic.dataframe import DataFrame as CDF

from osmgraft import contract
from tests.conftest import SF_SMOKE

# the 15 former >=3-action offenders (18 actions at worst), all rewritten
# round 4 to <=1 internal action — see each docstring's "Scale shape"
_REWRITTEN = [
    "hub_removal_robustness", "training_cartography",
    "partial_dependence_profile", "mcnemar_model_compare",
    "ljung_box_test", "bradley_terry_strengths", "haar_wavelet_energy",
    "energy_distance_2d", "newsvendor_stocking", "hodges_lehmann_location",
    "embedding_isotropy_audit", "qn_scale_estimator",
    "join_count_statistics", "hurst_rs_exponent", "bloom_fpr_audit",
]

# round-5 folds (round-4 verdict What's wrong #2): the calendar-range /
# split-day prefetches now ride broadcast one-row cross joins inside the
# single plan — ZERO internal actions
_FOLDED_R5 = [
    "policy_replay_eval", "metric_change_decomposition",
    "cuped_adjustment", "fdr_bh_audit", "footrule_rank_shift",
]

_ACTIONS = ("collect", "count", "take", "toPandas", "head", "first")


class _ActionCounter:
    def __init__(self) -> None:
        self.n = 0
        self._orig: dict[str, object] = {}

    def __enter__(self) -> "_ActionCounter":
        for m in _ACTIONS:
            if m in CDF.__dict__:
                orig = CDF.__dict__[m]
                self._orig[m] = orig

                def wrap(f):
                    def g(inner_self, *a, **k):
                        self.n += 1
                        return f(inner_self, *a, **k)

                    return g

                setattr(CDF, m, wrap(orig))
        return self

    def __exit__(self, *exc) -> None:
        for m, orig in self._orig.items():
            setattr(CDF, m, orig)


# import contract modules so the registry is fully populated
import __spark_entry__  # noqa: E402,F401


@pytest.mark.parametrize("name", _REWRITTEN)
def test_rewritten_queries_use_at_most_one_internal_action(spark, name):
    with _ActionCounter() as ctr:
        df = contract.QUERIES[name](spark, SF_SMOKE)
    assert ctr.n <= 1, (
        f"{name} ran {ctr.n} internal driver actions during plan "
        "construction; budget is 1 (one bounded collect)"
    )
    # the returned plan must still be a real distributed DataFrame
    assert df.columns


@pytest.mark.parametrize("name", _FOLDED_R5)
def test_r5_folded_queries_use_zero_internal_actions(spark, name):
    with _ActionCounter() as ctr:
        df = contract.QUERIES[name](spark, SF_SMOKE)
    assert ctr.n == 0, (
        f"{name} ran {ctr.n} internal driver actions; the calendar "
        "prefetch was folded into the plan round 5 — budget is 0"
    )
    assert df.columns


def test_frozen_threshold_staleness_single_train_collect(spark):
    """The d0 anchor is folded; the documented train-collect (`best`)
    remains the ONE internal action."""
    with _ActionCounter() as ctr:
        contract.QUERIES["frozen_threshold_staleness"](spark, SF_SMOKE)
    assert ctr.n <= 1


def test_no_mining_query_exceeds_two_internal_actions(spark):
    over: dict[str, int] = {}
    for name, fn in contract.QUERIES.items():
        if fn.__module__ != "osmgraft.contract_mining":
            continue
        with _ActionCounter() as ctr:
            fn(spark, SF_SMOKE)
        if ctr.n > 2:
            over[name] = ctr.n
    assert not over, f"internal action budget (2) exceeded: {over}"


def test_dbscan_point_clusters_takes_two_driver_actions(spark, monkeypatch):
    """The driver union-find path takes two bounded collects: one capped
    probe of the occupied core cells, which also picks the path, and the
    cell-edge collect."""
    monkeypatch.delenv("OSMGRAFT_DBSCAN_DRIVER_CC_MAX", raising=False)
    with _ActionCounter() as ctr:
        df = contract.QUERIES["dbscan_point_clusters"](spark, SF_SMOKE)
    assert ctr.n == 2, f"dbscan_point_clusters ran {ctr.n} driver actions"
    assert df.columns
