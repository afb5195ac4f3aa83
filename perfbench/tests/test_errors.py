"""Failures are counted, never fatal: an op that raises and an output check
that fails both raise error_rate, and the run goes on."""

from perfbench import checks
from perfbench.workloads import Ctx


def _ctx():
    return Ctx(spark=None, seed=1, seconds=1.0, work="unused")


def _boom():
    raise RuntimeError("op failed")


def test_failed_check_counts_the_ops_it_covers_and_run_continues():
    ctx = _ctx()
    for _ in range(4):
        ctx.timed("search", lambda: None)
    wrong = [(1, 3.0), (2, 2.0)]
    right = [(2, 3.0), (1, 2.0)]
    ctx.check("search top-k vs oracle", checks.same_ranking(wrong, right, 2, 1e-9), ctx.n("search"))
    ctx.timed("search", lambda: None)  # still running
    assert (ctx.attempted, ctx.failed) == (5, 4)
    assert ctx.failed / ctx.attempted == 0.8
    assert any("search top-k" in e for e in ctx.errors)


def test_raising_op_is_counted_and_not_sampled():
    ctx = _ctx()
    assert ctx.timed("lookup", _boom) is None
    assert ctx.timed("lookup", lambda: None) is not None
    assert (ctx.attempted, ctx.failed, ctx.n("lookup")) == (2, 1, 1)
    assert "RuntimeError" in ctx.errors[0]


def test_passing_check_changes_nothing():
    ctx = _ctx()
    ctx.timed("op", lambda: None)
    ctx.check("fine", True, 1)
    assert (ctx.attempted, ctx.failed, ctx.errors) == (1, 0, [])


def test_failed_check_with_nothing_timed_still_counts():
    ctx = _ctx()
    ctx.check("no samples", False, 0)
    assert ctx.failed == 1


def test_same_ranking_tolerates_only_near_ties():
    exp = [(7, 1.0), (3, 1.0 + 1e-13), (5, 0.5), (9, 0.25)]
    assert checks.same_ranking([(3, 1.0), (7, 1.0), (5, 0.5)], exp, 3, 1e-9)
    assert not checks.same_ranking([(7, 1.0), (5, 0.5), (3, 1.0)], exp, 3, 1e-9)
    assert not checks.same_ranking([(7, 1.0), (3, 1.0)], exp, 3, 1e-9)  # short
    assert not checks.same_ranking([(7, 1.1), (3, 1.0), (5, 0.5)], exp, 3, 1e-9)  # score
    # a near-tie may straddle the cut
    assert checks.same_ranking([(3, 1.0)], exp, 1, 1e-9)
