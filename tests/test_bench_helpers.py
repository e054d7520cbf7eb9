"""Unit tests for the bench.py measurement helpers.

The bench artifact is the contract evidence for the BASELINE.json scaling
criterion, so the pure arithmetic under it (clean-rep selection, level
merging for the salvage pass, pair efficiency) and the values the bench
derives from the box (the scaling pair and its CPUs, the budget planner,
the query order, the environment it reads) are pinned here. No Spark
session needed — these are plain-Python helpers.
"""

import ast
import os
import time

import pytest

import __spark_entry__ as entrymod
import bench


def _burst(walls, ext_busy=0.0, pin_steal=0.0, calib=0.5, calib_pre=None,
           calib_post=None):
    if calib_pre is not None or calib_post is not None:
        calib_pre = calib if calib_pre is None else calib_pre
        calib_post = calib if calib_post is None else calib_post
        calib = max(calib_pre, calib_post)
    else:
        calib_pre = calib_post = calib
    return {
        "walls": list(walls),
        "ext_busy": ext_busy,
        "pin_steal": pin_steal,
        "calib": calib,
        "calib_pre": calib_pre,
        "calib_post": calib_post,
    }


def _level(cores, bursts, elapsed=100.0):
    best_cal = min(
        min(b["calib_pre"], b["calib_post"] or b["calib_pre"]) for b in bursts
    )
    for b in bursts:
        b["valid"] = (
            b["ext_busy"] <= bench.EXT_BUSY_MAX
            and b["pin_steal"] <= bench.STEAL_MAX
            and b["calib"] <= best_cal * bench.CALIB_TOL
        )
    valid = [w for b in bursts if b["valid"] for w in b["walls"]]
    walls = [w for b in bursts for w in b["walls"]]
    basis = valid if len(valid) >= 2 else walls
    return {
        "cores": cores,
        "walls": basis,
        "all_walls": walls,
        "min_wall": min(basis),
        "bursts": bursts,
        "level_elapsed_s": elapsed,
        "level_budget_s": 600,
        **bench._converged(valid),
    }


class TestMinClean:
    def test_prefers_steal_clean_reps(self):
        # the dirty rep is faster but was stolen — must be excluded
        assert bench.min_clean([5.0, 9.0, 8.5], [0.5, 0.0, 0.01]) == 8.5

    def test_falls_back_to_all_when_no_clean_rep(self):
        assert bench.min_clean([5.0, 6.0], [0.5, 0.6]) == 5.0


class TestMergeLevels:
    def test_merge_adds_samples_and_tightens_min(self):
        l1 = _level(8, [_burst([10.0, 10.5])])
        l2 = _level(8, [_burst([9.8, 10.1])], elapsed=80.0)
        m = bench._merge_levels(l1, l2)
        assert m["min_wall"] == 9.8
        assert m["merged"] is True
        assert len(m["bursts"]) == 2
        assert sorted(m["all_walls"]) == [9.8, 10.0, 10.1, 10.5]
        assert m["level_elapsed_s"] == 180.0

    def test_merge_converges_union_that_neither_half_did(self):
        # each half has one valid burst with a single wall -> <2 valid
        # walls -> not converged alone; the union has 2 agreeing walls
        l1 = _level(8, [_burst([10.0])])
        l2 = _level(8, [_burst([10.2])])
        assert not l1["converged"] and not l2["converged"]
        m = bench._merge_levels(l1, l2)
        assert m["converged"] is True

    def test_merge_excludes_contended_bursts(self):
        l1 = _level(8, [_burst([10.0, 10.3])])
        noisy = _level(8, [_burst([30.0], ext_busy=0.9, pin_steal=0.2)])
        m = bench._merge_levels(l1, noisy)
        assert m["min_wall"] == 10.0
        assert [b["valid"] for b in m["bursts"]] == [True, False]
        # contended walls stay visible in the evidence, just not the basis
        assert 30.0 in m["all_walls"] and 30.0 not in m["walls"]

    def test_merge_recomputes_calib_validity_over_union(self):
        # l1's burst was the best climate seen in ITS run so it was valid;
        # l2 finds a much quieter window, so the union must invalidate l1
        l1 = _level(8, [_burst([13.0, 13.2], calib=0.80)])
        l2 = _level(8, [_burst([10.0, 10.1], calib=0.50)])
        m = bench._merge_levels(l1, l2)
        assert [b["valid"] for b in m["bursts"]] == [False, True]
        assert m["min_wall"] == 10.0
        assert m["converged"] is True


class TestConverged:
    def test_median_route(self):
        c = bench._converged([10.0, 10.2])
        assert c["converged"] and c["converged_median"]
        assert not bench._converged([10.0, 12.0])["converged"]
        assert not bench._converged([10.0])["converged"]

    def test_floor_route_survives_inflated_median(self):
        # the observed 16c pattern: a reproduced floor + undetectable
        # neighbor episodes inflating half the walls -> median route
        # fails, floor route (two best within AGREE_TOL/2, >=4 walls)
        # converges
        walls = [25.38, 25.77, 30.64, 32.50]
        c = bench._converged(walls)
        assert not c["converged_median"]
        assert c["converged_floor"] and c["converged"]
        # 3 walls are not enough evidence for the floor route (and here
        # the median — the middle wall — disagrees with the min)
        assert not bench._converged([25.38, 30.64, 32.50])["converged"]
        # nor is a non-reproduced floor (gap > AGREE_TOL/2)
        assert not bench._converged([25.0, 26.5, 30.0, 32.0])["converged"]

    def test_post_burst_calibration_invalidates_midburst_noise(self):
        # burst 2's walls are slow with a clean PRE calibration — only the
        # POST bracket (the next idle window's sample) sees the episode;
        # its walls must leave the basis
        clean = _burst([10.0, 10.1])
        dirty = _burst([13.0, 13.4], calib_pre=0.5, calib_post=0.9)
        lvl = _level(8, [clean, dirty])
        assert [b["valid"] for b in lvl["bursts"]] == [True, False]
        assert lvl["walls"] == [10.0, 10.1]
        assert lvl["converged"]

    def test_merge_tolerates_open_post_bracket(self):
        # a burst whose post-bracket never closed (level ended on budget)
        # merges on its pre sample alone
        open_b = _burst([10.0, 10.2])
        open_b["calib_post"] = None
        l1 = _level(8, [open_b])
        l2 = _level(8, [_burst([10.1, 10.3])])
        m = bench._merge_levels(l1, l2)
        assert all(b["valid"] for b in m["bursts"])
        assert m["converged"] and m["min_wall"] == 10.0


class TestAnnotateHw:
    def _pair(self):
        ln = _level(4, [_burst([100.0, 104.0])])
        l4 = _level(16, [_burst([30.0, 31.0])])
        return bench._make_pair(4, 16, 1_200_000, ln, l4)

    def test_adjusts_by_matching_ratio(self):
        p = self._pair()
        hw = {"percore_ratio": {"2->8": 0.95, "4->16": 0.86}}
        bench._annotate_hw([p], hw)
        assert p["hw_percore_ratio"] == 0.86
        assert p["efficiency_hw_adj"] == round(p["efficiency"] / 0.86, 3)
        assert p["efficiency_median_hw_adj"] == round(
            p["efficiency_median"] / 0.86, 3
        )

    def test_noop_without_calibration_or_matching_key(self):
        p = self._pair()
        bench._annotate_hw([p], None)
        assert "efficiency_hw_adj" not in p
        bench._annotate_hw([p], {"percore_ratio": {"2->8": 0.9}})
        assert "efficiency_hw_adj" not in p

    def test_raw_efficiency_untouched(self):
        p = self._pair()
        raw = p["efficiency"]
        bench._annotate_hw([p], {"percore_ratio": {"4->16": 0.8}})
        assert p["efficiency"] == raw  # disclosure only, contract unchanged


class TestMakePair:
    def test_efficiency_from_min_and_median(self):
        ln = _level(2, [_burst([100.0, 104.0])])
        l4 = _level(8, [_burst([30.0, 31.0])])
        p = bench._make_pair(2, 8, 600_000, ln, l4)
        assert p["t_n"] == 100.0 and p["t_4n"] == 30.0
        assert p["efficiency"] == round(100.0 / (4 * 30.0), 3)
        assert p["efficiency_median"] == round(102.0 / (4 * 30.5), 3)
        assert p["converged"] is True
        assert p["docs_per_sec_4n"] == round(600_000 / 30.0, 1)

    def test_pair_not_converged_when_either_level_is_not(self):
        ln = _level(2, [_burst([100.0, 120.0])])  # min/median disagree >tol
        l4 = _level(8, [_burst([30.0, 30.5])])
        assert not ln["converged"]
        p = bench._make_pair(2, 8, 600_000, ln, l4)
        assert p["converged"] is False


class TestDerivedPair:
    def test_four_cpu_mask_gives_one_to_four(self):
        assert bench.scaling_pair([0, 1, 2, 3]) == (1, 4, [0, 1, 2, 3])

    def test_pins_to_cpus_of_the_mask_not_from_zero(self):
        n, n4, pin = bench.scaling_pair([7, 4, 6, 5])
        assert (n, n4) == (1, 4)
        assert pin == [4, 5, 6, 7]  # the 4n level
        assert pin[:n] == [4]  # the n level

    def test_larger_mask_and_no_pair_under_four_cores(self):
        assert bench.scaling_pair(list(range(8)))[:2] == (2, 8)
        assert bench.scaling_pair(list(range(32)))[:2] == (8, 32)
        assert bench.scaling_pair([0, 1, 2]) is None

    def test_scaling_input_keeps_the_4n_level_parse_bound(self):
        # 5,000 docs/s on 4 cores = 1,250 docs/s/core; at 4 cores the 4n
        # level then takes ~SCALE_4N_TARGET_S seconds
        pages = bench.scale_pages(5000.0, 4, 4)
        assert isinstance(pages, int) and pages % 10_000 == 0
        assert abs(pages / 5000.0 - bench.SCALE_4N_TARGET_S) <= 1.0
        # twice the rate, twice the input; the floor holds for slow boxes
        assert bench.scale_pages(10_000.0, 4, 4) == pytest.approx(2 * pages, rel=0.1)
        assert bench.scale_pages(1.0, 4, 4) == 10_000


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class TestPlanner:
    def test_box_holds_the_floors_of_later_phases(self):
        clock = _Clock()
        plan = bench.Planner(100, clock=clock)
        plan.owed.update({"a": 10, "b": 20, "c": 30})
        assert plan.box("a") == 50  # 100 left - (20 + 30) owed after it
        clock.t = 40
        assert plan.box("b") == 30  # 60 left - 30
        clock.t = 70
        assert plan.box("c") == 30
        assert plan.skipped == []

    def test_phase_whose_floor_does_not_fit_is_skipped_and_recorded(self):
        clock = _Clock()
        plan = bench.Planner(100, clock=clock)
        plan.owed.update({"a": 10, "b": 50, "c": 30})
        assert plan.box("a") == 20
        clock.t = 30  # 70 left: b's box is 40 < its floor 50
        assert plan.box("b") is None
        assert plan.box("c") == 70  # a skipped phase frees its floor
        plan.skip("d")
        assert plan.skipped == ["b", "d"]

    def test_fit_drops_the_lowest_priority_floors_not_the_first(self):
        # the query suite: floors owed in priority order; a short box
        # skips from the tail, and a cheap late query still fits
        clock = _Clock()
        plan = bench.Planner(100, clock=clock)
        floors = {"q1": 30, "q2": 30, "q3": 50, "q4": 10}
        plan.fit(floors)
        assert list(plan.owed) == ["q1", "q2", "q4"]
        assert plan.box("q1") == 60  # 100 - (30 + 10)
        clock.t = 25
        plan.fit({q: floors[q] for q in ("q2", "q3", "q4")})
        assert plan.box("q2") == 65
        assert plan.box("q3") is None  # never owed: skipped and recorded
        assert plan.skipped == ["q3"]

    def test_never_boxes_past_the_budget(self):
        import random

        rng = random.Random(7)
        for _ in range(200):
            clock = _Clock()
            budget = rng.uniform(50, 500)
            plan = bench.Planner(budget, clock=clock)
            names = [f"p{i}" for i in range(rng.randint(1, 8))]
            plan.owed.update({p: rng.uniform(1, 80) for p in names})
            for p in names:
                later = sum(v for k, v in plan.owed.items() if k != p)
                left = budget - clock.t
                box = plan.box(p)
                if box is not None:
                    assert box <= left and box + later <= left + 1e-9
                    clock.t += rng.uniform(0, box)  # a phase ends inside its box
                assert clock.t <= budget
            assert set(plan.skipped) <= set(names)


class TestSuiteOrder:
    def test_covers_the_registry_once_never_benched_first_then_oldest(self):
        names = list({**entrymod.queries(), **entrymod.extra_queries()})
        hist = bench._query_history(bench._read_rounds())
        order = bench.suite_order(names, hist)
        assert sorted(order) == sorted(names) and len(set(order)) == len(order)
        rounds = [hist[q][0] if q in hist else 0 for q in order]
        assert rounds == sorted(rounds)  # never benched (0), then oldest round

    def test_synthetic_history(self):
        hist = {"a": (5, 1.0), "b": (2, 9.0), "c": (5, 0.5)}
        assert bench.suite_order(["a", "b", "c", "d", "e"], hist) == [
            "d", "e", "b", "a", "c"]

    def test_history_reader_is_shared(self):
        rounds = bench._read_rounds()
        hist = bench._round_history(rounds)
        assert list(hist) == [f"r{r}" for r in rounds]
        qh = bench._query_history(rounds)
        last = max(r for r, d in rounds.items() if (d.get("parsed") or {}).get("queries"))
        for q in rounds[last]["parsed"]["queries"]:
            assert qh[q][0] == last


def test_bench_reads_only_three_environment_variables():
    """Every ``os.environ`` use in bench.py is a ``.get`` of one of the
    three names, so run-steering knobs cannot creep back in."""
    tree = ast.parse(open(bench.__file__).read())
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id == "getenv":
            raise AssertionError("os.getenv in bench.py")
        if isinstance(node, ast.Attribute) and node.attr == "getenv":
            raise AssertionError("os.getenv in bench.py")
        if not (isinstance(node, ast.Attribute) and node.attr == "environ"):
            continue
        get = parents[node]
        call = parents.get(get)
        assert isinstance(get, ast.Attribute) and get.attr == "get"
        assert isinstance(call, ast.Call) and isinstance(call.args[0], ast.Constant)
        names.add(call.args[0].value)
    assert names == {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "OCR_BENCH_TOTAL_BUDGET_S"}


class TestHostCalibration:
    @pytest.mark.skipif(len(os.sched_getaffinity(0)) < 4, reason="needs 4 CPUs")
    def test_derived_pair_calibrates_inside_the_mask(self):
        n, n4, pin = bench.scaling_pair(bench.MASK)
        t0 = time.time()
        hw = bench.run_hw_calibration(bench.MASK, seconds=1.0)
        assert time.time() - t0 < 30
        assert hw is not None and hw["cpus"] == pin
        assert hw["percore_ratio"][f"{n}->{n4}"] > 0

    def test_worker_pinned_outside_the_mask_fails_fast(self):
        # a CPU number no box has: the worker's sched_setaffinity fails,
        # and the calibration must report failure instead of hanging
        t0 = time.time()
        assert bench.run_hw_calibration([0, 1, 2, 4096], seconds=1.0) is None
        assert time.time() - t0 < 30
