#!/usr/bin/env python
"""Benchmark harness. Prints a JSON result line to stdout:
  {"metric": ..., "value": <headline extract wall sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "extract": {...}, "scaling": {...}}

Timeout-proof emission (the r3 lesson — rc=124 zeroed the whole artifact
because JSON printed only once, at the very end): the SAME accumulating
result object is re-emitted as a fresh complete JSON line after EVERY
phase (headline -> each scaling level -> sustained -> pipeline ->
query-suite checkpoints -> final). A consumer that takes the LAST
complete JSON line therefore always sees every phase that finished,
no matter where a timeout lands. ``phases_done`` records which phases
a given line already carries, ``phases_skipped`` the ones the budget
planner dropped.

Everything the run can work out from the box or from a measurement it
already takes is derived, not configured:

- cores: this process's CPU affinity mask (``host`` in the artifact);
- the scaling pair: one (n, 4n) with n = cores // 4, each level pinned
  to the first k CPUs OF THE MASK (1 -> 4 on a 4-core box; no pair,
  recorded as skipped, under 4 cores);
- the scaling input: sized from the headline's measured docs/s so the 4n
  level stays parse-bound (~SCALE_4N_TARGET_S); per-job constants of a
  few seconds must not dilute the efficiency the criterion targets;
- the wall budget: one ``Planner`` rule for every phase and, inside the
  query suite, for every query — a phase's box is the wall left minus the
  floors of the phases still owed after it; a phase whose own floor does
  not fit is skipped and recorded. Floors are estimated from the
  headline rate; the query suite keeps a fixed floor (QUERY_FLOOR_S).
  Inside the suite a query's floor is its cold first-rep cost estimate,
  and only the floors that fit are owed, in suite order, so a short box
  skips the lowest-priority queries;
- the query order: the whole registry (``queries()`` + ``extra_queries()``)
  ordered never-benched first, then by the oldest round holding a wall,
  read from the prior ``BENCH_r*.json`` artifacts.

Headline: documents/sec of the distributed extraction stage (the BASELINE.md
throughput metric) over a deterministic synthetic pages table, including the
salted host-hash repartition mandated by north_rule.

Scaling evidence (no real cluster in this sandbox): the identical job at
local[n] and local[4n] on the same parquet input; efficiency =
T_n / (4 * T_4n).

Noise discipline: this sandbox shares physical cores with other tenants —
both in-VM (load average >10 with zero local processes) and other-VM
(hypervisor steal episodes that degraded an unguarded headline run 10x).
EVERY measured phase is therefore steal-guarded: each rep starts only
after a quiet-box probe, is tagged with the steal fraction of its own
window, and re-runs (bounded) until at least one rep was steal-clean;
reported walls are the min over clean reps. Each scaling level pins its
whole process tree (JVM + Python workers) to its CPUs, so "k cores" means
k CPUs of the mask for the whole level.

Environment (the only three names read):
  SPARK_GRAFT_SF_DIR        query-suite data directory (default: the sf0.1 test data)
  SPARK_GRAFT_CPUS          lowers the core count below the affinity mask
  OCR_BENCH_TOTAL_BUDGET_S  wall plan for the whole run (default 3000 s)
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from ocr_spark.operators.extract_op import extract_pages  # noqa: E402
from ocr_spark.session import get_spark  # noqa: E402
from ocr_spark.sources.pages import synth_pages  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TOTAL_BUDGET_S = int(os.environ.get("OCR_BENCH_TOTAL_BUDGET_S", "3000"))
# the CPUs this run may use, lowest first; SPARK_GRAFT_CPUS can only lower it
MASK = sorted(os.sched_getaffinity(0))[
    : int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
]
CPUS = len(MASK)

WORK_DIR = "/tmp/ocr_spark_bench"
# The scaling phase runs on tmpfs (input copy, parquet sink, AND
# spark.local.dir for shuffle spill): the box has ONE shared virtio disk
# whose bandwidth does not grow from the n-core to the 4n-core level —
# unlike a real cluster, where every added executor brings its own local
# disks. Measured on /tmp, other-VM disk traffic stalled pinned runs
# 30-50% with ZERO cpu-steal and zero external busy. The headline and
# sustained phases keep the real disk sink.
SHM_DIR = "/dev/shm/ocr_spark_bench"

N_PAGES = 120_000  # headline input
SUSTAINED_PAGES = 1_000_000  # the sustained and pipeline_sustained input
# more headline reps than query reps: finding the quiet-box floor is cheap
# there, and min-of-3 measurably under-reports (27.4k vs 32.4k docs/s for
# the same build on the same day)
HEAD_REPS = 5
REPS = 3  # query reps at full precision
SCALE_REPS = 2  # reps per scaling burst
SUSTAINED_REPS = 2
# adaptive burst count per level (scale_worker): sample until the valid
# walls converge, at least MIN_BURSTS and at most MAX_BURSTS; a level that
# refuses to converge banks the rest of its box for the salvage re-run
MIN_BURSTS, MAX_BURSTS = 2, 4
SCALE_4N_TARGET_S = 25.0  # 4n-level wall the scaling input is sized for
# gap between bursts: time-diversifies samples and lets the JVM's GC and
# shuffle cleanup drain before the next calibration
SCALE_GAP_S = 30
GUARD_WAIT_MAX_S = 300  # cap on one pre-burst quiet/calibration deferral
HEAD_WAIT_MAX_S = 120  # cap on one pre-rep quiet deferral
JVM_S = 30.0  # JVM start + session setup, in every phase floor that has one
HW_CALIB_S = 30.0  # floor of the host calibration phase
QUERY_FLOOR_S = 300.0  # the query suite's fixed floor
FINAL_S = 20.0  # session stop + the final emission
QUERY_SEED_S = 5.0  # cold-rep estimate before the suite has timed a query
HEAVY_QUERIES = 10  # heaviest by prior wall: >= 2 reps (warm wall) each
# validity rules: a burst is contention-valid when the NON-pinned cores
# were at most EXT_BUSY_MAX busy, hypervisor steal on the PINNED cores
# stayed under STEAL_MAX, and its memory-stream calibration ran within
# CALIB_TOL of the best seen (contention steal/busy probes cannot see:
# other-VM memory-bandwidth pressure); levels converge when the valid
# walls agree within AGREE_TOL (see _converged)
EXT_BUSY_MAX = 0.25
STEAL_MAX = 0.05
AGREE_TOL = 0.05
CALIB_TOL = 1.07
# the query suite's contended tag is looser: it exposes the 2-5x
# contention class, not single-digit calibration drift
SUITE_CALIB_TOL = 1.25


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Planner:
    """The one budget rule of the run. Phases are owed in run order with a
    floor (the least wall that still yields a result). A phase's box is
    the wall left minus the floors of the phases still owed after it; a
    phase whose own floor does not fit that box is skipped and recorded in
    ``skipped``. The same class boxes the query suite per query, where
    ``fit`` owes only the floors that fit in priority order, so a short
    suite drops its lowest-priority queries, not its first ones."""

    def __init__(self, budget_s: float, clock=time.time):
        self.clock = clock
        self.end = clock() + budget_s
        self.owed: dict[str, float] = {}
        self.skipped: list[str] = []

    def fit(self, floors: dict[str, float]) -> None:
        self.owed, total = {}, 0.0
        for p, f in floors.items():
            if total + f <= self.end - self.clock():
                self.owed[p] = f
                total += f

    def box(self, phase: str) -> float | None:
        floor = self.owed.pop(phase, None)
        box = self.end - self.clock() - sum(self.owed.values())
        if floor is None or box < floor:
            self.skipped.append(phase)
            return None
        return box

    def skip(self, *phases: str) -> None:
        for p in phases:
            self.owed.pop(p, None)
            self.skipped.append(p)


def scaling_pair(mask: list[int]) -> tuple[int, int, list[int]] | None:
    """(n, 4n, the CPUs to pin) for the box's one N->4N pair: n = cores // 4,
    and level k pins to the first k CPUs of the mask (not 0..k-1, which
    may lie outside it). None under 4 cores."""
    n = len(mask) // 4
    return (n, 4 * n, sorted(mask)[: 4 * n]) if n else None


def scale_pages(docs_per_s: float, cores: int, n4: int) -> int:
    """Scaling input size: the headline rate per core times 4n cores times
    the parse-bound target wall, rounded to 10k pages (so reruns on the
    same box reuse one materialized table)."""
    return max(10_000, int(round(SCALE_4N_TARGET_S * docs_per_s / cores * n4, -4)))


def _read_rounds() -> dict[int, dict]:
    """round number -> the prior round's artifact ``BENCH_r<N>.json`` beside
    this file; the one reader behind ``history`` and the suite order."""
    rounds = {}
    for path in glob.glob(os.path.join(HERE, "BENCH_r[0-9]*.json")):
        try:
            with open(path) as f:
                d = json.load(f)
        except (OSError, ValueError):
            continue
        rounds[int(re.findall(r"\d+", os.path.basename(path))[0])] = (
            d if isinstance(d, dict) else {})
    return dict(sorted(rounds.items()))


def _round_history(rounds: dict[int, dict]) -> dict:
    """Per-round headline minima carried INSIDE this run's artifact, so
    round-over-round comparison reads one self-contained JSON. A round
    whose artifact did not parse (e.g. the rc=124 r3) appears with its rc
    and no numbers — the gap is disclosed, not hidden."""
    hist: dict[str, dict] = {}
    for r, d in rounds.items():
        parsed = d.get("parsed") or {}
        hist[f"r{r}"] = entry = {"rc": d.get("rc")}
        if not parsed:
            continue
        for field, phase in (("headline", "extract"), ("sustained", "sustained"),
                             ("pipeline", "pipeline_sustained")):
            entry[f"{field}_docs_per_sec"] = (parsed.get(phase) or {}).get("docs_per_sec")
        for field, key in (("min", "efficiency"), ("median", "efficiency_median")):
            entry[f"scaling_eff_{field}"] = [
                p.get(key) for p in (parsed.get("scaling") or {}).get("pairs", [])]
        entry["queries_timed"] = len(parsed.get("queries") or {})
        entry["queries_skipped"] = len(parsed.get("queries_skipped") or [])
    return hist


def _query_history(rounds: dict[int, dict]) -> dict[str, tuple[int, float]]:
    """query -> (latest round holding a wall for it, that wall)."""
    out: dict[str, tuple[int, float]] = {}
    for r, d in rounds.items():
        for q, w in ((d.get("parsed") or {}).get("queries") or {}).items():
            out[q] = (r, w)
    return out


def suite_order(names: list[str], hist: dict[str, tuple[int, float]]) -> list[str]:
    """Registry names ordered never-benched first, then by the oldest round
    holding a wall (stable: registry order within a round), so a time-box
    cut costs the freshest walls, never coverage."""
    return sorted(names, key=lambda q: (q in hist, hist.get(q, (0,))[0]))


def materialize_pages(spark, n: int) -> str:
    pages_dir = f"{WORK_DIR}/pages_{n}"
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        log(f"bench: synthesizing {n} pages -> {pages_dir}")
        synth_pages(spark, n, num_partitions=CPUS * 2).write.mode(
            "overwrite").parquet(pages_dir)
    return pages_dir


def run_extract_job(spark, pages_dir: str, out_dir: str) -> float:
    pages = spark.read.parquet(pages_dir)
    t0 = time.time()
    out = extract_pages(
        pages,
        # 4x slots: finer tasks pack the last wave tighter (straggler tail
        # was ~40% of wall at 2x on a 16-core level)
        num_partitions=spark.sparkContext.defaultParallelism * 4,
        repartition=True,  # the north_rule salted-shuffle path, measured
    )
    out.write.mode("overwrite").parquet(out_dir)
    return time.time() - t0


def _converged(valid: list[float]) -> dict:
    """Two routes to level convergence over the contention-valid walls.

    (a) median route — min and median agree within AGREE_TOL: the whole
    valid sample saw a quiet machine. (b) floor route — the two SMALLEST
    walls agree within AGREE_TOL/2 across >=4 valid walls: the quiet-
    machine floor is reproduced even when neighbor episodes the guards
    cannot attribute inflate the median. Every wall is an UPPER bound on
    the quiet-machine time, so two independent samples agreeing at the
    bottom — at half the tolerance — is reproduction, not a fluke; the
    artifact discloses which route fired."""
    out = {"converged_median": False, "converged_floor": False}
    if len(valid) >= 2:
        s = sorted(valid)
        out["converged_median"] = statistics.median(s) / s[0] - 1 <= AGREE_TOL
        out["converged_floor"] = len(s) >= 4 and s[1] / s[0] - 1 <= AGREE_TOL / 2
    out["converged"] = out["converged_median"] or out["converged_floor"]
    return out


def _cpu_ticks() -> dict[int, tuple[int, int, int]]:
    """Per-cpu (busy_ticks, total_ticks, steal_ticks) from /proc/stat."""
    out = {}
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu") and line[3].isdigit():
                name, *vals = line.split()
                vals = [int(x) for x in vals]  # fields 3+4: idle+iowait, 7: steal
                out[int(name[3:])] = (sum(vals) - vals[3] - vals[4], sum(vals), vals[7])
    return out


def _mean_frac(before: dict, after: dict, cpus, field: int) -> float:
    fracs = [
        (a[field] - before[c][field]) / (a[1] - before[c][1])
        for c, a in after.items()
        if c in cpus and c in before and a[1] > before[c][1]
    ]
    return round(sum(fracs) / len(fracs), 3) if fracs else 0.0


def _ext_busy(before: dict, after: dict, pinned: set[int]) -> float:
    """Mean busy fraction of the cores OUTSIDE our pin over the window —
    the in-VM tenant probe. Tenants are not pinned away from our cores,
    so non-pinned activity means our pinned cores were likely contended."""
    return _mean_frac(before, after, set(after) - set(pinned), 0)


def _pin_steal(before: dict, after: dict, pinned: set[int]) -> float:
    """Mean STEAL fraction of the PINNED cores over the window: other-VM
    contention (16-core bursts swinging 23.7 s -> 65.5 s with ext_busy ~= 0
    in r3) is invisible to any in-VM probe but shows as steal ticks."""
    return _mean_frac(before, after, pinned, 2)


def _calibrate(reps: int = 3) -> float:
    """Single-core memory-stream benchmark (256 MB touched per rep):
    min-of-reps seconds. Slower-than-best calibration = the memory
    subsystem is contended RIGHT NOW by something no in-VM CPU counter
    can attribute (other-VM bandwidth pressure)."""
    import numpy as np

    a = np.ones(32_000_000)
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        a *= 1.0000001
        float(a.sum())
        best = min(best, time.time() - t0)
    return round(best, 4)


def _probe_quiet(pinned: set[int], seconds: float = 3.0) -> tuple[float, float]:
    """(ext_busy, pin_steal) over a short live window — the quiet-box check
    (unlike 1-min loadavg, not polluted by the bench's own last job)."""
    t0 = _cpu_ticks()
    time.sleep(seconds)
    t1 = _cpu_ticks()
    return _ext_busy(t0, t1, pinned), _pin_steal(t0, t1, pinned)


def _noisy(probe: tuple[float, float]) -> bool:
    return probe[0] > EXT_BUSY_MAX or probe[1] > STEAL_MAX


def _defer(first, sample, bad, cap: float):
    """(last sample, seconds waited): re-sample every 10 s while ``bad``
    holds for it, for at most ``cap`` seconds."""
    value, waited = first, 0
    while bad(value) and waited < cap:
        time.sleep(10)
        waited += 10
        value = sample()
    return value, waited


def _wait_quiet(cap: float = HEAD_WAIT_MAX_S) -> int:
    """Defer while a whole-box probe shows tenant activity: between our own
    jobs the box should be near-idle. Returns seconds waited."""
    probe = lambda: _probe_quiet(set(), 1.5)  # noqa: E731
    return _defer(probe(), probe, _noisy, cap)[1]


def run_reps_clean(job, reps: int, extra: int | None = None,
                   wait: bool = True, end: float | None = None):
    """min-of-reps with steal accounting for the UNPINNED phases
    (headline, query suite, sustained). Each rep starts after a quiet-box
    probe and is tagged with the steal fraction of its own window; if no
    rep ran steal-clean, keep sampling (up to ``extra`` more). A rep whose
    cost (the slowest so far) would overrun ``end`` is not started; the
    first always is. Returns (walls, steals, n_clean); callers min() over
    clean walls when any exist (min_clean)."""
    extra = reps if extra is None else extra
    walls: list[float] = []
    steals: list[float] = []
    clean = 0
    for i in range(reps + extra):
        slack = float("inf") if end is None else end - time.time() - max(walls, default=0)
        if (i >= reps and clean > 0) or (walls and slack < 0):
            break
        if wait:
            _wait_quiet(min(HEAD_WAIT_MAX_S, slack))
        t0 = _cpu_ticks()
        walls.append(job())
        steals.append(_pin_steal(t0, _cpu_ticks(), set(MASK)))
        clean += steals[-1] <= STEAL_MAX
    return walls, steals, clean


def min_clean(walls: list[float], steals: list[float]) -> float:
    basis = [w for w, s in zip(walls, steals) if s <= STEAL_MAX] or walls
    return min(basis)


def _hw_worker(cpu: int, start_at: float, seconds: float) -> float:
    """One pinned pure-Python worker of the host calibration: a string-heavy
    loop (regex strip + split over a ~4 KB payload — the shape of the
    parse stage) for ``seconds`` from a common start time; iterations/s."""
    os.sched_setaffinity(0, {cpu})
    payload = ("<p>" + "lorem ipsum dolor sit amet " * 20 + "</p>") * 8
    pat = re.compile(r"<[^>]+>")
    time.sleep(max(0.0, start_at - time.time()))
    t0, iters = time.time(), 0
    while time.time() - t0 < seconds:
        len(pat.sub(" ", payload).split())
        iters += 1
    return iters / (time.time() - t0)


def _hw_percore(cpus: list[int], seconds: float) -> float:
    """Mean per-core throughput of one worker pinned to each of ``cpus``,
    all running at once. No Spark, no JVM: this measures the HOST — how
    much slower one core gets when 4n vs n siblings are busy. A worker
    that fails (e.g. pinned outside the mask) raises here at once, and a
    dead worker process breaks the pool at once: no wait can hang."""
    import multiprocessing as mp
    from concurrent.futures import ProcessPoolExecutor

    k = len(cpus)
    # fork is safe here: this runs in the single-threaded --hw-calib process,
    # and the pool forks every worker before it starts its manager thread
    with ProcessPoolExecutor(k, mp_context=mp.get_context("fork")) as ex:
        rates = list(ex.map(_hw_worker, cpus, [time.time() + 0.5] * k, [seconds] * k))
    return sum(rates) / k


def hw_calib_worker(cfg: dict) -> None:
    """Subprocess mode (clean process, no JVM — forking the bench's own
    pyspark driver would be unsafe): per-core host throughput at the n and
    4n level of the pair inside ``cfg["cpus"]``, best of 2 windows each,
    as one JSON line. A ratio < 1 is host-level contention (shared
    frequency/memory on one socket) separate cluster machines would NOT see."""
    n, n4, pin = scaling_pair(cfg["cpus"])
    per = {k: max(_hw_percore(pin[:k], cfg["seconds"]) for _ in range(2))
           for k in (n, n4)}
    print(json.dumps({"cpus": pin,
                      "per_core_iters_s": {str(k): round(v, 1) for k, v in per.items()},
                      "percore_ratio": {f"{n}->{n4}": round(per[n4] / per[n], 3)}}))


def run_hw_calibration(cpus: list[int], seconds: float = 3.0) -> dict | None:
    try:
        out = subprocess.run(
            [sys.executable, __file__, "--hw-calib",
             json.dumps({"cpus": cpus, "seconds": seconds})],
            capture_output=True, text=True, check=True, timeout=4 * seconds + 60,
        )
        hw = json.loads(out.stdout.strip().splitlines()[-1])
        log(f"bench: hw per-core calibration: {hw['percore_ratio']} "
            f"(per-core iters/s {hw['per_core_iters_s']})")
        return hw
    except Exception as exc:  # calibration is disclosure, never a blocker
        log(f"bench: hw calibration failed: {exc}")
        return None


def _annotate_hw(pairs: list[dict], hw: dict | None) -> None:
    """Attach the measured host per-core contention ratio to each pair and
    derive ``efficiency_hw_adj = efficiency / ratio`` — the efficiency the
    same job would show if per-core speed were flat across levels, which
    is exactly what separate cluster machines provide. DISCLOSURE ONLY:
    the raw ``efficiency`` stays the contract number."""
    if not hw:
        return
    ratios = hw.get("percore_ratio", {})
    for p in pairs:
        r = ratios.get(f"{p['n_cores']}->{p['4n_cores']}")
        if not r or r <= 0:
            continue
        p["hw_percore_ratio"] = r
        p["efficiency_hw_adj"] = round(p["efficiency"] / r, 3)
        p["efficiency_median_hw_adj"] = round(p["efficiency_median"] / r, 3)


def _level(cores: int, bursts: list[dict], elapsed: float, budget) -> dict:
    """A level's summary from its bursts. Climate validity is RELATIVE to
    the best calibration over every burst (pre and post samples), so it is
    recomputed whenever bursts are added; a burst is judged by the WORST of
    its brackets (``calib``) — contention arriving mid-burst shows up in
    the post sample. Under 2 valid walls the basis falls back to all."""
    best_cal = min(min(b.get("calib_pre") or b["calib"], b.get("calib_post") or b["calib"])
                   for b in bursts)
    for b in bursts:
        b["valid"] = (b["ext_busy"] <= EXT_BUSY_MAX and b["pin_steal"] <= STEAL_MAX
                      and b["calib"] <= best_cal * CALIB_TOL)
    valid = [w for b in bursts if b["valid"] for w in b["walls"]]
    all_walls = [w for b in bursts for w in b["walls"]]
    basis = valid if len(valid) >= 2 else all_walls
    return {
        "cores": cores, "walls": [round(w, 3) for w in basis],
        "all_walls": [round(w, 3) for w in all_walls], "min_wall": round(min(basis), 3),
        "bursts": bursts, "level_elapsed_s": round(elapsed, 1), "level_budget_s": budget,
        **_converged(valid),
    }


def scale_worker(cfg: dict) -> None:
    """Subprocess mode: pin to ``cfg["cpus"]`` before the JVM starts (the
    whole process tree inherits it), warm up, then adaptive measurement
    bursts separated by idle gaps inside ``cfg["budget_s"]``. Each burst is
    (a) DEFERRED while a live probe shows non-pinned cores busy or pinned-
    core steal, and while the memory-stream calibration sits outside
    CALIB_TOL of the session's best (seeded by the parent's
    ``session_calib``), (b) TAGGED with the burst-window ext_busy and
    pin_steal plus calibrations before and after it, and (c) repeated until
    the valid walls converge, MAX_BURSTS is reached, or the next burst
    cycle would overrun the budget. Prints one JSON line (see _level)."""
    cpus, t0 = cfg["cpus"], time.time()
    os.sched_setaffinity(0, cpus)
    pinned, cores, pages_dir = set(cpus), len(cpus), cfg["pages_dir"]
    os.makedirs(SHM_DIR, exist_ok=True)
    spark = get_spark(master=f"local[{cores}]", app_name=f"ocr-spark-scale-{cores}",
                      extra_conf={"spark.local.dir": f"{SHM_DIR}/local_{cores}"})
    # warmup; a burst costs about SCALE_REPS warm walls, later the wall of
    # the last gap + guards + burst: the next cycle's cost
    cycle = SCALE_REPS * run_extract_job(spark, pages_dir, f"{SHM_DIR}/warm_{cores}")
    bursts: list[dict] = []
    probe = lambda: _probe_quiet(pinned)  # noqa: E731

    def slack() -> float:
        return min(GUARD_WAIT_MAX_S, cfg["budget_s"] - (time.time() - t0) - cycle)

    while len(bursts) < MAX_BURSTS and not (bursts and slack() < 0):
        c0 = time.time()
        time.sleep(SCALE_GAP_S if bursts else 5)
        (p_ext, p_steal), waited = _defer(probe(), probe, _noisy, slack())
        cal_pre = _calibrate()
        if bursts:
            # this idle-window sample doubles as the PREVIOUS burst's
            # post-bracket, with no JVM-settle bias
            bursts[-1]["calib_post"] = cal_pre
            bursts[-1]["calib"] = max(bursts[-1]["calib_pre"], cal_pre)
        best_cal = min([cal_pre, cfg["session_calib"] or cal_pre]
                       + [c for b in bursts for c in (b["calib_pre"], b["calib_post"])])
        cal_pre, cal_waited = _defer(cal_pre, _calibrate,
                                     lambda c: c > best_cal * CALIB_TOL, slack())
        t_before = _cpu_ticks()
        walls = [run_extract_job(spark, pages_dir, f"{SHM_DIR}/out_{cores}")
                 for _ in range(SCALE_REPS)]
        t_after = _cpu_ticks()
        bursts.append({
            "walls": [round(w, 3) for w in walls], "probe": [p_ext, p_steal],
            "guard_waited_s": waited, "calib_waited_s": cal_waited,
            "ext_busy": _ext_busy(t_before, t_after, pinned),
            "pin_steal": _pin_steal(t_before, t_after, pinned),
            # calib_post is filled by the next idle window
            "calib": cal_pre, "calib_pre": cal_pre, "calib_post": None,
        })
        cycle = time.time() - c0
        if len(bursts) >= MIN_BURSTS and _level(cores, bursts, 0, 0)["converged"]:
            break
    spark.stop()
    time.sleep(10)  # close the last burst's post-bracket from a JVM-quiet window
    bursts[-1]["calib_post"] = cal_final = _calibrate()
    bursts[-1]["calib"] = max(bursts[-1]["calib_pre"], cal_final)
    print(json.dumps({**_level(cores, bursts, time.time() - t0, cfg["budget_s"]),
                      "cpus": cpus}))


def _merge_levels(l1: dict, l2: dict) -> dict:
    """Fold a re-run of the SAME level into the earlier measurement: the
    re-run is just more bursts of the same quantity, so validity and
    convergence recompute over all bursts together. A merged level can
    only tighten the estimate — every wall is an upper bound on the quiet-
    machine time, so more samples move min toward truth, never past it."""
    bursts = list(l1.get("bursts", [])) + list(l2.get("bursts", []))
    elapsed = (l1.get("level_elapsed_s") or 0) + (l2.get("level_elapsed_s") or 0)
    return {**_level(l1["cores"], bursts, elapsed, l1.get("level_budget_s")),
            "merged": True}


def _make_pair(n: int, n4: int, pages: int, ln: dict, l4: dict) -> dict:
    wn, w4 = ln["walls"], l4["walls"]
    mn, m4 = min(wn), min(w4)
    dn, d4 = statistics.median(wn), statistics.median(w4)
    return {
        "n_cores": n, "4n_cores": n4, "pages": pages,
        "t_n": round(mn, 3), "t_4n": round(m4, 3),
        "t_n_median": round(dn, 3), "t_4n_median": round(d4, 3),
        "docs_per_sec_n": round(pages / mn, 1), "docs_per_sec_4n": round(pages / m4, 1),
        "efficiency": round(mn / (4 * m4), 3),
        "efficiency_median": round(dn / (4 * d4), 3),
        "converged": bool(ln.get("converged") and l4.get("converged")),
        # which route fired per level (median = quiet whole-sample;
        # floor = reproduced two-best walls under undetectable noise)
        "converged_routes": {
            f"{n}c": {k: ln.get(k) for k in ("converged_median", "converged_floor")},
            f"{n4}c": {k: l4.get(k) for k in ("converged_median", "converged_floor")},
        },
        "guard": {f"{n}c": ln.get("bursts"), f"{n4}c": l4.get("bursts")},
    }


def level_floor(wall: float) -> float:
    """A scaling level's floor: JVM start, probes and calibration, the
    warmup and one burst of SCALE_REPS reps at ``wall`` each."""
    return JVM_S + (1 + SCALE_REPS) * wall


def run_scaling(plan: Planner, result: dict, emit, pair, pages: int, box: float) -> None:
    """The BASELINE.json contract metric: the n and 4n levels as pinned
    subprocesses (the n level's ``box`` already granted), the host
    calibration, then while the pair is unconverged or under 0.8 and the
    planner grants a salvage box, re-runs (4n side first) merged into the
    first measurement — more bursts of the same quantity, never a
    replacement of evidence."""
    n, n4, pin = pair
    # seeds every level's calibration pre-gate; improves as levels report
    # their own quieter windows
    session_calib = _calibrate()
    scaling = result["scaling"] = {
        "pinned": True, "cpus": pin, "pairs": [],
        "load_guard": {"ext_busy_max": EXT_BUSY_MAX, "steal_max": STEAL_MAX,
                       "agree_tol": AGREE_TOL},
    }
    levels: dict[int, dict] = {}

    def measure(k: int, budget: float) -> dict:
        nonlocal session_calib
        cfg = {"cpus": pin[:k], "pages_dir": f"{SHM_DIR}/pages_{pages}",
               "budget_s": int(budget), "session_calib": session_calib}
        out = subprocess.run([sys.executable, __file__, "--scale-worker", json.dumps(cfg)],
                             capture_output=True, text=True, check=True)
        lvl = json.loads(out.stdout.strip().splitlines()[-1])
        log(f"bench: scale level {k}c {pin[:k]} @{pages}p: min={lvl['min_wall']}s "
            f"walls={lvl['walls']} converged={lvl['converged']} "
            f"elapsed={lvl['level_elapsed_s']}s budget={int(budget)}s")
        session_calib = min(session_calib, *(
            c for b in lvl["bursts"] for c in (b["calib_pre"], b["calib_post"]) if c))
        return _merge_levels(levels[k], lvl) if k in levels else lvl

    levels[n] = measure(n, box)
    emit(f"scale_{n}c")
    if (box := plan.box(f"scale_{n4}c")) is None:
        plan.skip("hw_calib", "salvage")
        return
    levels[n4] = measure(n4, box)
    emit(f"scale_{n4}c")
    hw = run_hw_calibration(pin) if plan.box("hw_calib") is not None else None
    if hw:
        scaling["hw_percore"] = hw

    def current_pair(salvaged: bool) -> dict:
        p = _make_pair(n, n4, pages, levels[n], levels[n4])
        _annotate_hw([p], hw)
        scaling["pairs"] = [{**p, "salvaged": True} if salvaged else p]
        return scaling["pairs"][0]

    def needy(p: dict) -> bool:
        return not (p["converged"] and min(p["efficiency"], p["efficiency_median"]) >= 0.8)

    p = current_pair(False)
    if not needy(p):
        plan.owed.pop("salvage")
    elif (box := plan.box("salvage")) is not None:
        end = time.time() + box
        for k in (n4, n):
            if not needy(p) or end - time.time() < level_floor(levels[k]["min_wall"]):
                break
            levels[k] = measure(k, end - time.time())
            p = current_pair(True)
            emit(f"salvage_{k}c")
    scaling.update({k: v for k, v in p.items() if k != "guard"})
    scaling["session_calib"] = session_calib
    log(f"bench: scaling (pinned) {n}->{n4} @{pages}p: t_n={scaling['t_n']}s "
        f"t_4n={scaling['t_4n']}s eff_min={scaling['efficiency']} "
        f"eff_median={scaling['efficiency_median']} converged={scaling['converged']}")
    emit("scaling")


def extract_phase(spark, pages: int, reps: int, out_dir: str,
                  end: float | None = None) -> dict:
    """min-of-reps (steal-clean) full-width extract of ``pages`` synthetic
    pages; the headline and the sustained block."""
    src = materialize_pages(spark, pages)
    walls, steals, n_clean = run_reps_clean(
        lambda: run_extract_job(spark, src, out_dir), reps, end=end)
    wall = min_clean(walls, steals)
    log(f"bench: extract {pages} pages in {wall:.1f}s "
        f"({pages / wall:.0f} docs/s at local[{CPUS}])")
    return {"pages": pages, "cores": CPUS, "wall_sec": round(wall, 3),
            "walls": [round(w, 3) for w in walls], "steal_fracs": steals,
            "clean_reps": n_clean, "docs_per_sec": round(pages / wall, 1)}


def run_pipeline(spark) -> dict:
    """Full pipeline: chunked snapshot commits + per-partition metrics +
    resume anti-join — the north_rule lineage path, end to end."""
    from ocr_spark.pipeline import read_metrics, run_extract

    pipe_dir = materialize_pages(spark, SUSTAINED_PAGES)
    pipe_root = f"{WORK_DIR}/pipeline_table"
    shutil.rmtree(pipe_root, ignore_errors=True)
    _wait_quiet()
    t_cpu0, t0 = _cpu_ticks(), time.time()
    res = run_extract(spark, spark.read.parquet(pipe_dir), pipe_root,
                      run_id="bench-pipeline", chunks=4)
    wall = time.time() - t0
    m = read_metrics(spark, pipe_root)
    log(f"bench: pipeline_sustained {SUSTAINED_PAGES} pages in {wall:.1f}s "
        f"({SUSTAINED_PAGES / wall:.0f} docs/s, {res.chunks_done} chunks)")
    return {"pages": SUSTAINED_PAGES, "cores": CPUS, "chunks": res.chunks_done,
            "snapshots": len(res.snapshots), "docs": res.docs,
            "metrics_rows": m.count() if m is not None else 0,
            "wall_sec": round(wall, 3),
            "steal_frac": _pin_steal(t_cpu0, _cpu_ticks(), set(MASK)),
            "docs_per_sec": round(SUSTAINED_PAGES / wall, 1)}


def run_queries(spark, result: dict, emit, box: float,
                hist: dict[str, tuple[int, float]]) -> None:
    """The whole registry over the shared testdata, in ``suite_order``,
    behind an idle gate. Each query is boxed by the Planner rule inside
    the suite's box: its floor is its cold cost estimate (the larger of its
    prior wall and the median cold first rep of this run, plus 1 s) times
    its minimum reps (2 for the HEAVY_QUERIES slowest by prior wall, whose
    cold walls run 2-4x warm; else 1), and it runs REPS reps when those fit
    its box. Every wall carries a steal tag; a contended one the index of
    the calibration sample it was judged against."""
    import __spark_entry__ as entrymod
    from ocr_spark.operators.dedup import release_cached

    end = time.time() + box
    registry = {**entrymod.queries(), **entrymod.extra_queries()}
    order = suite_order(list(registry), hist)
    heavy = sorted((q for q in order if q in hist), key=lambda q: -hist[q][1])
    min_reps = {q: 2 if q in heavy[:HEAVY_QUERIES] else 1 for q in order}
    waited = _wait_quiet(min(HEAD_WAIT_MAX_S, box / 10))
    best_cal = cal = _calibrate()
    result.update({
        "queries_never_benched_first": sum(q not in hist for q in order),
        "queries_heavy": heavy[:HEAVY_QUERIES],
        "queries_gate": {"waited_s": waited, "calib": cal},
        "queries_calib_samples": [[0, cal]],
        "queries_min_steal": {},
        # cold single-rep walls: upper bounds, not warm minima
        "queries_single_rep": [],
        "queries_no_clean_rep": [],
        # query -> index into queries_calib_samples of the sample that
        # tagged it: the tag is as stale as that sample
        "queries_calib_contended": {},
    })
    samples = result["queries_calib_samples"]
    cold: list[float] = []  # first-rep walls: the cost estimate's feed

    def est(q: str) -> float:
        base = statistics.median(cold[-15:]) if cold else QUERY_SEED_S
        return max(base, hist.get(q, (0, 0.0))[1]) + 1.0

    suite = Planner(end - time.time())
    result["queries_skipped"] = suite.skipped
    for qi, name in enumerate(order):
        suite.fit({q: min_reps[q] * est(q) for q in order[qi:]})
        if (qbox := suite.box(name)) is None:
            continue
        if qi and qi % 10 == 0:  # refresh the climate tag (~0.3 s)
            cal = _calibrate()
            best_cal = min(best_cal, cal)
            samples.append([qi, cal])
        reps = REPS if REPS * est(name) + 6.0 <= qbox else min_reps[name]
        fn, rows = registry[name], [0]

        def one_rep():
            t0 = time.time()
            rows[0] = fn(spark, SF_DIR).count()
            return time.time() - t0

        walls, steals, n_clean = run_reps_clean(
            one_rep, reps, extra=2 if reps == REPS else 0,
            wait=reps == REPS, end=time.time() + qbox)
        cold.append(walls[0])
        result["queries"][name] = round(min_clean(walls, steals), 3)
        result["queries_min_steal"][name] = min(steals)
        if len(walls) == 1:
            result["queries_single_rep"].append(name)
        if n_clean == 0:
            result["queries_no_clean_rep"].append(name)
        if cal > best_cal * SUITE_CALIB_TOL:
            result["queries_calib_contended"][name] = len(samples) - 1
        log(f"bench: {name}: {rows[0]} rows in {result['queries'][name]}s "
            f"x{len(walls)}" + ("" if n_clean else " (no steal-clean rep)"))
        # release the query's scoped persist caches NOW: they never help
        # the next query, and ~100 queries' accumulated signature frames
        # inflated the heavy dedup queries 2-3x over isolated walls
        release_cached()
        if (qi + 1) % 15 == 0:
            emit("queries_partial")
    result["queries_elapsed_s"] = round(box - (end - time.time()), 1)


def main() -> None:
    t_run0 = time.time()
    plan = Planner(TOTAL_BUDGET_S)
    rounds = _read_rounds()
    result: dict = {
        "metric": "extraction wall sec (headline); docs/sec in extract.docs_per_sec",
        "unit": "sec", "value": None, "queries": {},
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else None,
        "host": {"affinity": MASK, "cpus": CPUS},
        "total_budget_s": TOTAL_BUDGET_S,
        "phases_done": [],
        "phases_skipped": plan.skipped,
        # prior rounds' minima: this run's artifact alone carries the trend
        "history": _round_history(rounds),
    }

    def emit(phase: str) -> None:
        # one COMPLETE JSON line per call; a last-line consumer always gets
        # every phase finished so far even if the process is killed next
        if phase not in result["phases_done"]:
            result["phases_done"].append(phase)
        result["elapsed_s"] = round(time.time() - t_run0, 1)
        print(json.dumps(result), flush=True)

    spark = get_spark(master=f"local[{CPUS}]", app_name="ocr-spark-bench")
    out_dir = f"{WORK_DIR}/out"
    run_extract_job(spark, materialize_pages(spark, N_PAGES), out_dir)  # warmup
    result["extract"] = extract_phase(spark, N_PAGES, HEAD_REPS, out_dir)
    result["value"] = result["extract"]["wall_sec"]
    emit("extract")

    # every later phase's floor, estimated from the headline rate
    rate = result["extract"]["docs_per_sec"]

    def cost(pages: int, cores: int = CPUS) -> float:
        return pages / rate * CPUS / cores

    def synth(pages: int) -> float:
        return 0.0 if os.path.exists(f"{WORK_DIR}/pages_{pages}/_SUCCESS") else cost(pages)

    pair = scaling_pair(MASK)
    if pair:
        n, n4, _ = pair
        spages = scale_pages(rate, CPUS, n4)
        # the n level also synthesizes (full width) and copies the input
        plan.owed.update({
            f"scale_{n}c": synth(spages) + cost(spages) / 4 + level_floor(cost(spages, n)),
            f"scale_{n4}c": level_floor(cost(spages, n4)),
            "hw_calib": HW_CALIB_S,
            "salvage": level_floor(cost(spages, n4)),
        })
    else:
        plan.skip("scaling")  # under 4 cores there is no N->4N pair
    plan.owed.update({
        "sustained": JVM_S + synth(SUSTAINED_PAGES) + cost(SUSTAINED_PAGES),
        "pipeline_sustained": synth(SUSTAINED_PAGES) + 2 * cost(SUSTAINED_PAGES),
        "queries": QUERY_FLOOR_S,
        "final": FINAL_S,
    })
    box = plan.box(f"scale_{n}c") if pair else None
    if box is not None:
        # synthesized at full width, then copied to tmpfs (see SHM_DIR)
        end, dst = time.time() + box, f"{SHM_DIR}/pages_{spages}"
        if not os.path.exists(f"{dst}/_SUCCESS"):
            shutil.copytree(materialize_pages(spark, spages), dst, dirs_exist_ok=True)
    # the pinned levels own the box; the tail gets a fresh full-width session
    spark.stop()
    if box is not None:
        run_scaling(plan, result, emit, pair, spages, end - time.time())
    elif pair:
        plan.skip(f"scale_{n4}c", "hw_calib", "salvage")
    spark = get_spark(master=f"local[{CPUS}]", app_name="ocr-spark-bench-tail")
    if (box := plan.box("sustained")) is not None:
        from pyspark.sql import functions as F

        out = f"{WORK_DIR}/sustained_out"
        sus = extract_phase(spark, SUSTAINED_PAGES, SUSTAINED_REPS, out,
                            end=time.time() + box)
        sus["status_counts"] = {
            r["extract_status"]: r["n"]
            for r in spark.read.parquet(out).groupBy("extract_status")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        result["sustained"] = sus
        emit("sustained")
    if plan.box("pipeline_sustained") is not None:
        result["pipeline_sustained"] = run_pipeline(spark)
        emit("pipeline_sustained")
    if (box := plan.box("queries")) is not None:
        run_queries(spark, result, emit, box, _query_history(rounds))
        emit("queries")
    spark.stop()
    emit("final")


if __name__ == "__main__":
    # internal subprocess modes: the parent passes their config as one JSON argv
    modes = {"--scale-worker": scale_worker, "--hw-calib": hw_calib_worker}
    if len(sys.argv) > 2 and sys.argv[1] in modes:
        modes[sys.argv[1]](json.loads(sys.argv[2]))
    else:
        main()
