"""Matrix/sweep tooling contracts (r13, ADVICE r12 + VERDICT r12 item 1).

No Spark session — these pin the pure-Python plumbing: the bench
leg's contamination parsing, bench.py's clean-window policy
(``certified``) and verdicts, the per-round leg list, the hostile
fixture's spec (every NULL and unicode shape in one fixture), the oracle gate's
dtype verdict and the hostile leg's reach verdict, and the digest-keyed
fixture markers that stop edited mutation specs from silently serving
stale cached fixtures.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, REPO)

import degenerate_sweep as ds  # noqa: E402
import run_matrix as rm  # noqa: E402


def test_bench_contaminated_parses_flag_states():
    line = json.dumps({"metric": "x", "loadavg": {"contaminated": True}})
    assert rm._bench_contaminated(f"noise\n{line}\n") is True
    line = json.dumps({"metric": "x", "loadavg": {"contaminated": False}})
    assert rm._bench_contaminated(line) is False
    # no parsable line / no flag → None (treated as "unavailable")
    assert rm._bench_contaminated("no json here") is None
    assert rm._bench_contaminated(json.dumps({"metric": "x"})) is None


def test_code_digest_excludes_round_artifacts_only():
    """ADVICE r13: the matrix must bind to code state, not commit hash
    — artifact-only commits (MATRIX/BENCH/CORRECTNESS JSONs, judge
    docs) must not change the digest, while engine/tests/tools must
    be covered by it."""
    for rel in (
        "MATRIX_r13.json", "BENCH_r13.json", "BENCH_FULL.json",
        "CORRECTNESS_r13.json", "REACH_AUDIT_r13.json", "VERDICT.md",
        "ADVICE.md", "PLANS.md", "UNICODE_PROBE_r13.json",
    ):
        assert rm.is_round_artifact(rel), rel
    for rel in (
        "bench.py", "__spark_entry__.py", "iotstream/ext/dedup.py",
        "tests/test_property.py", "tools/run_matrix.py", "README.md",
        "SURVEY.md",
    ):
        assert not rm.is_round_artifact(rel), rel
    d = rm.code_digest()
    assert d and len(d) == 16 and d == rm.code_digest()  # deterministic


def test_build_legs_wires_round_stamped_gates():
    legs = dict(rm.build_legs(13))
    assert list(legs) == [
        "pytest", "oracle_sf001", "oracle_sf01", "oracle_tz", "degenerate",
        "bench",  # bench runs last
    ]
    assert legs["degenerate"][-1] == "13"


def test_plan_dump_strips_run_dependent_ids():
    from plan_dump import stable_plan

    run = lambda e, p: (  # noqa: E731 — one plan, two runs' ids
        f"Output [2]: [doc_id#{e}L, p_brand#{e + 1}]\n"
        f"Exchange hashpartitioning(doc_id#{e}L, 4), ENSURE_REQUIREMENTS, "
        f"[plan_id={p}]\n"
    )
    assert stable_plan(run(1705, 88)) == stable_plan(run(31, 7)) == (
        "Output [2]: [doc_id, p_brand]\n"
        "Exchange hashpartitioning(doc_id, 4), ENSURE_REQUIREMENTS\n"
    )


def test_spec_digest_keys_fixture_markers(tmp_path):
    """Editing a mutation spec must invalidate the cached fixture —
    the r12-era empty `.complete` markers served stale fixtures until
    someone remembered to rm -rf them."""
    out = str(tmp_path / "fixture")
    os.makedirs(out)
    d1 = ds._spec_digest("v1", {"a": 1})
    assert not ds._fresh_marker(out, d1)  # no marker yet
    with open(f"{out}/.complete", "w") as f:
        f.write(d1)
    assert ds._fresh_marker(out, d1)
    d2 = ds._spec_digest("v1", {"a": 2})  # spec changed
    assert d2 != d1
    assert not ds._fresh_marker(out, d2)


def test_every_query_has_its_oracle():
    """The correctness gate compares every query with its DuckDB twin,
    so the two key sets are one set."""
    import __spark_entry__ as em

    assert set(em.queries()) == set(em.oracle_sql())


def test_dtype_verdict_fails_null_free_int_vs_float():
    """The HUGEINT case: DuckDB's SUM over integers lands as float64
    while Spark emits int64; the values print alike, the kinds do not."""
    import pandas as pd
    from check_oracle import dtype_mismatches

    spark_df = pd.DataFrame({"n": [1, 2, 3]})
    duck_df = pd.DataFrame({"n": [1.0, 2.0, 3.0]})
    assert dtype_mismatches(spark_df, duck_df) == [("n", "i", "f")]


def test_dtype_verdict_passes_integral_float_with_nan_vs_nullable_int():
    """toPandas() widens a nullable int column with NULLs to float64;
    its integral values collapse back to an int kind."""
    import pandas as pd
    from check_oracle import dtype_mismatches

    spark_df = pd.DataFrame({"n": [1.0, float("nan"), 3.0]})
    duck_df = pd.DataFrame({"n": pd.array([1, None, 3], dtype="Int64")})
    assert dtype_mismatches(spark_df, duck_df) == []


def test_dtype_verdict_fails_non_integral_float_vs_int():
    import pandas as pd
    from check_oracle import dtype_mismatches

    duck_df = pd.DataFrame({"n": pd.array([1, None, 3], dtype="Int64")})
    spark_df = pd.DataFrame({"n": [1.5, float("nan"), 3.0]})
    assert dtype_mismatches(spark_df, duck_df) == [("n", "f", "i")]
    spark_df = pd.DataFrame({"n": [1.5, 2.0, 3.0]})
    duck_df = pd.DataFrame({"n": [1, 2, 3]})
    assert dtype_mismatches(spark_df, duck_df) == [("n", "f", "i")]


def test_reach_status_classifies_each_case():
    """touched beats everything; an identical output is exempt only
    when every scanned table is unmutated or the query carries a
    REACH_EXEMPT reason; an unattributed plan counts as mutated."""
    mutated = {"events", "lineitem"}
    exempt = next(iter(ds.REACH_EXEMPT))
    assert ds.reach_status("q", True, ["events"], mutated) == "touched"
    assert ds.reach_status("q", False, ["nation"], mutated) == (
        "exempt-unmutated-tables"
    )
    assert ds.reach_status(exempt, False, [], mutated) == (
        f"exempt: {ds.REACH_EXEMPT[exempt]}"
    )
    assert ds.reach_status("q", False, ["events", "nation"], mutated) == (
        "UNREACHED"
    )
    assert ds.reach_status("q", False, [], mutated) == "UNREACHED"


def test_reach_exempt_names_are_declared_queries():
    """An exemption for a renamed/deleted query would silently rot."""
    import __spark_entry__ as em

    declared = set(em.queries().keys())
    for name in ds.REACH_EXEMPT:
        assert name in declared, name


def test_boundary_class_targets_are_declared_queries():
    """The hand-listed epoch/stream-decimal boundary targets must stay
    pinned to declared queries (a rename would silently drop the class
    audit for that operator); the epoch pairs must contain both the
    dropped shape (fully pre-epoch) and the inclusive-boundary
    survivor (error at exactly epoch)."""
    import datetime as dt

    import __spark_entry__ as em

    declared = set(em.queries().keys())
    for name in ds.EPOCH_TARGETS + ds.STREAM_DECIMAL_TARGETS:
        assert name in declared, name
    pairs = ds._epoch_pair_rows(list(range(10)))
    assert len(pairs) == 6
    ts = [r["ts"] for r in pairs]
    epoch = dt.datetime(1970, 1, 1)
    assert sum(1 for t in ts if t < epoch) == 2   # dropped pair
    assert epoch in ts                            # boundary distinguisher
    # join survivor pair: strictly post-epoch error + follower
    assert dt.datetime(1970, 1, 1, 0, 0, 1) in ts
    assert sum(1 for t in ts if t > epoch) == 3
    # nandec: every table carries dropped (non-finite) shapes, and the
    # static survivors exist with a NaN twin sharing the survivor's
    # filter attributes (differing ONLY in the guarded measure)
    for t in ("events", "lineitem", "orders", "customer"):
        assert ds._nonfinite_muts(t), t
    for t in ("events", "lineitem", "orders"):
        assert ds.NANDEC_SURVIVORS[t], t
    surv = ds.NANDEC_SURVIVORS["lineitem"][0]
    twin = ds.NANDEC_TWINS_LINEITEM[0]
    import math

    assert math.isnan(twin["l_extendedprice"])
    for k in ("l_shipdate", "l_discount", "l_quantity"):
        assert twin[k] == surv[k], k


def test_hostile_spec_carries_every_null_and_unicode_shape():
    """One adversarial fixture: every table's NULL_MUTS rows come last
    in its hostile rows (same pk), and the documents and events carry
    every multilingual shape."""
    spec = ds.hostile_muts()
    for t, (pk, rows) in ds.NULL_MUTS.items():
        assert spec[t][0] == pk, t
        assert spec[t][1][-len(rows):] == rows, t
    texts = {r["text"] for r in spec["documents"][1]}
    for doc in (
        "café résumé naïve déjà vu über straße",           # accented Latin
        "这是 一个 测试 文本 分析 的 例子 你好 世界",          # CJK
        "hello \U0001f44b world \U0001f30d emoji test",     # astral emoji
        "مرحبا بالعالم",                                   # RTL Arabic
        "élégant combining marks café",                     # NFD combining
        "ΑΛΦΑ βήτα ΓΆΜΜΑ mixed ΚΕΦΑΛΑΙΑ greek case",       # case folding
    ):
        assert doc in texts, doc
    for row in (
        {"event_type": "café_click"},
        {"event_type": "购买"},
        {"props": '{"k": 1, "s": "emoji \U0001f680 café"}'},
    ):
        assert row in spec["events"][1], row


def test_hostile_doc_twins_shape():
    """The near-dup twin placement only works if the twins keep equal
    length (same edit-distance block, zero length-delta) and share a
    source (the blocking key) — pin the construction."""
    twins = [r for r in ds.HOSTILE_DOC_ROWS if r["text"].startswith("tok000")]
    assert len(twins) == 2
    a, b = (t["text"] for t in twins)
    assert len(a) == len(b) and a != b
    assert a[:64] == b[:64]  # identical edit-distance prefix
    assert twins[0]["source"] == twins[1]["source"]
    diff = sum(1 for x, y in zip(a, b) if x != y)
    assert diff == 1  # single-character edit


def _qwin(ratio: float, *, sec: float = 2.0, load1: float = 3.0,
          hz: int = 100, ncpu: int = 32, t0: float = 10.0) -> dict:
    """One per-query timing window with the given steal fraction."""
    return {
        "mono0": t0, "steal0": 1000,
        "mono1": t0 + sec,
        "steal1": 1000 + int(ratio * sec * hz * ncpu),
        "load1": load1, "retries": 0,
    }


def test_splice_verdict_certifies_clean_windows_despite_session_steal():
    """VERDICT r14 item 1: steal landing BETWEEN timing windows (warm
    -ups, sampling gaps) inflates the session average without touching
    any reported number — the exact false-contamination shape that ate
    the r13/r14 bench legs. All-clean windows must certify even when
    the session detector reads a steal band."""
    import bench

    start = {"loadavg": [0.2, 0.1, 0.1], "steal_jiffies": 0}
    wins = {f"q{i}": _qwin(0.0005, t0=10.0 + 3 * i) for i in range(5)}
    v = bench.splice_verdict(start, wins, 32, 32, 100)
    assert v["causes"] == []
    assert not v["contaminated"]
    assert v["dirty"] == []


def test_splice_verdict_flags_dirty_window():
    """A single query window above the per-query gate dirties the
    capture and names the query."""
    import bench

    start = {"loadavg": [0.2, 0.1, 0.1], "steal_jiffies": 0}
    wins = {
        "q_clean": _qwin(0.002),
        "q_dirty": _qwin(0.08, t0=20.0),
    }
    v = bench.splice_verdict(start, wins, 32, 32, 100)
    assert v["causes"] == ["steal_query_windows"]
    assert v["dirty"] == ["q_dirty"]
    assert v["window_ratios"]["q_dirty"] > bench.PER_QUERY_STEAL_GATE


def test_splice_verdict_r13_band_ratio_is_dirty_per_window():
    """The r13 band (1.2-3.2% steal, measured ~32-40% inflation) must
    read dirty at the per-window level too — the per-query gate matches
    the session gate (0.01), just above idle noise (0.0003-0.002)."""
    import bench

    start = {"loadavg": [0.2, 0.1, 0.1], "steal_jiffies": 0}
    for ratio in (0.012, 0.032):
        v = bench.splice_verdict(
            start, {"q": _qwin(ratio, sec=5.0)}, 32, 32, 100
        )
        assert v["dirty"] == ["q"], ratio
    for ratio in (0.0003, 0.002, 0.009):
        v = bench.splice_verdict(
            start, {"q": _qwin(ratio, sec=5.0)}, 32, 32, 100
        )
        assert v["dirty"] == [], ratio


def test_splice_verdict_unknown_windows_surface_not_flag():
    """Missing steal data (non-Linux, sub-50ms window) degrades to
    'unknown', never a false flag or a crash."""
    import bench

    start = {"loadavg": [0.2, 0.1, 0.1], "steal_jiffies": -1}
    wins = {
        "q_nosteal": {"mono0": 1.0, "steal0": -1, "mono1": 3.0,
                      "steal1": -1, "load1": 2.0, "retries": 0},
        "q_tiny": _qwin(0.9, sec=0.01),
    }
    v = bench.splice_verdict(start, wins, 32, 32, 100)
    assert not v["contaminated"]
    assert sorted(v["unknown"]) == ["q_nosteal", "q_tiny"]


def test_splice_verdict_keeps_load_causes():
    """load_at_start and load_during_sweep still apply — per-window
    steal certification must not weaken the co-tenant load detectors."""
    import bench

    busy_start = {"loadavg": [30.0, 10.0, 5.0], "steal_jiffies": 0}
    v = bench.splice_verdict(busy_start, {"q": _qwin(0.0)}, 32, 32, 100)
    assert "load_at_start" in v["causes"]
    idle_start = {"loadavg": [0.2, 0.1, 0.1], "steal_jiffies": 0}
    v = bench.splice_verdict(
        idle_start, {"q": _qwin(0.0, load1=200.0)}, 32, 32, 100
    )
    assert "load_during_sweep" in v["causes"]


def test_splice_verdict_errored_query_excluded_from_dirty():
    """ADVICE r15: a query that ERRORS during a steal burst reports no
    number (timing -1.0) and can never be re-timed clean — its dirty
    window must not permanently flip the headline flag. Its ratio stays
    in window_ratios for transparency; without `timings` the old
    (stricter) behavior is preserved."""
    import bench

    start = {"loadavg": [0.2, 0.1, 0.1], "steal_jiffies": 0}
    wins = {
        "q_ok": _qwin(0.002),
        "q_err": _qwin(0.08, t0=20.0),
        "q_err_unknown": _qwin(0.9, sec=0.01, t0=30.0),
    }
    timings = {"q_ok": 2.0, "q_err": -1.0, "q_err_unknown": -1.0}
    v = bench.splice_verdict(start, wins, 32, 32, 100, timings=timings)
    assert not v["contaminated"]
    assert v["dirty"] == []
    assert v["unknown"] == []  # errored queries report no number at all
    assert v["window_ratios"]["q_err"] > bench.PER_QUERY_STEAL_GATE
    # Without timings the verdict stays strict (pure-window behavior).
    v2 = bench.splice_verdict(start, wins, 32, 32, 100)
    assert v2["dirty"] == ["q_err"]
    # A REPORTED dirty number still flags even when another errored.
    timings3 = {"q_ok": 2.0, "q_err": 3.0, "q_err_unknown": -1.0}
    v3 = bench.splice_verdict(start, wins, 32, 32, 100, timings=timings3)
    assert v3["dirty"] == ["q_err"]
    assert v3["contaminated"]


def test_stray_process_guard_detects_matching_process():
    """VERDICT r15 item 6: a prior session's bench/chaser process alive
    at matrix time must be surfaced. The guard sees a live process
    that _is_stray_cmd recognizes, never lists itself/ancestors
    (this pytest's own chain), and stops reporting once it exits."""
    import subprocess
    import time as _time

    # Two commands so bash can't tail-call exec into sleep (which
    # would replace the cmdline and drop the marker).
    proc = subprocess.Popen(
        ["bash", "-c", "sleep 30; true # bench_idle_chaser marker"],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        found = None
        for _ in range(20):  # /proc visibility is immediate; retry anyway
            found = {s["pid"]: s for s in rm.stray_processes()}
            if proc.pid in found:
                break
            _time.sleep(0.1)
        assert proc.pid in found
        assert "bench_idle_chaser" in found[proc.pid]["cmd"]
        assert os.getpid() not in found
    finally:
        proc.kill()
        proc.wait()
    # The marker process is gone; other (real) strays on a busy dev
    # machine may legitimately remain — assert only about ours.
    assert proc.pid not in {s["pid"] for s in rm.stray_processes()}


def test_fit_compact_caps_stdout_line():
    """r15 regression: the compact stdout line grew to 2349 chars and
    the driver's ~2000-char tail capture truncated it ("parsed": null
    → the round lost its trend row). _fit_compact must shed optional
    blocks in the fixed order until the line fits, never dropping the
    metric/value/queries/certified core, and must leave an
    already-small line untouched."""
    import json

    import bench

    small = {"metric": "m", "value": 1.0, "unit": "sec",
             "queries": {"flagship": 0.5}, "sf": 0.1,
             "certified": {"all_clean": True}}
    assert bench._fit_compact(dict(small)) == small  # no-op, no marker

    big = {
        "metric": "total_query_seconds_sf0.1", "value": 88.0,
        "unit": "sec",
        "queries": {f"query_{i:02d}": 1.0 + i for i in range(20)},
        "sf": 0.1, "n_queries": 128, "n_errors": 0, "sub_second": 90,
        "loadavg": {"start": 0.2, "max": 10.0, "steal_ratio": 0.02,
                    "contaminated": False,
                    "contamination_causes": ["x" * 40],
                    "session_contaminated": True,
                    "session_causes": ["y" * 40]},
        "certified": {"all_clean": True, "dirty": [], "unknown": 0,
                      "requeried": 14, "gate": 0.01},
        "isolated": {f"iso_query_name_{i:02d}": 3.0 for i in range(10)},
        "isolated_steal": {"max": 0.05, "dirty": ["a" * 30] * 10,
                           "unknown": 0},
        "errors": {f"err_{i}": "boom " * 16 for i in range(3)},
        "full": "BENCH_FULL.json",
    }
    big["queries"]["flagship"] = 0.4
    assert len(json.dumps(big)) > bench.COMPACT_LINE_BUDGET
    fitted = bench._fit_compact(big)
    line = json.dumps(fitted)
    assert len(line) <= bench.COMPACT_LINE_BUDGET
    assert fitted["trimmed"]  # sheds are declared
    for core in ("metric", "value", "unit", "queries", "sf",
                 "certified", "loadavg"):
        assert core in fitted, core
    assert "flagship" in fitted["queries"]  # never trimmed away
    # Shed order: isolated goes before queries are narrowed.
    assert fitted["trimmed"][0] == "isolated"


def test_window_clean_requires_measured_ratio():
    """ADVICE r15: the ingest best-of loop must treat an unmeasurable
    window (-1.0) as NOT clean — `ratio <= gate` alone would let an
    unknown drain displace a certified one and trip the early break."""
    import bench

    assert bench.window_clean(_qwin(0.002), 100, 32)
    assert not bench.window_clean(_qwin(0.08), 100, 32)
    # sub-MIN_WINDOW_SEC span → ratio -1.0 → not clean
    assert not bench.window_clean(_qwin(0.0, sec=0.01), 100, 32)
    # missing steal data → ratio -1.0 → not clean
    nosteal = {"mono0": 1.0, "steal0": -1, "mono1": 3.0, "steal1": -1}
    assert not bench.window_clean(nosteal, 100, 32)


def test_zerodiv_targets_are_declared_and_shapes_hold():
    """r15 zero-divisor class (VERDICT r14 item 5): targets stay
    pinned to declared queries; the derived shapes keep their
    defining invariants — identical sensorize readings for the zero
    -variance sensor, MAD=0-with-deviant for the MAD sensor, an
    all-zero-total order chain wired region→nation→customer."""
    import statistics

    import __spark_entry__ as em

    declared = set(em.queries().keys())
    for name, expect in ds.ZERODIV_TARGETS.items():
        assert name in declared, name
        assert expect in ("moved", "survives"), name

    zd = ds._zerodiv_muts(ds.SRC)
    # ZEROLAND chain: referential keys line up, totals are all zero
    (reg,), (nat,), (cust,) = zd["region"], zd["nation"], zd["customer"]
    assert nat["n_regionkey"] == reg["r_regionkey"]
    assert cust["c_nationkey"] == nat["n_nationkey"]
    assert len(zd["orders"]) >= 2
    for o in zd["orders"]:
        assert o["o_custkey"] == cust["c_custkey"]
        assert o["o_totalprice"] == 0.0

    def temp(e: int) -> int:  # sensorize else-branch (valid band)
        assert e % 100 != 0 and e % 10 != 0, e
        return 10 + (e * 7) % 41

    def hum(e: int) -> int:
        return 50 + (e * 13) % 31

    by_user: dict[int, list[int]] = {}
    for r in zd["events"]:
        by_user.setdefault(r["user_id"], []).append(r["event_id"])
    zero_var = [u for u, es in by_user.items() if len(es) == 3]
    mad_dev = [u for u, es in by_user.items() if len(es) == 5]
    assert len(zero_var) == 1 and len(mad_dev) == 1
    zv_temps = [temp(e) for e in by_user[zero_var[0]]]
    zv_hums = [hum(e) for e in by_user[zero_var[0]]]
    assert len(set(zv_temps)) == 1 and len(set(zv_hums)) == 1
    md_temps = sorted(temp(e) for e in by_user[mad_dev[0]])
    med = statistics.median(md_temps)
    mad = statistics.median(sorted(abs(t - med) for t in md_temps))
    assert mad == 0 and max(md_temps) > med  # MAD=0 with a real deviant
    # all readings valid-band (pass the validity filter into zscore)
    for u in by_user:
        for e in by_user[u]:
            assert 10 <= temp(e) <= 50 and 50 <= hum(e) <= 80, e


class _ScriptedBand:
    """Scripted steal band for ``bench.certified``: each capture is one
    2 s timing window that accrues the next scripted steal ratio and
    reports its capture number as its seconds; ``wait`` stands in for
    ``wait_clean_window``."""

    def __init__(self, window_ratios: list[float]):
        import bench

        self.ratios = list(window_ratios)  # consumed per capture
        self.hz, self.ncpu = bench._tick_hz(), bench._proc_cpus()
        self.t = 100.0
        self.steal = 50_000
        self.waits = 0
        self.captures = 0

    def wait(self, budget, probe_sec=2.0):
        self.waits += 1
        self.t += 1.0

    def _sample(self) -> dict:
        return {"mono": self.t, "steal_jiffies": self.steal,
                "loadavg": [1.0, 1.0, 1.0]}

    def capture(self) -> tuple[float, dict]:
        import bench

        self.captures += 1
        s0 = self._sample()
        ratio = self.ratios.pop(0) if self.ratios else 0.0
        self.t += 2.0
        self.steal += int(ratio * 2.0 * self.hz * self.ncpu)
        return float(self.captures), bench.steal_window(s0, self._sample())


def _certify(monkeypatch, band, time_once=None, budget=500.0):
    import bench

    monkeypatch.setattr(bench, "wait_clean_window", band.wait)
    return bench.certified(time_once or band.capture, budget)


def test_certified_clean_first_capture_needs_no_wait(monkeypatch):
    band = _ScriptedBand([0.001])
    sec, w = _certify(monkeypatch, band)
    assert (sec, w["attempts"], band.waits, band.captures) == (1.0, 1, 0, 1)


def test_certified_retimes_dirty_capture_until_clean(monkeypatch):
    """A band that lifts on the second capture: the clean re-capture's
    number and window replace the dirty first one."""
    import bench

    band = _ScriptedBand([0.08, 0.001])
    sec, w = _certify(monkeypatch, band)
    assert (sec, w["attempts"], band.waits) == (2.0, 2, 1)
    assert bench.window_clean(w, band.hz, band.ncpu)
    v = bench.splice_verdict(
        {"loadavg": [0.1, 0.1, 0.1], "steal_jiffies": 0}, {"q": w},
        band.ncpu, 1, band.hz,
    )
    assert not v["contaminated"]


def test_certified_persistent_band_keeps_first_capture_and_reports(
    monkeypatch,
):
    """A band that never lifts: MAX_CAPTURES captures, the FIRST one
    stays, and the verdict names the query."""
    import bench

    band = _ScriptedBand([0.08, 0.09, 0.07])
    sec, w = _certify(monkeypatch, band)
    assert band.captures == bench.MAX_CAPTURES == w["attempts"]
    assert sec == 1.0
    assert abs(bench.window_steal_ratio(w, band.hz, band.ncpu) - 0.08) < 0.01
    v = bench.splice_verdict(
        {"loadavg": [0.1, 0.1, 0.1], "steal_jiffies": 0}, {"q": w},
        band.ncpu, 1, band.hz,
    )
    assert v["dirty"] == ["q"]


def test_certified_exhausted_budget_never_waits(monkeypatch):
    """No re-time budget left: the dirty first capture stays without a
    wait, so a permanent band can never hang the sweep."""
    band = _ScriptedBand([0.08])
    sec, w = _certify(monkeypatch, band, budget=0.0)
    assert (sec, w["attempts"], band.waits, band.captures) == (1.0, 1, 0, 1)


def test_certified_raising_retry_keeps_first_capture(monkeypatch):
    """A re-capture that raises keeps the first number and stops."""
    import bench

    band = _ScriptedBand([0.08, 0.001])

    def time_once():
        if band.captures:
            raise RuntimeError("transient")
        return band.capture()

    sec, w = _certify(monkeypatch, band, time_once=time_once)
    assert (sec, w["attempts"], band.waits) == (1.0, 2, 1)
    assert not bench.window_clean(w, band.hz, band.ncpu)


def test_fit_compact_last_resort_shed_fits_pathological_core():
    """ADVICE r16: after the six ordered sheds the line could STILL
    exceed the budget (e.g. dozens of long dirty-query names inside
    certified.dirty — a core field the ordered steps never touch) and
    _fit_compact returned it oversized silently, re-arming the r15
    'parsed: null' truncation. The last-resort shed must trim queries
    to the flagship, cap the dirty list, and declare itself."""
    import json

    import bench

    big = {
        "metric": "total_query_seconds_sf0.1", "value": 88.0,
        "unit": "sec",
        "queries": {f"query_name_padded_{i:03d}": 1.0 + i for i in range(60)},
        "sf": 0.1,
        "loadavg": {"contaminated": True,
                    "contamination_causes": ["steal_query_windows"]},
        "certified": {"all_clean": False,
                      "dirty": [f"very_long_dirty_query_name_{i:03d}"
                                for i in range(50)],
                      "unknown": 0, "requeried": 50, "gate": 0.01},
        "isolated": {f"iso_{i}": 3.0 for i in range(10)},
        "isolated_steal": {"max": 0.05, "dirty": [], "unknown": 0},
        "errors": {},
        "full": "BENCH_FULL.json",
    }
    big["queries"]["flagship"] = 0.4
    fitted = bench._fit_compact(big)
    line = json.dumps(fitted)
    assert len(line) <= bench.COMPACT_LINE_BUDGET, len(line)
    assert "last_resort" in fitted["trimmed"]
    assert fitted["queries"] == {"flagship": 0.4}
    dirty = fitted["certified"]["dirty"]
    # ADVICE r17: long names are also truncated (the reachable overflow
    # shape in the production caller is 5 long names, already count-capped)
    assert len(dirty) == 6 and dirty[-1] == "+45 more"
    assert all(len(n) <= 24 for n in dirty)
    for core in ("metric", "value", "unit", "sf", "certified", "loadavg"):
        assert core in fitted, core


def test_stray_guard_ignores_mentions_and_flags_real_runs():
    """ADVICE r16: substring matching flagged any process whose
    cmdline merely MENTIONS bench.py (editor, tail -f, grep). The
    anchored matcher must ignore mentions and still flag genuine
    bench/matrix/chaser/Spark invocations."""
    from tools.run_matrix import _is_stray_cmd

    # mentions — must NOT flag
    assert not _is_stray_cmd(["vim", "bench.py"])
    assert not _is_stray_cmd(["tail", "-f", "bench.py.log"])
    assert not _is_stray_cmd(["grep", "-n", "bench.py", "notes.md"])
    assert not _is_stray_cmd(["less", "tools/run_matrix.py"])
    assert not _is_stray_cmd(["bash", "-c", "grep bench.py history.txt"])
    # genuine runs — must flag
    assert _is_stray_cmd(["python", "bench.py"])
    assert _is_stray_cmd(["python3", "/root/repo/bench.py", "--one", "flagship"])
    assert _is_stray_cmd(["python", "tools/run_matrix.py"])
    assert _is_stray_cmd(["bash", "-c", "python bench.py > /tmp/x"])
    assert _is_stray_cmd(["bash", "/tmp/bench_idle_chaser.sh"])
    assert _is_stray_cmd(["bash", "-c", "sleep 30; true # bench_idle_chaser"])
    assert _is_stray_cmd(
        ["/usr/lib/jvm/bin/java", "-cp", "x", "org.apache.spark.deploy.SparkSubmit"]
    )


def test_stray_guard_flags_python_dash_m_invocations():
    """ADVICE r17: `python -m`-style invocations of the guarded
    scripts are strays too; module paths that merely END in the name
    of an unguarded module stay ignored."""
    from tools.run_matrix import _is_stray_cmd

    assert _is_stray_cmd(["python", "-m", "bench"])
    assert _is_stray_cmd(["python3.11", "-m", "tools.run_matrix"])
    assert not _is_stray_cmd(["python", "-m", "pytest", "tests/"])
    assert not _is_stray_cmd(["python", "-m"])


def test_spark_session_builder_only_in_bench_session():
    """Every Spark session outside perfbench/ is bench._session: the
    only `SparkSession.builder` in bench.py, tools/ and tests/ sits
    inside that function, so the oracle gate, the sweeps, the tools
    and the tests run the session bench.py and perfbench measure."""
    import ast
    import glob

    sites = []
    files = [os.path.join(REPO, "bench.py")]
    files += glob.glob(os.path.join(REPO, "tools", "*.py"))
    files += glob.glob(os.path.join(REPO, "tests", "*.py"))
    for path in sorted(files):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        defs = [
            n for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "builder"
                and isinstance(node.value, ast.Name)
                and node.value.id == "SparkSession"
            ):
                owner = next(
                    (d.name for d in defs
                     if d.lineno <= node.lineno <= d.end_lineno),
                    "<module>",
                )
                sites.append(f"{os.path.relpath(path, REPO)}:{owner}")
    assert sites == ["bench.py:_session"], sites


def test_explain_audit_skips_every_streaming_builder():
    """``explain_audit.SKIP`` (also ``plan_dump``'s skip list) names
    exactly the builders that start a stream, so neither tool drains a
    stream and then audits a parquet read. Found by scanning every
    ``q_*`` builder in ``__spark_entry__.py`` for a call that drains or
    reads a stream, whether or not protobuf is installed."""
    import ast

    from explain_audit import SKIP

    streaming = {
        "drain", "windowed_agg_final_state", "enrich_against_dim_final",
        "interval_join_pairs", "load_events_stream",
    }
    with open(os.path.join(REPO, "__spark_entry__.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    drains = set()
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef) and fn.name.startswith("q_"):
            called = {
                getattr(n.func, "id", getattr(n.func, "attr", None))
                for n in ast.walk(fn)
                if isinstance(n, ast.Call)
            }
            if called & streaming:
                drains.add(fn.name[2:])
    assert "streaming_status_change" in drains
    assert SKIP == drains


def test_session_cpus_reads_env_else_host_cpus(monkeypatch):
    """SPARK_GRAFT_CPUS wins when set; unset (or empty) it falls back to
    the CPUs this process may run on, never a fixed count."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert bench.session_cpus() == "7"
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert bench.session_cpus() == "3"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert bench.session_cpus() == "3"


def test_steal_window_feeds_window_steal_ratio():
    """steal_window is the one window shape: two samples 10 s apart
    with 320 stolen jiffies on 32 CPUs at 100 Hz read 1% steal, and
    the closing sample's 1-min load rides along."""
    import bench

    s0 = {"mono": 100.0, "steal_jiffies": 1000, "loadavg": [0.5, 0, 0]}
    s1 = {"mono": 110.0, "steal_jiffies": 1320, "loadavg": [2.5, 0, 0]}
    w = bench.steal_window(s0, s1)
    assert w == {"mono0": 100.0, "steal0": 1000, "mono1": 110.0,
                 "steal1": 1320, "load1": 2.5}
    assert abs(bench.window_steal_ratio(w, 100, 32) - 0.01) < 1e-12


def test_bench_retry_and_env_reads_have_one_owner():
    """``wait_clean_window`` is called only by ``certified`` (the one
    re-time policy) and ``main``'s ``--wait-clean`` start gate, in
    bench.py and every tool; bench.py reads no environment variable
    besides its three documented ones."""
    import ast
    import glob

    def is_environ(n) -> bool:
        return (isinstance(n, ast.Attribute) and n.attr == "environ"
                and isinstance(n.value, ast.Name) and n.value.id == "os")

    waits, env_reads, environ_refs = [], set(), 0
    files = [os.path.join(REPO, "bench.py")]
    files += glob.glob(os.path.join(REPO, "tools", "*.py"))
    for path in sorted(files):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        defs = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
        rel = os.path.relpath(path, REPO)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and (
                getattr(node.func, "id", None) == "wait_clean_window"
                or getattr(node.func, "attr", None) == "wait_clean_window"
            ):
                owner = next(
                    (d.name for d in defs
                     if d.lineno <= node.lineno <= d.end_lineno),
                    "<module>",
                )
                waits.append(f"{rel}:{owner}")
            if rel != "bench.py":
                continue
            environ_refs += is_environ(node)
            if isinstance(node, ast.Call) and (
                (getattr(node.func, "attr", None) == "get"
                 and is_environ(node.func.value))
                or (getattr(node.func, "attr", None) == "getenv")
            ):
                env_reads.add(getattr(node.args[0], "value", "<dynamic>"))
                environ_refs -= is_environ(node.func.value)
            elif isinstance(node, ast.Subscript) and is_environ(node.value):
                env_reads.add(getattr(node.slice, "value", "<dynamic>"))
                environ_refs -= 1
    assert sorted(waits) == ["bench.py:certified", "bench.py:main"], waits
    assert env_reads <= {
        "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
    }, env_reads
    assert environ_refs == 0  # no other use of os.environ in bench.py
