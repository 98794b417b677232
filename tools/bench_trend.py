"""Per-query bench trend across driver rounds.

Reads every ``BENCH_r*.json`` (driver-recorded; compact stdout line
carries only the slowest queries, so coverage per round is partial)
plus the latest local ``BENCH_FULL.json``, and prints a per-query
timing series with flags:

- ``REGRESSED``: latest ≥1.5× its best recorded round AND ≥0.3 s
  absolute — worth a plan diff before blaming machine load.
- ``new``: first appearance this round (no comparison possible).

Totals across rounds are NOT like-for-like when the declared-query
count changes; the per-query series is the comparable unit.

Usage: python tools/bench_trend.py [--all]   (--all prints every
query, default only flagged/slow ones)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _round_num(path: str) -> int:
    m = re.search(r"r(\d+)", os.path.basename(path))
    return int(m.group(1)) if m else -1


def _load(path: str) -> dict[str, float]:
    data = json.load(open(path))
    if "parsed" in data:  # driver capture wraps the stdout line
        data = data["parsed"] or {}  # None when the capture truncated
    # bench.py records -1.0 for errored queries: keep the sentinel out
    # of the min()/ratio math but surface it as ERRORED. A JSON null
    # (possible in a driver-captured line) would TypeError in the sort
    # key and the `latest < 0` flag — drop non-numeric values here.
    return {
        k: v
        for k, v in (data.get("queries") or {}).items()
        # bool is an int subclass: a malformed true/false must not
        # become a phantom 1.0s/0.0s baseline timing
        if isinstance(v, (int, float)) and not isinstance(v, bool)
    }


def _capture_summary(path: str) -> dict | None:
    """(total, n_queries, steal_ratio, recorded contamination) from one
    bench capture, or None when the stdout line didn't parse."""
    data = json.load(open(path))
    if "parsed" in data:
        data = data["parsed"] or {}
    if not isinstance(data, dict) or "value" not in data:
        return None
    load = data.get("loadavg") or {}
    cert = data.get("certified") or {}
    return {
        "total": data.get("value"),
        "n_queries": data.get("n_queries"),
        "steal_ratio": load.get("steal_ratio"),
        "contaminated": load.get("contaminated"),
        # r15 per-query certification: every reported number's own
        # timing window read clean (dirty ones re-timed + spliced) —
        # present only in r15+ captures
        "certified_clean": cert.get("all_clean"),
    }


def totals(markdown: bool) -> int:
    """Steal-normalized round-total series (VERDICT r13 item 7): the
    README triplet story COMPUTED from the committed artifacts instead
    of narrated. For each driver round: the recorded total, the
    capture's steal_ratio, the verdict the capture recorded AT THE
    TIME, the verdict under the CURRENT gate (bench.py's
    PER_QUERY_STEAL_GATE, imported — re-certifying history when the
    gate tightens), and the idle twin (``BENCH_IDLE_r{N}.json``) where one
    was taken. The "idle-equivalent" column is the idle twin when it
    exists, else the total itself when the current gate reads clean,
    else "-" — steal is a DETECTOR, not a proportional estimator, so
    no fabricated division-by-steal correction."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    import bench

    thresh = bench.PER_QUERY_STEAL_GATE

    rows = []
    for path in sorted(
        glob.glob(os.path.join(REPO, "BENCH_r*.json")), key=_round_num
    ):
        rnd = _round_num(path)
        cap = _capture_summary(path)
        idle_path = os.path.join(REPO, f"BENCH_IDLE_r{rnd:02d}.json")
        if not os.path.exists(idle_path):
            idle_path = os.path.join(REPO, f"BENCH_IDLE_r{rnd}.json")
        idle = (
            _capture_summary(idle_path)
            if os.path.exists(idle_path) else None
        )
        if cap is None or cap["total"] is None:
            # Driver capture truncated ("parsed": null — the r15 case:
            # the compact line outgrew the ~2000-char capture window).
            # The round still gets a row when its idle twin exists —
            # losing the capture must not erase the round from the
            # trend (ADVICE/VERDICT r15 item 2).
            if idle and idle["total"] is not None:
                rows.append({
                    "round": rnd, "total": None,
                    "nq": idle["n_queries"], "steal": None,
                    "recorded": None, "gate": "capture-lost",
                    "idle": idle, "idle_eq": idle["total"],
                    "approx": False,
                })
            continue
        steal = cap["steal_ratio"]
        current_gate = (
            "no-steal-data" if steal is None
            else ("steal-band" if steal > thresh else "clean")
        )
        # r15+: a capture whose every per-query window was certified
        # clean (dirty ones re-timed into clean gaps and spliced) is
        # idle-equivalent even when the SESSION average sat in a band —
        # the steal landed between timing windows, not inside them.
        if current_gate == "steal-band" and cap.get("certified_clean"):
            current_gate = "spliced-clean"
        # A spliced-clean capture WITHOUT an idle twin still carries a
        # uniform sub-gate steal residual (r15 measured ~7% vs its true
        # -idle twin), so its idle-equivalent is an upper bound, not an
        # idle number — annotated with "~" in the table (ADVICE r15)
        # rather than silently absorbed into the vs-first-clean column.
        approx = False
        if idle and idle["total"] is not None:
            idle_eq = idle["total"]
        elif current_gate == "clean":
            idle_eq = cap["total"]
        elif current_gate == "spliced-clean":
            idle_eq = cap["total"]
            approx = True
        else:
            idle_eq = None
        rows.append({
            "round": rnd, "total": cap["total"], "nq": cap["n_queries"],
            "steal": steal, "recorded": cap["contaminated"],
            "gate": current_gate, "idle": idle, "idle_eq": idle_eq,
            "approx": approx,
        })

    base = next(
        (r["idle_eq"] for r in rows if r["idle_eq"] is not None), None
    )
    fmt_steal = lambda s: "-" if s is None else f"{s:.4f}"  # noqa: E731
    if markdown:
        print(
            "<!-- generated: python tools/bench_trend.py --totals "
            f"--markdown (current steal gate: {thresh}) -->"
        )
        print("| round | total s | queries | steal | gate now | "
              "idle twin s | idle-equiv s | vs first clean |")
        print("|---|---|---|---|---|---|---|---|")
    else:
        print(f"{'round':>5} {'total':>8} {'nq':>4} {'steal':>7} "
              f"{'gate-now':>10} {'idle':>7} {'idle-eq':>8}  vs-base")
    any_approx = False
    for r in rows:
        total_s = f"{r['total']:.2f}" if r["total"] is not None else "-"
        idle_s = (
            f"{r['idle']['total']:.2f}" if r["idle"] else "-"
        )
        tilde = "~" if r["approx"] else ""
        any_approx = any_approx or r["approx"]
        idle_eq = (
            f"{r['idle_eq']:.2f}{tilde}" if r["idle_eq"] is not None else "-"
        )
        vs = (
            f"{r['idle_eq'] / base:.2f}x{tilde}"
            if base and r["idle_eq"] is not None else "-"
        )
        if markdown:
            print(
                f"| r{r['round']} | {total_s} | {r['nq']} | "
                f"{fmt_steal(r['steal'])} | {r['gate']} | {idle_s} | "
                f"{idle_eq} | {vs} |"
            )
        else:
            print(
                f"{r['round']:>5} {total_s:>8} {r['nq']:>4} "
                f"{fmt_steal(r['steal']):>7} {r['gate']:>10} "
                f"{idle_s:>7} {idle_eq:>8}  {vs}"
            )
    if any_approx:
        note = (
            "~ spliced-clean capture with no idle twin: every window "
            "certified under the gate, but sub-gate steal residual "
            "(r15 measured ~7% vs a true-idle twin) makes this an "
            "upper bound, not an idle number."
        )
        print(note if not markdown else f"\n{note}")
    return 0


def main() -> int:
    if "--totals" in sys.argv:
        return totals("--markdown" in sys.argv)
    show_all = "--all" in sys.argv
    series: dict[str, dict[str, float]] = {}
    cols: list[str] = []
    for path in sorted(
        glob.glob(os.path.join(REPO, "BENCH_r*.json")), key=_round_num
    ):
        tag = f"r{_round_num(path)}"
        cols.append(tag)
        for q, sec in _load(path).items():
            series.setdefault(q, {})[tag] = sec
    full = os.path.join(REPO, "BENCH_FULL.json")
    if os.path.exists(full):
        cols.append("local")
        for q, sec in _load(full).items():
            series.setdefault(q, {})["local"] = sec

    flagged = 0
    header = f"{'query':34s} " + " ".join(f"{c:>7s}" for c in cols) + "  note"
    print(header)
    for q in sorted(series, key=lambda q: -max(series[q].values())):
        vals = series[q]
        latest_col = next(c for c in reversed(cols) if c in vals)
        latest = vals[latest_col]
        prior = [
            v
            for c, v in vals.items()
            if c != latest_col and v is not None and v >= 0
        ]
        note = ""
        if latest < 0:
            note = "ERRORED (latest run)"
            flagged += 1
        elif not prior:
            note = "new"
        else:
            best = min(prior)
            if latest >= 1.5 * best and latest - best >= 0.3:
                note = f"REGRESSED ({best:.2f}->{latest:.2f})"
                flagged += 1
        if not (show_all or note or latest >= 1.0):
            continue
        row = " ".join(
            f"{vals[c]:7.2f}" if vals.get(c) is not None else f"{'-':>7s}"
            for c in cols
        )
        print(f"{q:34s} {row}  {note}")
    print(f"\n{flagged} flagged regressions "
          "(latest >=1.5x best round and >=0.3s absolute)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
