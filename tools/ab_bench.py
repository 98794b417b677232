"""A/B harness: times a subset of declared queries in the record session.

Each query is timed by ``bench.measure`` (warm-up, forced GC, min of 2
noop-sink runs) in ``bench._session`` with the ``--conf`` overrides
layered on top, so a candidate config or code change is measured on
the affected queries against the record baseline. The full
``bench.py`` sweep remains the record; this tool only ranks candidates.

Usage:
    python tools/ab_bench.py [--conf k=v ...] [--sf DIR] query [query ...]

Prints one JSON line: {"queries": {name: sec}, "total": sec,
"conf": {...}, "steal": r}. A query that is not declared reads -2.0, a
query that fails -1.0; "steal" is the largest per-query window steal
ratio (-1.0 when no window was measurable).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    confs: dict[str, str] = {}
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--conf":
            k, _, v = next(it).partition("=")
            confs[k] = v
        elif a == "--sf":
            sf_dir = next(it)
        else:
            names.append(a)

    spark = bench._session(extra_conf=confs, app="iotstream-ab")

    import __spark_entry__ as entrymod

    qs = entrymod._declared_queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out: dict[str, float] = {}
    steal = -1.0
    hz, ncpu = bench._tick_hz(), bench._proc_cpus()
    for name in names:
        if name not in qs:
            out[name] = -2.0
            continue
        try:
            sec, w = bench.measure(spark, qs[name], sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"ab error in {name}: {e}", file=sys.stderr)
            out[name] = -1.0
            continue
        out[name] = round(sec, 3)
        steal = max(steal, round(bench.window_steal_ratio(w, hz, ncpu), 4))
    print(json.dumps({
        "queries": out,
        "total": round(sum(v for v in out.values() if v > 0), 3),
        "conf": confs,
        "steal": steal,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
