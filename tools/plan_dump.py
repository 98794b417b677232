"""Dump `.explain("formatted")` for named declared queries to files.

Writes plans/<tag>/<query>_<suffix>.txt with the FINAL AQE plan
(plan_text executes the frame first) of each query in the record
session (``bench._session``), so before/after plan diffs are
committable evidence. Streaming-only queries (explain_audit.SKIP) are
skipped. Expression ids (``#N``, ``#NL``) and ``[plan_id=N]`` are
stripped before writing (``stable_plan``), so two runs of the same code
dump the same files, except where the AQE final plan numbers its
``codegen id`` stages in the order they finished (seen on a query with
two HashAggregate branches). A literal spelled like an id (``Brand#1``)
loses its digits too.

Usage:
    python tools/plan_dump.py --tag r17 --suffix before [--sf DIR] q [q ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.explain_audit import SKIP, plan_text  # noqa: E402


def stable_plan(text: str) -> str:
    """``text`` without the run-dependent expression ids and plan ids."""
    return re.sub(r",?\s*\[plan_id=\d+\]", "", re.sub(r"#\d+L?\b", "", text))


def main() -> int:
    args = sys.argv[1:]
    tag, suffix = "r17", "before"
    sf_dir = "/root/testdata/sf0.001"
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--tag":
            tag = next(it)
        elif a == "--suffix":
            suffix = next(it)
        elif a == "--sf":
            sf_dir = next(it)
        else:
            names.append(a)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    import bench

    spark = bench._session(app="plan-dump")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in names:
        if name not in qs:
            print(f"plan_dump: unknown query {name!r}", file=sys.stderr)
            continue
        if name in SKIP:
            print(f"plan_dump: {name} is streaming-only (see SKIP); skipped",
                  file=sys.stderr)
            continue
        try:
            text = stable_plan(plan_text(qs[name](spark, sf_dir)))
        except Exception as e:  # noqa: BLE001
            print(f"plan_dump error in {name}: {e}", file=sys.stderr)
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — sf_dir={sf_dir} — {suffix}\n\n{text}")
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
