"""Physical-plan audit: print `.explain(formatted)` for each batch query
and flag scale anti-patterns mechanically.

Checks per plan:
- parquet scans report PushedFilters when the query filters scan columns
- dimension joins use BroadcastHashJoin (no shuffle on the fact side)
- no CartesianProduct / BroadcastNestedLoopJoin outside the known
  intentional ones (tiny broadcast centroid/query rows)
- WholeStageCodegen present (expressions stay JVM-side)

Usage: python tools/explain_audit.py [sf_dir] [query ...]
Writes PLANS.md at the repo root when run with no query filter.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Streaming queries execute eagerly (start a real stream) — audit their
# batch twins instead; the state-store plan is fixed by Spark. Every
# builder that drains a stream is named here (a tier-1 test scans the
# builders for it).
SKIP = {
    "streaming_window_agg",
    "stateful_quality_monitor",
    "streaming_dedup",
    "streaming_dedup_wm",
    "streaming_sessionize",
    "streaming_enrich",
    "streaming_interval_join",
    "streaming_status_change",
}

# Queries where a nested-loop/cartesian over a BROADCAST side is the
# intended design (single-row centroid array, tiny query set, 1-row
# scalar-threshold aggregate).
NLJ_OK = {
    "similarity_topk",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "dormant_customers",
    "important_stock",
    "tfidf_top_terms",
    "lm_bigram_xent",  # 1-row |V| scalar broadcast cross join
    "df_token_filter",  # 1-row corpus-count broadcast (r17: the DF
    # threshold moved in-plan; the cross join side is a single row)
}

# Queries whose plan legitimately contains a Window over an Exchange
# SinglePartition: the windowed input is BOUNDED BY DESIGN, not
# table-sized — the block-prefix table of a two-level scan (one row
# per block: sequence_pack) or a dictionary-sized vocabulary rank.
# Everything else that windows over a single-partition exchange is the
# scale smell ext/ranks.py exists to remove (its ranks emit no Window).
GLOBAL_WINDOW_OK = {
    "sequence_pack",  # block totals table (~corpus/block_size rows)
    "df_token_filter",  # document-frequency vocab rank
}


def plan_text(df) -> str:
    # Execute the DataFrame's OWN QueryExecution first (collect, not a
    # write command, which would wrap a fresh plan): under AQE the
    # pre-execution plan is provisional (isFinalPlan=false, no codegen
    # ids, no runtime join demotions/promotions). The audit must see
    # the FINAL plan. Audit scale (sf0.001) keeps results tiny.
    df.collect()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _single_partition_window(text: str) -> bool:
    """True when a Window operator sits above an Exchange
    SinglePartition in the formatted plan tree — the global-sort
    funnel that dies on table-sized input. Parses the tree section
    (preorder, parent = nearest shallower line) plus the per-node
    Arguments detail."""
    single = {
        m.group(1)
        for m in re.finditer(
            r"\((\d+)\) Exchange[^\n]*\nInput.*?\nArguments: SinglePartition",
            text,
        )
    }
    if not single:
        return False
    # tree lines: "   +- Exchange (8)" / ":  +- Window (10)" etc.
    nodes = []  # (depth, op, id)
    for line in text.splitlines():
        m = re.match(r"^([+\-:\s*]*)([A-Za-z][\w]*(?: [\w()]+)*) \((\d+)\)\s*$", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2), m.group(3)))
    for i, (depth, op, nid) in enumerate(nodes):
        if nid not in single:
            continue
        # walk ancestors (nearest shallower lines above)
        d = depth
        for j in range(i - 1, -1, -1):
            jd, jop, _ = nodes[j]
            if jd < d:
                d = jd
                if jop in ("Window", "WindowGroupLimit"):
                    return True
                # pass through ONLY a plain Sort (exact op — a prefix
                # match would also swallow SortAggregate/SortMergeJoin
                # and misattribute an unrelated Window higher up)
                if jop != "Sort":
                    break  # a non-window consumer (agg, join, limit…)
    return False


def audit(name: str, text: str) -> list[str]:
    flags = []
    if _single_partition_window(text) and name not in GLOBAL_WINDOW_OK:
        flags.append("global Window over Exchange SinglePartition")
    if "CartesianProduct" in text and name not in NLJ_OK:
        flags.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in text and name not in NLJ_OK:
        flags.append("BroadcastNestedLoopJoin")
    if "SortMergeJoin" in text and name in {"enrichment_join", "revenue_rollup"}:
        flags.append("SortMergeJoin-on-dim (should broadcast)")
    # formatted explain labels codegen stages as "[codegen id : N]".
    # An AQE-collapsed EmptyRelation plan legitimately has none.
    if "codegen id" not in text and "EmptyRelation" not in text:
        flags.append("no WholeStageCodegen span")
    scans = re.findall(r"PushedFilters: \[(.*?)\]", text)
    empty = sum(1 for s in scans if not s.strip())
    if scans and empty == len(scans) and "filter" in text.lower():
        flags.append("no pushed filters on any scan")
    return flags


def main() -> int:
    import __spark_entry__ as entrymod
    import bench

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = bench._session(app="explain-audit")

    sections, flagged = [], {}
    for name, fn in entrymod.queries().items():
        if name in SKIP or (only and name not in only):
            continue
        try:
            text = plan_text(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            sections.append(f"## {name}\n\nERROR: {exc}\n")
            flagged[name] = ["plan failed"]
            continue
        flags = audit(name, text)
        if flags:
            flagged[name] = flags
        sections.append(
            f"## {name}\n\nflags: {', '.join(flags) if flags else 'none'}\n\n"
            f"```\n{text.strip()}\n```\n"
        )

    report = (
        "# PLANS — physical-plan audit (auto-generated by tools/explain_audit.py)\n\n"
        f"Scale factor dir: `{sf_dir}`. Streaming queries audited via their "
        "batch twins (see tool docstring).\n\n"
        f"**Flagged:** {flagged if flagged else 'none'}\n\n" + "\n".join(sections)
    )
    if not only:
        out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
        with open(out, "w") as f:
            f.write(report)
        print(f"wrote {out}")
    else:
        print(report)
    print("FLAGGED:", flagged if flagged else "none")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
