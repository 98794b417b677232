"""Unicode parity gate.

A 100 TB training corpus is overwhelmingly multilingual, so unicode
parity between Spark and DuckDB is a correctness surface, not a
curiosity: regex word classes (Java regex vs DuckDB's RE2), length
semantics (code points vs bytes), case folding, collation of ORDER BY
on non-ASCII keys, JSON serde escaping of astral-plane characters.

This tool builds a unicode-bearing twin of the sf0.001 fixtures
(documents text in accented Latin / CJK / emoji / RTL Arabic /
combining marks; unicode event_type group keys; unicode JSON string
values in props) and runs the full oracle gate (``check_oracle.gate``)
on it in-process. The multimodal fake-codec oracles recompute from the
UTF-8 payload BYTES (DuckDB ``strlen``/hex-nibble histogram — see
``oracle_sql()`` in ``__spark_entry__.py``), so every declared query
must hold full value-level parity on multilingual input, and the probe
exits nonzero on ANY failure. Unicode shapes also run inside the gated
hostile sweep (``tools/degenerate_sweep.py hostile``); this probe is
the denser, documents-focused fixture and writes its per-query outcome
to ``UNICODE_PROBE_r{N}.json``.

Usage: python tools/unicode_probe.py <round>
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

from degenerate_sweep import _mutated_fixture  # noqa: E402

OUT = "/tmp/iotstream-degenerate/unicode"

#: documents.text rows; n_chars is set to the CODE-POINT count (python
#: len == Spark length() == DuckDB length()), which differs from the
#: UTF-8 byte count for every non-ASCII row — exactly the split the
#: byte-based fake-codec oracles must keep straight.
UNICODE_DOCS = [
    "café résumé naïve déjà vu über straße",          # accented Latin
    "这是 一个 测试 文本 分析 的 例子 你好 世界",          # CJK (spaced)
    "hello \U0001f44b world \U0001f30d emoji test",     # astral emoji
    "مرحبا بالعالم",  # RTL Arabic
    "élégant combining marks café",   # NFD combining
    "ΑΛΦΑ βήτα ΓΆΜΜΑ mixed ΚΕΦΑΛΑΙΑ greek case",       # case folding
]


#: Per-table mutated rows (``degenerate_sweep._extend`` spec): the
#: UNICODE_DOCS documents, plus unicode group keys and a unicode JSON
#: value in events.
UNICODE_MUTS: dict[str, tuple[str, list[dict]]] = {
    "documents": (
        "doc_id", [{"text": t, "n_chars": len(t)} for t in UNICODE_DOCS],
    ),
    "events": (
        "event_id",
        [
            {"event_type": "café_click"},                       # unicode group key
            {"event_type": "购买"},                      # CJK group key
            {"props": '{"k": 1, "s": "emoji \U0001f680 café"}'},  # unicode JSON value
        ],
    ),
}


def build() -> str:
    return _mutated_fixture(OUT, "unicode-v1", UNICODE_MUTS)


def main() -> int:
    if len(sys.argv) < 2 or not sys.argv[1].isdigit():
        print(__doc__)
        return 2
    rnd = int(sys.argv[1])
    fixture = build()

    import bench
    from check_oracle import gate

    results = {
        name: {"status": "ok"} if r["ok"]
        else {"status": "fail",
              "detail": r["lines"][0].removeprefix("FAIL  ")[:200]}
        for name, r in gate(bench._session(app="unicode-probe"), fixture).items()
    }
    failures = sorted(
        n for n, r in results.items() if r["status"] == "fail"
    )
    artifact = {
        "round": rnd,
        "purpose": (
            "GATED unicode parity probe: every declared query must hold "
            "value-level Spark≡DuckDB parity on non-ASCII document "
            "text, unicode group keys, and unicode JSON values. The "
            "r11 n_bytes == n_chars ASCII fake-codec contract is "
            "retired — the multimodal oracles recompute from UTF-8 "
            "bytes, so the multimodal family is graded here like "
            "everything else."
        ),
        "started_unix": int(time.time()),
        "fixture": fixture,
        "n_queries": len(results),
        "n_pass": sum(1 for r in results.values() if r["status"] == "ok"),
        "failures": failures,
        "queries": results,
    }
    path = os.path.join(REPO, f"UNICODE_PROBE_r{rnd}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
        f.write("\n")
    print(
        f"wrote {path}: {artifact['n_pass']}/{len(results)} pass, "
        f"{len(failures)} failures {failures}"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
