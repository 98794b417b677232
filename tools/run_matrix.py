"""Single-command verification matrix (VERDICT r9 item 5 / r10 item 3).

Runs every leg of the repo's verification matrix sequentially — the
exact set the round-end discipline requires — and writes a committed
``MATRIX_r{N}.json`` artifact with per-leg pass/fail, duration, and
output tail, so any leg failure is visible without log archaeology:

    pytest        python -m pytest tests/ -q
    oracle_sf0001 tools/check_oracle.py sf0.001
    oracle_sf001  tools/check_oracle.py sf0.01   (the driver's t2 scale)
    oracle_sf01   tools/check_oracle.py sf0.1    (boundary-precision bugs)
    oracle_tz     tools/check_oracle.py --tz=America/New_York sf0.01
    dtypes        tools/check_dtypes.py sf0.01
    degenerate    tools/degenerate_sweep.py both (empty + single-row)
    nulls         tools/degenerate_sweep.py nulls (full NULL-parity gate)
    hostile       tools/degenerate_sweep.py hostile (NaN/±Inf, boundary
                  timestamps, adversarial vectors — full parity gate)
    unicode       tools/unicode_probe.py <round> (multilingual parity
                  gate — the probe exits nonzero on failure; without a
                  matrix leg nothing ran it automatically, ADVICE r12)
    reach         tools/degenerate_sweep.py reach <round> (injection-
                  reachability audit, VERDICT r12 item 1: FAILS when a
                  declared query's hostile-fixture output is value-
                  identical to its clean output — the hostile gate
                  never reached it)
    bench         python bench.py --wait-clean, once (solo — never
                  concurrent with other Spark work; the compact JSON
                  line is recorded). bench.py owns the clean-window
                  policy: it starts in a steal-free gap at low load and
                  re-times each dirty number itself; a capture that
                  still self-flags ``contaminated`` records the leg as
                  ``pass-contaminated``.

Legs run one at a time (the bench leg REQUIRES that; oracle checks
tolerate concurrency but sequential keeps timings attributable).

Usage: python tools/run_matrix.py <round> [--skip LEG[,LEG...]] [--only LEG[,LEG...]]
Exit 1 if any executed leg fails. Skipped legs are recorded as
``"skipped"`` — an artifact with skips documents a PARTIAL matrix.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PY = sys.executable

def build_legs(rnd: int) -> list[tuple[str, list[str]]]:
    """Leg list for round ``rnd`` — a function because the unicode and
    reach legs stamp their committed artifacts with the round number."""
    return [
        # -rs: print skip REASONS in the summary so the two permanent
        # environment gates (protobuf TWS, Kafka live broker) are
        # re-asserted in every leg tail instead of rotting as a bare
        # "2 skipped" count (VERDICT r15 item 8).
        ("pytest", [PY, "-m", "pytest", "tests/", "-q", "-rs"]),
        ("oracle_sf0001",
         [PY, "tools/check_oracle.py", "/root/testdata/sf0.001"]),
        ("oracle_sf001",
         [PY, "tools/check_oracle.py", "/root/testdata/sf0.01"]),
        ("oracle_sf01",
         [PY, "tools/check_oracle.py", "/root/testdata/sf0.1"]),
        (
            "oracle_tz",
            [PY, "tools/check_oracle.py", "--tz=America/New_York",
             "/root/testdata/sf0.01"],
        ),
        ("dtypes", [PY, "tools/check_dtypes.py", "/root/testdata/sf0.01"]),
        ("degenerate", [PY, "tools/degenerate_sweep.py", "both"]),
        ("nulls", [PY, "tools/degenerate_sweep.py", "nulls"]),
        ("hostile", [PY, "tools/degenerate_sweep.py", "hostile"]),
        ("unicode", [PY, "tools/unicode_probe.py", str(rnd)]),
        ("reach", [PY, "tools/degenerate_sweep.py", "reach", str(rnd)]),
        # --wait-clean: start the sweep in a steal-free gap at low load
        ("bench", [PY, "bench.py", "--wait-clean"]),
    ]

def _is_stray_cmd(argv: list[str]) -> bool:
    """True when an argv genuinely RUNS one of the guarded surfaces —
    a bench/matrix run, an idle-chaser shell loop (the r15 incident: a
    PRIOR session's /tmp/bench_idle_chaser.sh was still alive and
    launched a solo sf0.1 bench mid-matrix), or a Spark JVM from an
    earlier leg — not when it merely mentions a filename (ADVICE r16:
    plain substring matching flagged editors, `tail -f`,
    `grep bench.py`, shell history, causing spurious 120 s waits and
    false 'strays' stamps). Anchoring: a Spark JVM is a java
    executable whose argv mentions org.apache.spark; a bench/matrix
    run is a python interpreter whose script argument IS
    bench.py/run_matrix.py (positionally or via `python -m bench`); a
    chaser is a shell (or the script itself) mentioning
    bench_idle_chaser, or a shell -c body that pipes python into
    bench.py/run_matrix.py."""
    if not argv:
        return False
    exe = os.path.basename(argv[0])
    if "java" in exe:
        return any("org.apache.spark" in t for t in argv[1:])
    if exe.startswith("python"):
        rest = argv[1:]
        if any(
            t == p or t.endswith("/" + p)
            for t in rest
            for p in ("bench.py", "run_matrix.py")
        ):
            return True
        # `python -m bench` / `python -m tools.run_matrix` (ADVICE r17)
        for i, t in enumerate(rest[:-1]):
            if t == "-m" and rest[i + 1].rsplit(".", 1)[-1] in (
                "bench",
                "run_matrix",
            ):
                return True
        return False
    if exe in ("bash", "sh", "dash", "zsh", "ksh") or "bench_idle_chaser" in exe:
        return any(
            "bench_idle_chaser" in t
            or ("python" in t and ("bench.py" in t or "run_matrix.py" in t))
            for t in argv
        )
    return False


def stray_processes() -> list[dict]:
    """Processes OUTSIDE this run's own ancestry that _is_stray_cmd
    recognizes as running a guarded surface (VERDICT r15 item 6;
    ADVICE r17 retired the old STRAY_PATTERNS list). Self and ancestors are
    excluded (the shell/agent that launched us legitimately mentions
    run_matrix.py); descendants are NOT — the guard runs between legs,
    when no leg subprocess should be alive, so a surviving child IS a
    leak worth flagging. Read-only: the guard records and warns, it
    never kills (a co-tenant's process is not ours to reap)."""
    me = os.getpid()
    excluded = {me}
    pid = me
    for _ in range(64):  # ancestor walk, bounded
        try:
            with open(f"/proc/{pid}/status") as f:
                ppid = next(
                    int(ln.split()[1]) for ln in f
                    if ln.startswith("PPid:")
                )
        except (OSError, StopIteration, ValueError):
            break
        if ppid <= 1 or ppid in excluded:
            break
        excluded.add(ppid)
        pid = ppid
    strays: list[dict] = []
    try:
        pids = [d for d in os.listdir("/proc") if d.isdigit()]
    except OSError:  # pragma: no cover — non-Linux
        return strays
    for d in pids:
        p = int(d)
        if p in excluded:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        argv = [
            t.decode(errors="replace")
            for t in raw.split(b"\0")
            if t
        ]
        if _is_stray_cmd(argv):
            strays.append({"pid": p, "cmd": " ".join(argv)[:160]})
    return strays


def _guard_strays(where: str, wait_sec: float = 0.0) -> list[dict]:
    """Report stray processes, optionally waiting for them to exit
    (polling; bench legs get a grace window — a prior leg's JVM may
    still be tearing down). Returns whatever is STILL alive."""
    t0 = time.monotonic()
    strays = stray_processes()
    while strays and time.monotonic() - t0 < wait_sec:
        print(
            f"STRAY {where}: {len(strays)} matching process(es) alive, "
            f"waiting for exit: "
            + "; ".join(f"pid {s['pid']}: {s['cmd'][:80]}" for s in strays),
            flush=True,
        )
        time.sleep(5.0)
        strays = stray_processes()
    for s in strays:
        print(
            f"STRAY {where}: pid {s['pid']} still alive — leg verdicts "
            f"may be contaminated and round artifacts may be clobbered: "
            f"{s['cmd'][:120]}",
            flush=True,
        )
    return strays


def _bench_contaminated(out: str) -> bool | None:
    """Pull the self-diagnosed contamination flag from the bench's
    compact JSON line; None when no parsable line is found."""
    for ln in reversed(out.splitlines()):
        s = ln.strip()
        if not s.startswith("{"):
            continue
        try:
            rec = json.loads(s)
        except ValueError:
            continue
        if isinstance(rec, dict) and "metric" in rec:
            load = rec.get("loadavg")
            if isinstance(load, dict) and "contaminated" in load:
                return bool(load["contaminated"])
            return None
    return None


def git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


#: Generated round artifacts — excluded from the code digest so that a
#: commit that only lands artifacts (MATRIX/BENCH/CORRECTNESS/probe
#: JSONs, regenerated docs) preserves the digest the matrix attested.
ARTIFACT_PREFIXES = (
    "MATRIX_r", "BENCH_", "CORRECTNESS_r", "REACH_AUDIT_r",
    "UNICODE_PROBE_r", "SCALE_PROBE_r", "COPYCHECK", "LEAKCHECK",
    "PLANS.md", "VERDICT.md", "ADVICE.md",
)


def is_round_artifact(rel: str) -> bool:
    """True for files the rounds GENERATE (graded artifacts, judge
    docs) — the set excluded from code_digest()."""
    base = os.path.basename(rel)
    return any(base.startswith(p) for p in ARTIFACT_PREFIXES)


#: Markers bounding generated-from-artifacts blocks inside otherwise
#: hand-written tracked files (the README bench-trend table). Content
#: between the markers is stripped before digesting so an artifact
#: commit that also refreshes the table preserves the attested digest
#: (ADVICE r14: README.md is in the digest but embeds a table
#: regenerated from BENCH_r*.json each round).
GENERATED_BEGIN = b"<!-- generated:"
GENERATED_END = b"<!-- end generated -->"


def strip_generated_blocks(data: bytes) -> bytes:
    """Drop every GENERATED_BEGIN..GENERATED_END span (markers
    inclusive). An unterminated begin marker strips to EOF — safer
    than digesting a half-regenerated table."""
    out = []
    pos = 0
    while True:
        b = data.find(GENERATED_BEGIN, pos)
        if b < 0:
            out.append(data[pos:])
            return b"".join(out)
        out.append(data[pos:b])
        e = data.find(GENERATED_END, b)
        if e < 0:
            return b"".join(out)
        pos = e + len(GENERATED_END)


def untracked_artifacts() -> list[str]:
    """Round artifacts (per is_round_artifact) that exist in the
    working tree but are untracked or modified-unstaged — the exact
    shape that shipped broken in r13 and r14. The matrix fails loud on
    a non-empty result."""
    try:
        out = subprocess.run(
            ["git", "-C", REPO, "status", "--porcelain"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode != 0:
            return []
    except (OSError, subprocess.SubprocessError):
        return []
    loose = []
    for line in out.stdout.splitlines():
        if len(line) < 4:
            continue
        rel = line[3:].strip().strip('"')
        if is_round_artifact(rel):
            loose.append(rel)
    return sorted(loose)


def commit_artifacts(rnd: int, loose: list[str]) -> bool:
    """Stage and commit ONLY the given round artifacts. Returns True
    on success (or nothing to do after staging)."""
    try:
        add = subprocess.run(
            ["git", "-C", REPO, "add", "--"] + loose,
            capture_output=True, text=True, timeout=30,
        )
        if add.returncode != 0:
            print(add.stderr.strip())
            return False
        commit = subprocess.run(
            ["git", "-C", REPO, "commit",
             "-m", f"round {rnd}: matrix/bench artifacts",
             "--only", "--"] + loose,
            capture_output=True, text=True, timeout=30,
        )
        if commit.returncode != 0:
            print(commit.stdout.strip(), commit.stderr.strip())
            return False
        print(f"committed round artifacts: {loose}")
        return True
    except (OSError, subprocess.SubprocessError) as exc:
        print(f"artifact commit failed: {exc}")
        return False


def code_digest() -> str | None:
    """SHA-256 over the WORKING-TREE content of every tracked file
    that is not a generated round artifact — the state the matrix
    actually ran, independent of which commit later ships the
    artifacts (ADVICE r13: MATRIX_r13 recorded git_head 96bbea0 but
    shipped in 9671c89, so the artifact could not attest the commit it
    sat in). Binding convention: a matrix attests any commit whose
    code_digest matches; artifact-only commits preserve it by
    construction."""
    import hashlib

    try:
        out = subprocess.run(
            ["git", "-C", REPO, "ls-files", "-z"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode != 0:
            return None
        h = hashlib.sha256()
        for rel in sorted(p for p in out.stdout.split("\0") if p):
            if is_round_artifact(rel):
                continue
            path = os.path.join(REPO, rel)
            try:
                with open(path, "rb") as f:
                    data = f.read()
            except OSError:  # deleted-but-tracked
                data = b""
            if GENERATED_BEGIN in data:
                data = strip_generated_blocks(data)
            h.update(rel.encode())
            h.update(b"\0")
            h.update(data)
            h.update(b"\0")
        return h.hexdigest()[:16]
    except (OSError, subprocess.SubprocessError):
        return None


def main() -> int:
    args = sys.argv[1:]
    if not args or not args[0].isdigit():
        print(__doc__)
        return 2
    rnd = int(args[0])
    skip: set[str] = set()
    only: set[str] | None = None
    for a in args[1:]:
        if a.startswith("--skip"):
            skip |= set(a.split("=", 1)[1].split(","))
        elif a.startswith("--only"):
            only = set(a.split("=", 1)[1].split(","))
    legs = build_legs(rnd)
    known = {n for n, _ in legs}
    bad = (skip | (only or set())) - known
    if bad:
        print(f"unknown legs: {sorted(bad)}; known: {sorted(known)}")
        return 2

    result: dict = {
        "round": rnd,
        "git_head": git_head(),
        # The binding that survives artifact-only commits (ADVICE r13):
        # sha256 over tracked non-artifact working-tree content. Verify
        # a commit against this matrix with
        #   git stash -u && git checkout <commit> &&
        #   python -c "import sys; sys.path.insert(0,'tools');
        #              import run_matrix; print(run_matrix.code_digest())"
        "code_digest": code_digest(),
        "started_unix": int(time.time()),
        "legs": {},
    }
    # Stray-process guard (VERDICT r15 item 6): a prior session's
    # bench/chaser/Spark process running NOW will contaminate leg
    # verdicts and can clobber round artifacts — surface it up front
    # and stamp it into the artifact so a dirty matrix is attributable.
    strays0 = _guard_strays("at matrix start")
    if strays0:
        result["strays_at_start"] = strays0
    any_fail = False
    for name, cmd in legs:
        if name in skip or (only is not None and name not in only):
            result["legs"][name] = {"status": "skipped"}
            print(f"SKIP  {name}")
            continue
        print(f"RUN   {name}: {' '.join(cmd)}", flush=True)
        bench_meta: dict = {}
        if name == "bench":
            # The bench leg is the steal-sensitive one: give a leftover
            # process a short grace to exit, then record whatever is
            # still alive next to the capture.
            strays = _guard_strays("before bench", wait_sec=120.0)
            if strays:
                bench_meta["strays"] = strays
        t0 = time.monotonic()
        try:
            proc = subprocess.run(
                cmd, cwd=REPO, capture_output=True, text=True, timeout=3600,
            )
            rc, out = proc.returncode, proc.stdout + proc.stderr
        except subprocess.TimeoutExpired:
            rc, out = -1, "TIMEOUT after 3600s"
        dur = round(time.monotonic() - t0, 1)
        # tail: the verdict lines every leg prints last (ALL OK /
        # failure list / pytest summary / bench JSON). Spark progress
        # bars arrive as \r-terminated segments and Spark/parquet log
        # chatter interleaves — filter from the FULL output, then keep
        # the last meaningful lines.
        noise = (
            "WARN", "INFO", "log4j", "Using Spark", "[Stage",
            "Scaling row group", "SLF4J", "NativeCodeLoader",
        )
        tail = [
            s for ln in out.splitlines() for s in (x.strip() for x in ln.split("\r"))
            if s and not any(t in s for t in noise)
        ][-6:]
        status = "pass" if rc == 0 else "FAIL"
        if rc != 0:
            any_fail = True
        elif name == "bench" and _bench_contaminated(out):
            # A capture that self-flags contaminated must not read as a
            # clean pass at the verdict level.
            status = "pass-contaminated"
        result["legs"][name] = {
            "status": status,
            "rc": rc,
            "seconds": dur,
            "tail": tail,
            **bench_meta,
        }
        print(f"{status:5} {name} in {dur}s")
    result["total_seconds"] = round(
        sum(
            leg.get("seconds", 0) for leg in result["legs"].values()
        ), 1,
    )
    # pass-contaminated is not a failure (exit stays 0: the numbers are
    # real, just taken under load), but it is not a CLEAN matrix either
    # — all_pass only reads true on a fully-run, uncontaminated matrix.
    result["all_pass"] = not any_fail and all(
        leg["status"] == "pass" for leg in result["legs"].values()
    )
    path = os.path.join(REPO, f"MATRIX_r{rnd}.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(f"\nwrote {path}  all_pass={result['all_pass']}")
    # Untracked-artifact auto-commit (VERDICT r14 item 2, after two
    # rounds of BENCH/CORRECTNESS JSONs shipping untracked): the
    # matrix run is the round's last tooling gate, so it lands every
    # loose round artifact — including the MATRIX file it just wrote —
    # in an artifact-only commit. Safe by construction: artifacts are
    # excluded from code_digest(), so this commit cannot break the
    # attestation the matrix recorded. Fails LOUD if the commit
    # cannot be made.
    loose = untracked_artifacts()
    if loose:
        ok = commit_artifacts(rnd, loose)
        if not ok:
            print(
                "\nFAIL could not auto-commit round artifacts — commit "
                f"them by hand: {loose}"
            )
            any_fail = True
    return 1 if any_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
