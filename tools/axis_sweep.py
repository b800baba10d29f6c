"""One-command hostile-axis battery (VERDICT r17 item 5).

Runs the full oracle gate (tools/check_oracle.py) over the base corpus
AND the five hostile axes — empty, skew, null-heavy, unicode,
extremes —
printing one summary line per axis and exiting nonzero if ANY axis
records a FAIL. This is the standing final-bytes battery: the r17/r18
rounds proved each axis finds real defects, so every engine round runs
this before its closing commit and records the per-axis counts in
PLANS.md.

    python tools/axis_sweep.py                 # base sf0.01 + 5 axes
    python tools/axis_sweep.py /root/testdata/sf0.01 doc_token_chunks
                                               # subset of queries

Axis corpora are regenerated via tools/make_axis_corpora.py when
missing (pass --regen to force — they are a deterministic pure
function of the base corpus, so regeneration is idempotent). Each axis
sweeps in a FRESH subprocess: Spark storage blocks and DuckDB buffer
state from one axis cannot bleed into the next (the r17 container-
memory cascade that produced 11 false OOM FAILs), and a crash in one
axis still reports the others.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

SUMMARY_RE = re.compile(r"(\d+) ok, (\d+) stale, (\d+) FAIL")


def run_axis(name: str, sf_dir: str, queries: list[str]) -> tuple:
    """(name, ok, stale, fail, tail) for one corpus."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "check_oracle.py"),
         sf_dir, *queries],
        cwd=REPO, capture_output=True, text=True)
    out = proc.stdout + proc.stderr
    m = None
    for m in SUMMARY_RE.finditer(out):
        pass  # keep the LAST summary line
    if m is None:
        return (name, 0, 0, -1,
                "\n".join(out.splitlines()[-15:]))
    fails = "\n".join(
        line for line in out.splitlines() if line.startswith("FAIL"))
    return (name, *map(int, m.groups()), fails)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--regen"]
    regen = "--regen" in sys.argv[1:]
    base = args[0] if args else "/root/testdata/sf0.01"
    queries = args[1:]
    axes = {
        "base": base,
        "empty": "/tmp/pv_empty",
        "skew": "/tmp/pv_skew",
        "nulls": "/tmp/pv_nulls",
        "unicode": "/tmp/pv_unicode",
        "extremes": "/tmp/pv_extremes",
    }
    missing = [d for n, d in axes.items()
               if n != "base" and not os.path.isdir(d)]
    if regen or missing:
        print(f"generating axis corpora ({'--regen' if regen else 'missing: ' + ', '.join(missing)})")
        subprocess.run(
            [sys.executable,
             os.path.join(HERE, "make_axis_corpora.py"), base],
            cwd=REPO, check=True)
    total_fail = 0
    results = []
    for name, d in axes.items():
        r = run_axis(name, d, queries)
        results.append(r)
        n_ok, n_stale, n_fail = r[1:4]
        status = "OK" if n_fail == 0 else "FAIL"
        print(f"{name:6s} {status:4s} {n_ok} ok / {n_stale} stale / "
              f"{n_fail} FAIL   [{d}]")
        if n_fail:
            print(r[4])
        total_fail += max(n_fail, 0) + (1 if n_fail < 0 else 0)
    sys.exit(1 if total_fail else 0)


if __name__ == "__main__":
    main()
