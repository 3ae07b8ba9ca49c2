"""sf10 (100x) scaling rows for the heavy similarity/dedup families
(VERDICT r10 #6, carried from r9 #4).

Usage:
    python tools/sf10_heavy.py SF01_DIR SF10_DIR OUT_JSON          # orchestrate
    python tools/sf10_heavy.py --one NAME SF_DIR BUDGET            # inner mode

Each family runs in a FRESH subprocess (one Spark session per family —
the mega-session pathology documented in MEASURE.md r8 is exactly what
a five-family sf10 sitting would hit), measures sf0.1 warm min-of-2
then ONE sf10 pass under a cancellable budget, and stamps every row
with /proc/stat steal% plus an int-loop anchor so no row can be pinned
blind. At the default 100x factor (read from the sf directory names
by bench.exponent)

    exponent = log10(t_sf10 / t_sf01) / 2

`sax_banded_forced` bypasses ts_similarity_topk_sax's density router
and runs the banded zip_with verify branch directly — the router
exists precisely because this branch is the wrong plan on a
candidate-dense corpus, and the forced row documents by how much.
A budget kill records None: on this twin-planted synthesis the
qualifying-pair count itself grows ~quadratically in the factor
(documented output-sensitivity), so the radius join and the forced
banded branch are EXPECTED to blow their budgets — the row then
records the documented degradation, not a regression.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

# (name, expected exponent at 100x, sf10 budget seconds)
FAMILIES = [
    ("dedup_weighted_minhash", 2.0, 1200),
    ("dedup_duplicated_spans", 1.0, 1200),
    ("bitext_margin_mining_ivf", 1.5, 1500),
    ("ts_similarity_topk_sax", 2.0, 1500),   # router picks the branch
    ("sax_banded_forced", 2.0, 900),          # banded verify, no router
    ("ts_similarity_radius_join", 2.0, 900),  # output-sensitive
]


def _sax_banded_forced(spark, sf_dir: str):
    """ts_similarity_topk_sax's banded zip_with verify branch, run
    directly instead of through its density router."""
    import arcon_spark.operators.analytics as A

    prof = A._tss_prof(spark, sf_dir)
    words = A._sax_words(prof).localCheckpoint(eager=True)
    return A._sax_banded_verify(prof, words)


def _one(name: str, sf_dir: str, budget: float, passes: int = 1) -> None:
    """Inner mode: print one line `RESULT {t, steal, anchor}` (t None
    on budget kill / error; bench.time_query prints the reason). With
    passes > 1, runs an UNMEASURED warm pass first and reports the min
    of the measured passes — the sf0.1 floor must be a warm floor (a
    cold single-pass session reads 3-7x its steady state from
    JIT/codegen, which would flatter the exponent);
    the sf10 side stays a single cold pass, where minutes of runtime
    amortize the same warmup to noise."""
    from arcon_spark.plans.registry import queries
    from arcon_spark.session import get_spark

    spark = get_spark("sf10_heavy")
    build = _sax_banded_forced if name == "sax_banded_forced" else queries()[name]

    stat0 = bench._proc_stat_ticks()
    if passes > 1:
        bench.time_query(spark, name, build, sf_dir, budget)  # unmeasured warm pass
    times = [bench.time_query(spark, name, build, sf_dir, budget) for _ in range(max(1, passes))]
    out = {
        "t": min((t for t in times if t is not None), default=None),
        "steal": bench._steal_pct(stat0, bench._proc_stat_ticks()),
        "anchor": bench._anchor_sec(),
    }
    print("RESULT " + json.dumps(out), flush=True)


def _spawn(name: str, sf_dir: str, budget: float, passes: int = 1) -> dict:
    p = subprocess.run(
        [
            sys.executable,
            os.path.abspath(__file__),
            "--one",
            name,
            sf_dir,
            str(budget),
            str(passes),
        ],
        capture_output=True,
        text=True,
        timeout=budget * (passes + 1) + 600,
    )
    lines = p.stdout.splitlines()
    for line in lines:
        if line.startswith("RESULT "):
            out = json.loads(line[7:])
            if out["t"] is None:  # the last reason bench.time_query printed
                out["err"] = next((x for x in reversed(lines) if x.startswith("ERROR ")), None)
            return out
    return {"t": None, "err": f"no RESULT (rc={p.returncode}): {p.stderr[-200:]}"}


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--one":
        _one(
            sys.argv[2],
            sys.argv[3],
            float(sys.argv[4]),
            int(sys.argv[5]) if len(sys.argv) > 5 else 1,
        )
        return 0
    sf01 = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf10 = sys.argv[2] if len(sys.argv) > 2 else "/root/sf10"
    out_path = sys.argv[3] if len(sys.argv) > 3 else "scaling_sf10_r11.json"

    results = bench.load_results(out_path)
    # an sf directory name without a scale factor fails here, not
    # after the first family has been measured
    bench.exponent(1.0, 1.0, sf01, sf10)

    for name, expected, budget in FAMILIES:
        if name in results:
            continue
        r: dict = {"expected": expected}
        # fresh process per phase too: the sf0.1 floor must not inherit
        # a JVM that just chewed through the 100x corpus. Warm floor:
        # one unmeasured warm pass + min-of-2 inside the session.
        lo = _spawn(name, sf01, max(300, budget * 0.2), passes=2)
        r["t_sf01"] = round(lo["t"], 2) if lo.get("t") is not None else None
        r["steal_t_sf01"] = lo.get("steal")
        r["anchor_t_sf01"] = lo.get("anchor")
        hi = _spawn(name, sf10, budget)
        r["t_sf10"] = round(hi["t"], 2) if hi.get("t") is not None else None
        r["steal_t_sf10"] = hi.get("steal")
        r["anchor_t_sf10"] = hi.get("anchor")
        if hi.get("err"):
            r["err_sf10"] = hi["err"]
        e = bench.exponent(r["t_sf01"], r["t_sf10"], sf01, sf10)
        if e is None:
            r["verdict"] = "TIMEOUT-OR-ERROR"
        else:
            r["ratio"], r["exponent"] = e
            r["verdict"] = "ok" if r["exponent"] <= expected + 0.08 else "SUPER-LINEAR"
        results[name] = r
        print(f"{name:28s} {json.dumps(r)}", flush=True)
        bench.save_results(out_path, results)
    bad = [n for n, r in results.items() if r["verdict"] == "SUPER-LINEAR"]
    print(f"\nflagged SUPER-LINEAR: {bad}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
