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
blind. The factor is 100x, so

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
import math
import os
import subprocess
import sys
import threading
import time

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


def _frame(name: str, spark, sf_dir: str):
    if name == "sax_banded_forced":
        import arcon_spark.operators.analytics as A

        prof = A._tss_prof(spark, sf_dir)
        words = A._sax_words(prof).localCheckpoint(eager=True)
        return A._sax_banded_verify(prof, words)
    from arcon_spark.plans.registry import queries

    return queries()[name](spark, sf_dir)


def _one(name: str, sf_dir: str, budget: float, passes: int = 1) -> None:
    """Inner mode: print one JSON line {t, steal, anchor} (t None on
    budget kill / error). With passes > 1, runs an UNMEASURED warm pass
    first and reports the min of the measured passes — the sf0.1 floor
    must be a warm floor (a cold single-pass session reads 3-7x its
    steady state from JIT/codegen, which would flatter the exponent);
    the sf10 side stays a single cold pass, where minutes of runtime
    amortize the same warmup to noise."""
    from arcon_spark.session import get_spark

    spark = get_spark("sf10_heavy")
    sc = spark.sparkContext

    def run_once() -> dict:
        box: dict = {}

        def work() -> None:
            try:
                sc.setJobGroup(f"sf10_{name}", name, interruptOnCancel=True)
                t0 = time.time()
                _frame(name, spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                box["t"] = time.time() - t0
            except Exception as ex:
                box["err"] = f"{type(ex).__name__}: {str(ex)[:160]}"

        th = threading.Thread(target=work, daemon=True)
        th.start()
        th.join(budget)
        if th.is_alive():
            sc.cancelJobGroup(f"sf10_{name}")
            th.join(120)
            return {"err": "BUDGET"}
        return box

    stat0 = bench._proc_stat_ticks()
    if passes > 1:
        run_once()  # unmeasured warm pass
    best, err = None, None
    for _ in range(max(1, passes)):
        spark.catalog.clearCache()
        r = run_once()
        if r.get("t") is not None and (best is None or r["t"] < best):
            best = r["t"]
        err = r.get("err", err)
    out = {
        "t": best,
        "err": None if best is not None else err,
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
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[7:])
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

    results: dict = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            results = json.load(fh)
        print(f"resuming past {sorted(results)}", flush=True)

    def save() -> None:
        tmp = out_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(results, fh, indent=1)
        os.replace(tmp, out_path)

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
        # the sf0.1 floor divides, so it alone must be non-zero
        if r["t_sf01"] and r["t_sf10"] is not None:
            r["ratio"] = round(r["t_sf10"] / r["t_sf01"], 2)
            r["exponent"] = round(math.log10(max(r["ratio"], 1e-9)) / 2.0, 2)
            r["verdict"] = (
                "ok" if r["exponent"] <= expected + 0.08 else "SUPER-LINEAR"
            )
        else:
            r["verdict"] = "TIMEOUT-OR-ERROR"
        results[name] = r
        print(f"{name:28s} {json.dumps(r)}", flush=True)
        save()
    bad = [n for n, r in results.items() if r["verdict"] == "SUPER-LINEAR"]
    print(f"\nflagged SUPER-LINEAR: {bad}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
