"""Semantic audit: checks the oracle CANNOT make.

Cross-engine parity proves Spark and DuckDB compute the same thing —
it cannot prove the thing computed is the intended semantics (round-4
lesson: text_bm25_rank ranked ANTI-relevant for a whole round with
parity green, because the raw Robertson IDF goes negative on common
terms in both engines identically). This tool asserts the model-based
and ranking operators are DISCRIMINATIVE in the intended direction on
the synthetic corpus:

- BM25: every top-k doc matches all query terms, scores positive.
- LM perplexity: the training slice ('en') has the LOWEST mean
  cross-entropy of all languages.
- DSIR: the target slice ('en') has the HIGHEST mean log-weight.
- nDCG: per-query values spread across (0, 1) — not collapsed.
- Hard negatives: every pair crosses labels (also unit-tested).

Usage: python tools/semantic_audit.py [sf_dir]   (default sf0.01)
Exit 0 = all assertions hold.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from arcon_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("semantic_audit")

    from arcon_spark.functions.similarity import (
        hard_negative_mining,
        ndcg_ranking_audit,
    )
    from arcon_spark.functions.text import (
        _LM_TRAIN_LANG,
        _SEARCH_TERMS,
        dsir_importance_weights,
        text_bm25_rank,
        text_lm_perplexity,
    )

    failures: list[str] = []

    bm = text_bm25_rank(spark, sf_dir).collect()
    bm_ok = all(r.n_terms == len(_SEARCH_TERMS) for r in bm) and all(
        r.score_units > 0 for r in bm
    )
    if not bm_ok:
        failures.append(
            f"bm25: top-k not full-match positive (n_terms = "
            f"{sorted({r.n_terms for r in bm})}, "
            f"min score = {min(r.score_units for r in bm)}) — IDF regression?"
        )
    print(f"bm25: {len(bm)} rows, all full-match positive: {bm_ok}")

    ce = {
        r.lang: r.m
        for r in text_lm_perplexity(spark, sf_dir)
        .groupBy("lang")
        .agg(F.avg("cross_entropy").alias("m"))
        .collect()
    }
    if min(ce, key=ce.get) != _LM_TRAIN_LANG:
        failures.append(f"lm: training slice not lowest cross-entropy: {ce}")
    print(f"lm cross-entropy by lang: { {k: round(v, 3) for k, v in ce.items()} }")

    lw = {
        r.lang: r.m
        for r in dsir_importance_weights(spark, sf_dir)
        .groupBy("lang")
        .agg(F.avg("log_weight").alias("m"))
        .collect()
    }
    if max(lw, key=lw.get) != _LM_TRAIN_LANG:
        failures.append(f"dsir: target slice not highest log-weight: {lw}")
    print(f"dsir log-weight by lang: { {k: round(v, 3) for k, v in lw.items()} }")

    nd = [r.ndcg for r in ndcg_ranking_audit(spark, sf_dir).collect()]
    if len(set(nd)) < 3 or not (0.0 <= min(nd) and max(nd) <= 1.0):
        failures.append(f"ndcg: degenerate spread {sorted(nd)}")
    print(f"ndcg spread: {min(nd):.3f}..{max(nd):.3f} over {len(nd)} queries")

    hn = hard_negative_mining(spark, sf_dir).collect()
    if any(r.qlabel == r.clabel for r in hn):
        failures.append("hard negatives: same-label pair leaked through")
    print(f"hard negatives: {len(hn)} pairs, all cross-label: "
          f"{all(r.qlabel != r.clabel for r in hn)}")

    # Bitext mining: planted-twin recovery. The sf corpus has no
    # cross-lingual geometry (same-label en x fr cosine == cross-label,
    # measured ~0.002 vs ~0.002 at sf0.01), so corpus-level agreement
    # cannot discriminate. Instead, build a tiny corpus where 20 'en'
    # docs ARE noisy copies of 20 'fr' docs (plus 20 random 'en'
    # distractors), run the REAL operator on it, and assert the margin
    # criterion recovers the planted translations with high precision —
    # an inverted or mis-normalized margin would surface distractors.
    import tempfile

    import numpy as np
    import pandas as pd

    from arcon_spark.functions.similarity import bitext_margin_mining

    rng = np.random.default_rng(7)
    fr = rng.standard_normal((20, 64))
    fr /= np.linalg.norm(fr, axis=1, keepdims=True)
    twins = fr + 0.15 * rng.standard_normal((20, 64))
    distract = rng.standard_normal((20, 64))
    vecs = np.concatenate([fr, twins, distract]).astype(np.float32)
    ids = np.concatenate(
        [1000 + np.arange(20), 2000 + np.arange(20), 2100 + np.arange(20)]
    )
    langs = ["fr"] * 20 + ["en"] * 40
    with tempfile.TemporaryDirectory(prefix="bitext_audit_") as td:
        pd.DataFrame(
            {"vec_id": ids, "embedding": list(vecs), "label": 0}
        ).to_parquet(f"{td}/embeddings.parquet")
        pd.DataFrame(
            {
                "doc_id": ids,
                "text": "x",
                "lang": langs,
                "source": "audit",
                "n_chars": 1,
            }
        ).to_parquet(f"{td}/documents.parquet")
        mined = bitext_margin_mining(spark, td).collect()
    planted = {(2000 + i, 1000 + i) for i in range(20)}
    got = {(r.doc_en, r.doc_fr) for r in mined}
    recall = len(got & planted) / len(planted)
    precision = len(got & planted) / len(got) if got else 0.0
    if recall < 0.8 or precision < 0.8:
        failures.append(
            f"bitext: planted-twin recall {recall:.2f} / precision "
            f"{precision:.2f} (mined {sorted(got)[:5]}...) — margin direction?"
        )
    print(f"bitext: planted twins recall {recall:.2f}, precision "
          f"{precision:.2f} ({len(got)} mined)")

    if failures:
        print("\nSEMANTIC AUDIT FAILURES:")
        for f_ in failures:
            print(" -", f_)
        return 1
    print("\nsemantic audit: all checks hold")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
