"""Render QUERIES.md, SCALE.md and PLANS.md from plans already captured.

This module builds no query and starts no Spark session. The tier-1
session cache (tests/conftest.py::query_results) calls ``capture`` once
per batch query at sf0.001, and tests/test_docs.py renders the three
documents from the registry and the cached plans and compares each one
to the committed file. A stale document fails there with a diff and the
``cp`` line that installs the rendered copy; running those tests is how
the documents are regenerated.

SCALE.md columns:
- shuffles: unique shuffle exchanges in the executed plan (0 =
  embarrassingly parallel projection/scan pipeline)
- scans:    parquet scans (re-scans of the same table show up here)
- python:   whether the plan contains an Arrow/Python stage
  (mapInPandas / applyInPandas) — the deliberate slow path
- bcast:    broadcast exchanges (small-side dims)
- aggs:     HashAggregate/ObjectHashAggregate count (SortAggregate
  is banned registry-wide by tests/test_plans.py)
- build actions: Spark actions the query function runs before it
  returns its DataFrame (eager checkpoints, driver-side collects,
  convergence counts), counted from the jobs of the build's job group
  with every table schema already learned. Actions, not jobs: adaptive
  execution may split one action into a number of jobs that depends on
  stage timing

Beyond the table, two enumerated-and-justified sections: plans with
>= HIGH_SHUFFLE shuffles, and plans containing a single-partition
WindowExec (empty partition spec). Each such row needs a one-line
justification in HIGH_SHUFFLE_NOTES / GLOBAL_WINDOW_NOTES;
tests/test_plans.py fails on a missing or stale note.
"""

from __future__ import annotations

import re
import textwrap

HIGH_SHUFFLE = 6
_PYTHON_OPS = (
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)

# One-line justifications for any row that still plans >= 6 shuffles —
# tests/test_plans.py fails on such a row without a note, and on a note
# whose query no longer needs one. Add a note when a high-shuffle plan
# is the semantically-required shape; trim the plan otherwise.
HIGH_SHUFFLE_NOTES: dict[str, str] = {
    "graph_triangle_count": (
        "the wedge-closure join sequence IS the algorithm: e1⋈e2 (on b=a) "
        "and ⋈e3 (on a,b) are differently-keyed exchanges over the deduped, "
        "checkpointed edge list, plus the scalar node/edge audit rows; the "
        "low→high orientation bounds the wedge join by Σd², and the edge "
        "list is orders smaller than the fact table it came from"
    ),
    "exact_median_selection": (
        "deliberate two-phase selection: the histogram pass, the "
        "cumulative-rank windows, and the pruned-sliver rescan each need "
        "their own event_type-keyed exchange — but every exchange after "
        "phase 1 moves only per-bin/per-sliver rows, never the full data; "
        "this is the bounded-memory alternative to a global sort"
    ),
    "text_bigram_assoc_score": (
        "each exchange is a distinct semantic key: spread of the "
        "single-file scan, corpus pair-count agg, vocabulary agg, the "
        "inverted-index rejoin on (w1,w2), and the per-doc mean on doc_id; "
        "the stats tables and the rejoin cannot share a partitioning, and "
        "the vocabulary sides ride as broadcasts"
    ),
}


# One-line justifications for any query whose plan contains a
# single-partition WindowExec (empty partition spec — "No Partition
# Defined" at runtime): legitimate ONLY over a DERIVED table whose row
# count is bounded by construction (hours, bins, slivers, scalar
# audits), never over event-scale data. The plan guard refuses to
# leave such a row unexplained, exactly like the >=6-shuffle rows.
_TPR_NOTE = (
    "io.two_phase_rank offset table: the only global window runs over "
    "one row per range partition (rows = shuffle width, a cluster "
    "constant); the corpus-scale rank/cumsum itself is per-partition"
)
GLOBAL_WINDOW_NOTES: dict[str, str] = {
    # --- rewritten in r7 onto io.two_phase_rank (range exchange +
    # per-partition rank + broadcast #partitions-row offsets): the
    # detector still sees the offset table's tiny global window
    "corpus_shuffle_rank": _TPR_NOTE,
    "corpus_pack_bins": _TPR_NOTE,
    "histogram_equidepth_value": _TPR_NOTE,
    "rfm_customer_segments": _TPR_NOTE + " (three chained ranks, one per RFM axis)",
    "tokenizer_vocab_coverage": _TPR_NOTE,
    # --- bounded derived tables: the window input is hours / bins /
    # shards / top-k partials by construction, never event-scale
    "bpe_pair_merge_stats": (
        "rank <= top-k filter plans as WindowGroupLimit: the Partial "
        "trim caps the single-partition input at k rows per map "
        "partition (k * shuffle-width), not the pair vocabulary"
    ),
    "decayed_topk_parts": (
        "rank <= top-k over the per-part scored aggregate plans as "
        "WindowGroupLimit — Partial trim bounds the final window at "
        "k rows per partition"
    ),
    "cumulative_distinct_users": (
        "running sum over the per-HOUR new-user counts — rows bounded "
        "by the time horizon (8760/year), not events"
    ),
    "dedup_sorted_neighborhood": (
        "the global lead() runs ONLY on the boundary stitch frame — "
        "heads/tails of each sort bucket, O(#buckets * window) rows "
        "independent of corpus size; the corpus-scale lead is "
        "per-bucket (see the SHARDED-sort docstring)"
    ),
    "gini_best_split_totalprice": (
        "cumulative class counts + argmin over the 100-row price-BIN "
        "table; bin count is a constant of the operator"
    ),
    "heavy_hitters_shard_union": (
        "ranks run on the candidate union (<= local-M per shard, "
        "shard count fixed) and the truth set trimmed to K via "
        "WindowGroupLimit — both bounded by sketch parameters"
    ),
    "hybrid_search_rrf": (
        "both ranker outputs end in TakeOrdered/top-k (<= K rows "
        "each); the rank-assignment and RRF-fusion windows run on "
        "<= 2K rows regardless of corpus size"
    ),
    "pareto_frontier_orders": (
        "running max over the per-DATE max-price table (|distinct "
        "dates| rows, bounded by the calendar); the corpus-scale "
        "dominance test is a broadcast threshold join"
    ),
    "sequence_gap_report": (
        "global lead over one min-row per 2^14-id shard — a 4-orders-"
        "of-magnitude reduction of the key space; re-shard "
        "hierarchically if the id space outgrows it"
    ),
    "skew_diagnostics_events": (
        "rank over the per-KEY count aggregate trimmed to the top-k "
        "report rows via WindowGroupLimit; diagnostics output is "
        "k rows by construction"
    ),
    "stl_decompose_hourly": (
        "centered moving average over the per-HOUR series "
        "(8760/year rows); decomposing many series in parallel adds "
        "the series key to PARTITION BY (see docstring)"
    ),
    "survival_risk_table": (
        "cumulative deaths over the per-DAY lifetime table — rows "
        "bounded by the observation horizon in days"
    ),
    "theil_sen_hourly_trend": (
        "slope median via rank over the h^2 pairwise-slope table of "
        "the per-HOUR series — bounded by the horizon squared, not "
        "events (sketch alternative documented for longer horizons)"
    ),
    "weighted_sample_without_replacement": (
        "rn assignment runs AFTER orderBy().limit(k): TakeOrdered "
        "reduces to k rows before the window touches anything"
    ),
}

# The queries whose formatted plans PLANS.md shows, in this order.
INTERESTING = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5ish",
    "tpch_q6",
    "tpch_q4ish",
    "tpch_q9ish",
    "tpch_q18ish",
    "tpch_q21ish",
    "broadcast_dim_join",
    "topk_per_group",
    "sort_limit_orders",
    "asof_join_purchase_view",
    "range_join_close_events",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "tumbling_window_agg",
    "session_window_agg",
    "tpch_q2ish",
    "vocab_top_tokens",
    "text_tfidf_topterms",
    "sessionize_events",
    "kmeans_embeddings",
    "graph_triangle_count",
    "zorder_events_layout",
    "histogram_equidepth_value",
    "ohlc_hourly_value",
    "corr_quantity_price_by_flag",
    "funnel_conversion",
    "interval_coverage_users",
    "cep_purchase_error_pattern",
    "cusum_changepoint_hourly",
    "kmv_distinct_users",
    "text_trigram_simpson",
    "rolling_median_value",
    "dedup_kept_corpus",
    "sax_symbolize_hourly",
    "brown_trend_forecast",
    "debounce_events",
    "snapshot_diff_user_stats",
    "pq_encode_embeddings",
    "cms_token_counts",
    "bpe_apply_merges",
    "multimodal_image_ahash_groups",
    "text_unigram_entropy",
    "text_bm25_rank",
    "dsir_importance_weights",
    "hard_negative_mining",
    "dedup_cross_doc_spans",
    "pack_concat_chunks",
    "curation_funnel_counts",
    "nb_lang_classifier",
    "bitext_margin_mining",
    "bitext_margin_mining_ivf",
    "source_protobuf_oneof_roundtrip",
    "dp_noisy_domain_counts",
    "dp_median_chars",
]


def capture(df) -> tuple[str, str]:
    """(executed, formatted) physical plan strings of ``df``, taken
    before it runs; the formatted one has runs of blank lines folded."""
    qe = df._jdf.queryExecution()
    executed = qe.executedPlan().toString()
    formatted = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
    return executed, re.sub(r"\n{3,}", "\n\n", formatted.strip())


def normalise(plan: str, sf_dir: str, shuffle_partitions: int) -> str:
    """A formatted plan with its session-dependent tokens as
    placeholders: expression ids, plan ids, RDD ids and call sites
    behind localCheckpoint (the JVM reports a reflective call site
    differently once it has inflated it), common-subexpression names,
    the fixture directory and any partitioning width equal to the
    session's shuffle width."""
    plan = plan.replace(sf_dir.rstrip("/"), "<sf_dir>")
    for pattern, repl in (
        (r"#\d+", "#<n>"),
        (r"plan_id=\d+", "plan_id=<n>"),
        (r"RDD\[\d+\]", "RDD[<n>]"),
        (r"(RDD\[<n>\] at \w+ at )[^\s,]+", r"\1<call site>"),
        (r"_common_expr_\d+", "_common_expr_<n>"),
        (rf"([Pp]artitioning\((?:[^\n]*, )?){shuffle_partitions}\)", r"\g<1><n>)"),
    ):
        plan = re.sub(pattern, repl, plan)
    return plan


def _global_window_count(plan: str) -> int:
    """Count WindowExec operators with an EMPTY partition spec.

    WindowExec prints `Window [exprs], [part], [order]` (3 top-level
    groups) when partitioned, `Window [exprs], [order]` (2 groups)
    when global, and `Window [exprs], [part]` (2 groups) when
    partitioned without ordering — the 2-group forms disambiguate by
    the sort-direction tokens only an order spec contains. Dedup by
    plan_id like _exchange_counts (cached subtrees re-print)."""
    seen: set[str] = set()
    n = 0
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ").lstrip()
        if not (s.startswith("Window ") or s.startswith("WindowGroupLimit ")):
            continue
        m = re.search(r"\[plan_id=(\d+)\]", line)
        key = m.group(1) if m else s
        if key in seen:
            continue
        seen.add(key)
        # split into top-level [...] groups
        groups, depth, start = [], 0, None
        for i, ch in enumerate(s):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(s[start : i + 1])
        if s.startswith("WindowGroupLimit "):
            # prints `WindowGroupLimit [part], [order], rankFn, k` —
            # global iff the first group is empty or an order spec
            if groups and (
                groups[0] == "[]" or " ASC " in groups[0] or " DESC " in groups[0]
            ):
                n += 1
            continue
        if len(groups) >= 3:
            continue  # [exprs], [part], [order]
        if len(groups) == 2 and (" ASC " in groups[1] or " DESC " in groups[1]):
            n += 1  # [exprs], [order] — no partition spec
        elif len(groups) == 2 and groups[1] == "[]":
            n += 1
    return n


def _exchange_counts(plan: str) -> tuple[int, int]:
    """(shuffles, broadcasts) as UNIQUE physical exchanges. A cached
    frame's plan is re-printed under every InMemoryTableScan, so raw
    substring counts tally the same exchange once per reprint; dedup
    by plan_id (or by the full line when no id is printed) and skip
    ReusedExchange references, which are pointers, not operators."""
    sh: set[str] = set()
    bc: set[str] = set()
    for line in plan.splitlines():
        if "Exchange" not in line or "ReusedExchange" in line:
            continue
        m = re.search(r"\[plan_id=(\d+)\]", line)
        key = m.group(1) if m else line.strip()
        (bc if "BroadcastExchange" in line else sh).add(key)
    return len(sh), len(bc)


def queries_md() -> str:
    """QUERIES.md: every registered query with its tags, oracle status
    and docstring."""
    from arcon_spark.plans.registry import REGISTRY, queries

    queries()  # populate
    by_tag: dict[str, int] = {}
    for spec in REGISTRY.values():
        for t in spec.tags:
            by_tag[t] = by_tag.get(t, 0) + 1
    out = [
        "# QUERIES — the registered query surface",
        "",
        f"{len(REGISTRY)} queries; 'oracle' = hash-checked against DuckDB",
        "by the driver, 'rows-only' = approximate/engine-specific result.",
        "",
        "Tags: " + ", ".join(f"{t}({n})" for t, n in sorted(by_tag.items())),
        "",
    ]
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        check = "oracle" if spec.oracle else "rows-only"
        doc = " ".join((spec.doc or "").split())
        doc = textwrap.fill(doc, width=72, initial_indent="  ", subsequent_indent="  ")
        out += [f"## {name}  `[{check}]`  {' '.join(spec.tags)}", "", doc or "  (no doc)", ""]
    return "\n".join(out)


def scale_md(executed_plans: dict[str, str], build_actions: dict[str, int]) -> str:
    """SCALE.md: the plan-shape table of every batch query, from its
    executed plan and its build-action count, plus the justified
    high-shuffle and global-window rows."""
    from arcon_spark.plans.registry import REGISTRY

    rows = []
    for name, plan in sorted(executed_plans.items()):
        n_sh, n_bc = _exchange_counts(plan)
        rows.append(
            (
                name,
                n_sh,
                plan.count("Scan parquet"),
                "yes" if any(op in plan for op in _PYTHON_OPS) else "",
                n_bc,
                plan.count("HashAggregate") + plan.count("ObjectHashAggregate"),
                build_actions[name],
                ", ".join(REGISTRY[name].tags[:3]),
                _global_window_count(plan),
            )
        )
    out = [
        "# SCALE — physical-plan audit of every batch query",
        "",
        "Rendered by tools/plan_docs.py from the executed plans the tier-1",
        "test session captures (tests/conftest.py::query_results, sf0.001,",
        "before execution); tests/test_docs.py fails when this file differs.",
        "Plan SHAPE is scale-invariant — AQE may coalesce partition counts",
        "at runtime but the operator tree is what ships to a 1000-executor",
        "cluster. SortAggregate, cartesian products and un-allowlisted",
        "broadcast-nested-loop joins are banned registry-wide by",
        "tests/test_plans.py; Python stages are deliberate (Arrow-batched",
        "multimodal/ANN featurizers), never incidental. `build actions`",
        "counts the Spark actions (eager checkpoints, collects, counts) a",
        "query runs while building its DataFrame; a change to a count needs",
        "a doc update here.",
        "",
        "| query | shuffles | scans | python | bcast | aggs | build actions | tags |",
        "|---|---|---|---|---|---|---|---|",
    ]
    out += ["| " + " | ".join(str(c) for c in r[:8]) + " |" for r in rows]
    n_zero = sum(1 for r in rows if r[1] == 0)
    n_py = sum(1 for r in rows if r[3])
    out += [
        "",
        f"**{len(rows)} batch queries** — {n_zero} plan ZERO shuffles "
        f"(pure scan→project pipelines); {n_py} use the Arrow/Python "
        "path by design; the rest shuffle only on their semantic keys.",
    ]
    high = [r for r in rows if r[1] >= HIGH_SHUFFLE]
    if high:
        out += ["", f"## High-shuffle rows (>= {HIGH_SHUFFLE}), each justified", ""]
        for r in high:
            note = HIGH_SHUFFLE_NOTES.get(r[0], "UNEXPLAINED — trim the plan or add a note")
            out.append(f"- **{r[0]}** ({r[1]} shuffles): {note}")
    gw_rows = [r for r in rows if r[8] > 0]
    if gw_rows:
        out += [
            "",
            "## Single-partition Window rows (WindowExec with no "
            "partition spec), each justified",
            "",
            "A global window moves ALL its input to one task — "
            "legitimate only over a DERIVED table whose row count is "
            "bounded by construction (hour series, fixed bins, "
            "top-k-trimmed candidates, scalar audits), never over "
            "event-scale data. tests/test_plans.py fails on every "
            "such plan without a note; an unexplained row is a bug to fix.",
            "",
        ]
        for r in gw_rows:
            note = GLOBAL_WINDOW_NOTES.get(r[0], "UNEXPLAINED — repartition the window or add a note")
            out.append(f"- **{r[0]}** ({r[8]} global window{'s' if r[8] > 1 else ''}): {note}")
    return "\n".join(out) + "\n"


def plans_md(formatted_plans: dict[str, str], sf_dir: str, shuffle_partitions: int) -> str:
    """PLANS.md: the normalised formatted plan of each INTERESTING
    query, in that order."""
    out = [
        "# PLANS — physical plans for headline queries",
        "",
        "Rendered by tools/plan_docs.py from the formatted plans the tier-1",
        "test session captures (tests/conftest.py::query_results, sf0.001,",
        "before execution); tests/test_docs.py fails when this file differs.",
        "Session counters are placeholders: `#<n>`, `plan_id=<n>`,",
        "`RDD[<n>]` with its `<call site>` and `_common_expr_<n>`; so are the",
        "fixture directory (`<sf_dir>`) and a partitioning width equal to",
        "`spark.sql.shuffle.partitions` (`<n>`).",
        "What to look for: `PushedFilters` / trimmed `ReadSchema` on every",
        "scan, `BroadcastHashJoin` for dimension joins, partial+final",
        "`HashAggregate` pairs around a single `Exchange`,",
        "`WindowGroupLimit` under top-k, `TakeOrderedAndProject` for",
        "global sort+limit, and no Python evaluators in JVM-only paths.",
        "",
    ]
    for name in INTERESTING:
        plan = normalise(formatted_plans[name], sf_dir, shuffle_partitions)
        out += [f"## {name}", "", "```", plan, "```", ""]
    return "\n".join(out)
