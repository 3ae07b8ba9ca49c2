"""Tests of the benchmark's own helpers: seeded inputs, percentiles and
self time from spans. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, openloop, stream  # noqa: E402
from perfbench.trace import Span, Tracer, percentile, self_times, tail_percentile  # noqa: E402
from perfbench.workloads import END_TO_END, GROUPS, MODULES, WORKLOADS, per_layer_names  # noqa: E402

SMALL = datagen.TapeSpec(segments=3, events_per_segment=2_000, keys=16)


def _digests(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        with open(p, "rb") as fh:
            out.append(hashlib.sha256(fh.read()).hexdigest())
    return out


def test_same_seed_gives_byte_identical_tape(tmp_path):
    a = datagen.write_tape(str(tmp_path / "a"), 7, SMALL)
    b = datagen.write_tape(str(tmp_path / "b"), 7, SMALL)
    c = datagen.write_tape(str(tmp_path / "c"), 8, SMALL)
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)
    # the file source replays by modification time: strictly increasing
    mtimes = [os.stat(p).st_mtime for p in a]
    assert mtimes == sorted(set(mtimes))


def test_same_seed_gives_byte_identical_tables(tmp_path):
    datagen.write_tables(str(tmp_path / "a"), 3, scale=0.001, doc_scale=0.001)
    datagen.write_tables(str(tmp_path / "b"), 3, scale=0.001, doc_scale=0.001)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    assert _digests([str(tmp_path / "a" / n) for n in names]) == _digests([str(tmp_path / "b" / n) for n in names])


# The physical schemas of the project's test datasets (sf0.001, sf0.01 and
# sf0.1 alike). events.ts is timestamp[us] without a time zone there, so
# io.load_table takes its TIMESTAMP_NTZ -> TIMESTAMP path; its int64-nanos
# path serves an older dataset generation.
DATASET_SCHEMAS = {
    "region": "r_regionkey int32, r_name string",
    "nation": "n_nationkey int32, n_name string, n_regionkey int32",
    "customer": "c_custkey int64, c_name string, c_nationkey int32, c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey int64, s_name string, s_nationkey int32, s_acctbal double",
    "part": "p_partkey int64, p_name string, p_brand string, p_type string, p_size int32, p_retailprice double",
    "orders": "o_orderkey int64, o_custkey int64, o_orderstatus string, o_totalprice double, "
    "o_orderdate timestamp[us], o_orderpriority string",
    "lineitem": "l_orderkey int64, l_partkey int64, l_suppkey int64, l_linenumber int32, l_quantity double, "
    "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp[us]",
    "events": "event_id int64, ts timestamp[us], user_id int64, event_type string, value double, props string",
    "documents": "doc_id int64, text string, lang string, source string, n_chars int64",
    "embeddings": "vec_id int64, embedding list<element: float>, label int32",
}


def test_tables_have_the_dataset_schemas(tmp_path):
    import pyarrow.parquet as pq

    from arcon_spark.io import TABLES

    datagen.write_tables(str(tmp_path), 3, scale=0.001, doc_scale=0.001)
    assert sorted(DATASET_SCHEMAS) == sorted(TABLES)
    for name, want in DATASET_SCHEMAS.items():
        schema = pq.read_schema(tmp_path / f"{name}.parquet")
        assert ", ".join(f"{f.name} {f.type}" for f in schema) == want, name


def test_tape_has_late_and_out_of_order_events(tmp_path):
    paths = datagen.write_tape(str(tmp_path), 11, SMALL)
    refs = stream.references(paths)
    kept = stream._kept_events(paths)
    total = SMALL.segments * SMALL.events_per_segment + 1
    dropped = total - len(kept)
    # only segment 2 onwards carries late events
    assert 0 < dropped <= datagen.LATE_SHARE * SMALL.events_per_segment * 2
    assert refs["windowed"] == refs["apipws"] == refs["tws"]
    assert refs["join"]
    # every window of the reference is a real one (the flush window is excluded)
    assert all(k >= 0 for k, *_ in refs["windowed"])


def test_open_loop_segment_is_seeded_and_never_late():
    a, b = openloop.segment(4, 3), openloop.segment(4, 3)
    assert a.equals(b)
    assert not a.equals(openloop.segment(5, 3))
    # every event of file i lies in its own interval, past the watermark
    # that files < i leave behind
    lo = datagen.T0_US + 3 * openloop._INTERVAL_US
    assert a["ts"].between(lo, lo + openloop._INTERVAL_US - 1).all()
    ref = openloop.reference(4)
    assert sum(n for _, _, n, _ in ref) == (openloop.FILES + 1) * openloop.PER_FILE


def test_query_order_is_seeded():
    names = tuple(f"q{i}" for i in range(9))
    a, b = random.Random(5), random.Random(5)
    assert [a.sample(names, len(names)) for _ in range(3)] == [b.sample(names, len(names)) for _ in range(3)]
    assert random.Random(6).sample(names, len(names)) != random.Random(5).sample(names, len(names))


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 11)]
    assert percentile(xs, 50) == pytest.approx(5.5)
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 10.0
    assert percentile([3.0], 90) == 3.0


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 19) is None
    assert tail_percentile([1.0] * 20)[0] == 50.0
    assert tail_percentile(list(range(100)))[0] == 90.0
    assert tail_percentile(list(range(999)))[0] == 90.0
    assert tail_percentile(list(range(1000)))[0] == 99.0


def test_self_time_subtracts_covered_child_intervals():
    parent = Span(0, "pass", None, "p", 0.0, 10.0)
    spans = [
        parent,
        Span(1, "a", 0, "p", 1.0, 4.0),
        Span(2, "b", 0, "p", 3.0, 5.0),  # overlaps a: 1..5 counted once
        Span(3, "c", 0, "p", 8.0, 12.0),  # clipped to the parent's end
        Span(4, "d", 1, "p", 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[4] == pytest.approx(1.0)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x") as s:
        assert s is None
    assert t.spans == []
    t = Tracer(True)
    with t.span("outer", op="q"):
        with t.span("inner"):
            pass
    assert [s.name for s in t.spans] == ["outer", "inner"]
    assert t.spans[1].parent == 0 and t.spans[1].op == "q"


def test_benchmark_json_lists_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_batch_queries_cover_every_module_layer():
    from arcon_spark.plans.registry import oracle_sql, queries

    qmap, oracles = queries(), oracle_sql()
    names = WORKLOADS["batch"]
    assert sorted(names) == sorted(GROUPS["relational"] + GROUPS["corpus"])
    assert all(n in oracles for n in names)
    modules = {qmap[n].__module__.removeprefix("arcon_spark.") for n in names}
    assert modules == set(MODULES)
