"""Seeded inputs for the benchmark, written with pyarrow only.

Two kinds of input:

- ``write_tables`` writes the ten synthetic tables the registry queries
  read (same names, columns and value domains as the project's test
  datasets), so a batch workload needs nothing outside the checkout.
- ``write_tape`` writes the event tape the stream workload drains: one
  parquet file per micro-batch, with Zipf-skewed keys, a fixed share of
  out-of-order events inside the allowed lateness and a small share of
  events later than the watermark.

Both are pure functions of their arguments: the same seed gives
byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, scale: float = 0.1, doc_scale: float | None = None) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every table; ``scale``
    sizes the relational tables (0.1 → 600k lineitem rows) and
    ``doc_scale`` the documents and embeddings (defaults to ``scale``)."""
    rng = np.random.default_rng(seed)
    doc_scale = scale if doc_scale is None else doc_scale
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_users = int(15_000 * scale)
    n_events = int(1_000_000 * scale)

    _write(
        f"{out_dir}/region.parquet",
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
    )
    _write(
        f"{out_dir}/nation.parquet",
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )
    _write(
        f"{out_dir}/customer.parquet",
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": pa.array(
                    np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                        rng.integers(0, 5, n_cust)
                    ]
                ),
            }
        ),
    )
    _write(
        f"{out_dir}/supplier.parquet",
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
    )
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"])
    _write(
        f"{out_dir}/part.parquet",
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)])
                ),
                "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
                "p_type": pa.array(
                    np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])[
                        rng.integers(0, 6, n_part)
                    ]
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
    )
    o_date = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    _write(
        f"{out_dir}/orders.parquet",
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _ts(o_date),
                "o_orderpriority": pa.array(
                    np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                        rng.integers(0, 5, n_ord)
                    ]
                ),
            }
        ),
    )
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(
        f"{out_dir}/lineitem.parquet",
        pa.table(
            {
                "l_orderkey": pa.array(l_order, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
                "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
                "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
                "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n_line)]),
                "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_line)]),
                "l_shipdate": _ts(o_date[l_order] + rng.integers(1, 122, n_line) * DAY_US),
            }
        ),
    )
    ev_ts = np.sort(T0_US + rng.integers(0, 30 * DAY_US, n_events))
    _write(
        f"{out_dir}/events.parquet",
        pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": _ts(ev_ts),
                "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
                "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
                "value": np.round(rng.exponential(50.0, n_events), 2),
                "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}")),
            }
        ),
    )
    _write_documents(out_dir, rng, int(50_000 * doc_scale))
    _write_embeddings(out_dir, rng, int(20_000 * doc_scale))


def _write_documents(out_dir: str, rng, n_docs: int) -> None:
    """Random-word documents; 5% are near copies of an earlier document
    with one word replaced by ``dup`` and 0.2% are exact copies, so the
    dedup queries have real duplicate structure to find."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.052:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
            continue
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    _write(
        f"{out_dir}/documents.parquet",
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": texts,
                "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
                "source": pa.array(np.char.add("src", (np.arange(n_docs) % 20).astype(str))),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
    )


def _write_embeddings(out_dir: str, rng, n_vecs: int) -> None:
    """64-dimensional unit-scale vectors clustered around one centroid
    per label."""
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 0.125, (10, 64))
    vecs = (centroids[labels] + rng.normal(0.0, 0.06, (n_vecs, 64))).astype("float32")
    _write(
        f"{out_dir}/embeddings.parquet",
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
    )


# the tape's shape apart from its size: Zipf exponent of the keys, the
# event-time span of one segment, the allowed lateness, and the shares of
# out-of-order and watermark-late events
ZIPF_S = 1.2
SEGMENT_S = 60
LATENESS_S = 20
OOO_SHARE = 0.10
LATE_SHARE = 0.02


@dataclass(frozen=True)
class TapeSpec:
    """Size of the stream workload's event tape.

    Segment ``i`` holds events whose nominal time lies in
    ``[i, i + 1) * SEGMENT_S`` seconds after ``T0_US``. A share
    ``OOO_SHARE`` is moved back by up to half the allowed lateness (so it
    is out of order but never dropped) and, from segment 2 on, a share
    ``LATE_SHARE`` is moved back by a whole segment plus more than twice
    the lateness. Spark drops an event when it is behind the watermark
    of the *previous* micro-batch (the largest event time of segments
    ``< i - 1`` minus the lateness), so these are always dropped.

    The last segment also carries one ``flush`` event an hour past the
    tape (key -1), which moves the watermark past every real window so
    that all of them close and are emitted."""

    segments: int
    events_per_segment: int
    keys: int


def tape_table(seed: int, spec: TapeSpec, segment: int) -> pa.Table:
    """One segment of the tape as an Arrow table (k, ts, v, t)."""
    rng = np.random.default_rng([seed, segment])
    n = spec.events_per_segment
    span_us = SEGMENT_S * 1_000_000
    late_us = LATENESS_S * 1_000_000
    base = T0_US + segment * span_us
    ts = base + rng.integers(0, span_us, n)
    r = rng.random(n)
    ooo = r < OOO_SHARE
    ts[ooo] -= rng.integers(0, late_us // 2, int(ooo.sum()))
    if segment >= 2:
        late = r > 1.0 - LATE_SHARE
        ts[late] = base - span_us - 2 * late_us - rng.integers(1_000_000, late_us, int(late.sum()))
    # Zipf-skewed keys folded onto a fixed key space: key 0 is hottest
    keys = (rng.zipf(ZIPF_S, n) - 1) % spec.keys
    v = rng.integers(1, 100, n)
    t = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)].astype(object)
    if segment == spec.segments - 1:
        keys = np.append(keys, -1)
        ts = np.append(ts, T0_US + (spec.segments * SEGMENT_S + 3600) * 1_000_000)
        v = np.append(v, 0)
        t = np.append(t, "flush")
    return pa.table(
        {
            "k": pa.array(keys, pa.int64()),
            "ts": _ts(ts),
            "v": pa.array(v, pa.int64()),
            "t": pa.array(t, pa.string()),
        }
    )


def write_tape(out_dir: str, seed: int, spec: TapeSpec) -> list[str]:
    """Write the tape as ``<out_dir>/seg-NNN.parquet`` with strictly
    increasing modification times (the file source replays in mtime
    order, one file per trigger); returns the file paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(spec.segments):
        path = os.path.join(out_dir, f"seg-{i:03d}.parquet")
        _write(path, tape_table(seed, spec, i))
        stamp = 1_700_000_000 + i
        os.utime(path, (stamp, stamp))
        paths.append(path)
    return paths
