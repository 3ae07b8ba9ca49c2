"""Registry contract tests: every registered query matches its DuckDB
oracle's values at sf0.001, emits only driver-hashable columns, and
obeys the determinism doctrine.

Each query is built and collected once per session (the
``query_results`` cache in conftest.py) and compared with
tools/check_parity.compare, the same comparator the sf0.01/sf0.1
parity runs use; the plan guards in test_plans.py read the same cache.
"""

from __future__ import annotations

import pytest

from arcon_spark.plans.registry import REGISTRY, oracle_sql, queries


def test_registry_nonempty():
    assert len(queries()) >= 40


def test_every_oracle_key_is_a_query():
    q = queries()
    for name in oracle_sql():
        assert name in q


#: The driver's pandas canonicalizer sorts/factorizes every output
#: column; numpy arrays, dicts and raw bytes are unhashable there, so
#: a query emitting these at top level is PERMANENTLY driver-red even
#: when value-parity passes (CORRECTNESS_r04 `vec_state_collect`).
#: This is a fixed external contract — no registered query may emit
#: them. Reshape: array_join/sort_array to a scalar string (mirror
#: with DuckDB array_to_string/list_sort), or emit per-element rows.
_DRIVER_UNHASHABLE = ("ArrayType", "MapType", "BinaryType", "StructType")


def _assert_driver_canon_safe(name, schema):
    bad = [
        (f.name, f.dataType.typeName())
        for f in schema.fields
        if type(f.dataType).__name__ in _DRIVER_UNHASHABLE
    ]
    assert not bad, (
        f"{name}: top-level {bad} output column(s) — the driver's pandas "
        "canonicalizer cannot hash these; emit a joined string instead"
    )


@pytest.mark.parametrize("name", sorted(queries()))
def test_query_runs_and_schema_matches_oracle(query_results, oracle_results, compare, name):
    res = query_results[name]
    _assert_driver_canon_safe(name, res.schema)
    ora = oracle_results[name]
    category, msg = compare(name, res.columns, res.rows, ora.columns, ora.rows)
    assert category == "pass", msg


def test_ensure_session_confs_repairs_foreign_session(spark):
    """The driver may run queries() in a session it built itself;
    load_table must repair the runtime-settable confs it needs
    (events nanos handling, UTC, Arrow)."""
    from arcon_spark.io import ensure_session_confs, load_table

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ensure_session_confs(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        # events read still yields a proper timestamp column
        dt = dict(load_table(spark, "/root/testdata/sf0.001", "events").dtypes)
        assert dt["ts"] == "timestamp"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_reshaped_array_queries_emit_scalar_strings(query_results):
    """Regression for the r4 driver-red row: the two queries that used
    to emit ArrayType columns now emit '|'-joined scalar strings."""
    for name, col in (("vec_state_collect", "event_types"), ("embedding_quantize_int8", "qvec")):
        assert query_results[name].schema[col].dataType.typeName() == "string", name


def test_oracle_covers_every_query():
    """CORRECTNESS badge requires a value oracle per query; a queries()
    entry with no oracle_sql() twin gets only a rows-only check (the
    r4 `approx_distinct_users` gap). Keep coverage at 100%."""
    missing = sorted(set(queries()) - set(oracle_sql()))
    assert not missing, f"queries with no oracle: {missing}"


@pytest.mark.parametrize("name", sorted(oracle_sql()))
def test_oracle_types_never_hugeint(oracle_results, name):
    """The driver's value hash canonicalizes DuckDB HUGEINT (int128)
    and DECIMAL differently from Spark's int64/double, so an oracle
    whose outer aggregate is an uncast SUM(BIGINT) hash-mismatches
    even when the values are identical (all 5 red CORRECTNESS_r02
    rows were exactly this). Spark can never produce those types, so
    no oracle column may type as them."""
    ora = oracle_results[name]
    bad = [
        (col, typ)
        for col, typ in zip(ora.columns, ora.types)
        if any(b in typ.upper() for b in ("HUGEINT", "DECIMAL"))
    ]
    assert not bad, f"{name}: HUGEINT/DECIMAL oracle columns {bad}"


# ---------------------------------------------------------------------------
# Determinism doctrine (locked from convention into contract, r6)
# ---------------------------------------------------------------------------

#: Call names that make a query's VALUES nondeterministic — anything
#: here breaks the 346-green invariant on the next parity run, because
#: DuckDB cannot replay it. (uuid in scratch-path names is fine; these
#: are flagged only when CALLED inside a registered query function.)
_NONDET_CALLS = {
    "rand",
    "randn",
    "random",
    "randint",
    "uniform",
    "choice",
    "shuffle",
    "monotonically_increasing_id",
    "current_timestamp",
    "current_date",
    "now",
}

#: Engine-specific approximate aggregates: their estimates differ
#: across engines, so they may appear only behind a contract-boolean
#: reshape that both engines agree on (the approx_distinct_users
#: pattern), never as raw output.
_APPROX_CALLS = {"approx_count_distinct", "percentile_approx", "approx_percentile"}
_APPROX_OK = {"approx_distinct_users"}

#: Oracle-side bans (regex over the SQL): DuckDB nondeterminism and
#: engine-specific sketches that can never hash-match Spark.
_ORACLE_BANNED = (
    r"\brandom\s*\(",
    r"\bsetseed\s*\(",
    r"\bgen_random_uuid\s*\(",
    r"\bnow\s*\(\)",
    r"\bcurrent_timestamp\b",
    r"\bcurrent_date\b",
    r"\bapprox_count_distinct\s*\(",
    r"\bapprox_quantile\s*\(",
    r"\breservoir_quantile\s*\(",
)


def _called_names(tree):
    import ast

    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute):
                yield f.attr, node
            elif isinstance(f, ast.Name):
                yield f.id, node


def test_no_nondeterministic_calls_in_registered_queries():
    """The cross-engine determinism doctrine (micronat quantization,
    md5-seeded pseudo-randomness, integer fixed-point) is what makes
    every oracle value-hash match. This test turns the convention into
    a contract: no registered query function may call a
    nondeterministic or engine-specific-approximate function, and none
    may compute `x ** 0.5` (Python pow is not guaranteed to be the
    correctly-rounded sqrt that SQL sqrt / math.sqrt give)."""
    import ast
    import inspect
    import textwrap

    offenders = []
    for name, spec in sorted(REGISTRY.items()):
        try:
            src = textwrap.dedent(inspect.getsource(spec.fn))
        except (OSError, TypeError):  # builtins / dynamically built
            continue
        tree = ast.parse(src)
        for called, node in _called_names(tree):
            if called in _NONDET_CALLS:
                offenders.append((name, called))
            if called in _APPROX_CALLS and name not in _APPROX_OK:
                offenders.append((name, called))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.BinOp)
                and isinstance(node.op, ast.Pow)
                and isinstance(node.right, ast.Constant)
                and node.right.value == 0.5
            ):
                offenders.append((name, "** 0.5 (use math.sqrt / np.sqrt)"))
    assert not offenders, f"nondeterministic constructs in queries: {offenders}"


def test_no_nondeterministic_sql_in_oracles():
    """Oracle side of the same contract: DuckDB nondeterminism or
    engine-specific sketches in an oracle would make the parity gate
    flaky or permanently red."""
    import re

    offenders = []
    for name, sql in sorted(oracle_sql().items()):
        low = sql.lower()
        for pat in _ORACLE_BANNED:
            if re.search(pat, low):
                offenders.append((name, pat))
    assert not offenders, f"banned SQL constructs in oracles: {offenders}"


def test_tools_and_tests_find_the_repo_from_their_own_path():
    """Tools and tests locate the checkout from ``__file__`` (or ``$0``
    in shell). A hard-coded absolute checkout path on sys.path makes a
    run from any other checkout import that path's bench.py and
    __spark_entry__.py instead of its own."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    # this checkout's path, and the one the tools once pinned (joined
    # from parts so this file does not match itself)
    pinned = {str(repo), "/".join(("", "root", "repo"))}
    offenders = [
        str(p.relative_to(repo))
        for d in ("tools", "tests")
        for p in sorted((repo / d).rglob("*"))
        if p.is_file()
        and "__pycache__" not in p.parts
        and any(x in p.read_text(errors="ignore") for x in pinned)
    ]
    assert not offenders, f"hard-coded checkout path in: {offenders}"


def test_bounded_runs_drain_through_tape_only():
    """Every bounded stream run goes through
    arcon_spark.streaming.tape.drain; a processAllAvailable call
    anywhere else under arcon_spark/, tools/ or examples/, or in
    bench.py, is a hand-rolled copy of that lifecycle."""
    import pathlib
    import re

    repo = pathlib.Path(__file__).resolve().parent.parent
    tape = repo / "arcon_spark" / "streaming" / "tape.py"
    call = re.compile(r"\.processAllAvailable\s*\(")
    sources = [repo / "bench.py"] + [
        p for d in ("arcon_spark", "tools", "examples") for p in sorted((repo / d).rglob("*.py"))
    ]
    offenders = [
        str(p.relative_to(repo))
        for p in sources
        if p != tape and call.search(p.read_text())
    ]
    assert not offenders, f"processAllAvailable outside streaming/tape.py: {offenders}"


def test_time_query_cancels_a_query_over_its_budget(spark, sf_dir):
    """bench.time_query cuts a query at its budget by cancelling its
    job group (the sleeping Python task is interrupted, not waited
    out), and the session times the next query normally."""
    import time

    import bench

    def _sleepy(batches):
        import time

        time.sleep(60)
        yield from batches

    t0 = time.monotonic()
    t = bench.time_query(
        spark,
        "sleeps_past_budget",
        lambda s, _: s.range(1, numPartitions=1).mapInPandas(_sleepy, "id long"),
        sf_dir,
        budget=2,
    )
    assert t is None
    assert time.monotonic() - t0 < 45, "the cancelled task ran to the end of its sleep"
    t = bench.time_query(spark, "range_after_cancel", lambda s, _: s.range(10), sf_dir, budget=60)
    assert isinstance(t, float) and t >= 0


def test_bench_rejects_unknown_query_names():
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, str(repo / "bench.py"), "tpch_q1", "no_such_query_xyz"],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode != 0
    assert "no_such_query_xyz" in out.stderr, out.stderr[-2000:]
    assert "tpch_q1'" not in out.stderr  # only the unknown name is listed


def test_only_bench_owns_the_timing_loop():
    """bench.py is the one timing module: the worker-pool warm-up
    (mapInPandas) and the job-group budget (setJobGroup /
    cancelJobGroup) live there, and the tools call bench.warm_up and
    bench.time_query instead of keeping copies."""
    import pathlib
    import re

    repo = pathlib.Path(__file__).resolve().parent.parent
    call = re.compile(r"\b(mapInPandas|setJobGroup|cancelJobGroup)\s*\(")
    bench_calls = set(call.findall((repo / "bench.py").read_text()))
    assert bench_calls == {"mapInPandas", "setJobGroup", "cancelJobGroup"}, bench_calls
    offenders = [
        str(p.relative_to(repo))
        for p in sorted((repo / "tools").glob("*.py"))
        if call.search(p.read_text())
    ]
    assert not offenders, f"timing-loop copies outside bench.py: {offenders}"


def test_exponent_reads_the_scale_factor_from_the_sf_dirs():
    import bench

    assert bench.exponent(2.0, 20.0, "data/sf0.1", "data/sf1/") == (10.0, 1.0)
    assert bench.exponent(2.0, 200.0, "data/sf0.1", "data/sf10") == (100.0, 1.0)
    assert bench.exponent(1.0, 100.0, "data/sf0.1", "data/sf10") == (100.0, 1.0)
    assert bench.exponent(1.0, 10.0, "data/sf0.1", "data/sf10") == (10.0, 0.5)
    # 0.0 s is a measurement, not a missing time; only None is missing
    assert bench.exponent(0.0, 5.0, "data/sf0.1", "data/sf1")[1] > 9
    assert bench.exponent(5.0, 0.0, "data/sf0.1", "data/sf10")[1] < -4
    assert bench.exponent(None, 5.0, "data/sf0.1", "data/sf1") is None
    assert bench.exponent(5.0, None, "data/sf0.1", "data/sf10") is None
    with pytest.raises(ValueError):
        bench.exponent(1.0, 2.0, "data/sf0.1", "data/big")


def test_driver_sample_runs_stalest_first(tmp_path, monkeypatch):
    """__spark_entry__.queries() orders the registry by the latest
    round each query was hash-green in CORRECTNESS_r*.json, oldest
    first, so the driver's prefix sample re-checks the stalest queries
    instead of the last round's sample."""
    import json
    import pathlib
    import re

    import __spark_entry__ as e

    rounds = sorted(
        (
            p
            for p in pathlib.Path(e._REPO).glob("CORRECTNESS_r*.json")
            if re.fullmatch(r"CORRECTNESS_r\d+", p.stem)
        ),
        key=lambda p: int(p.stem.split("_r")[1]),
    )
    last: dict[str, int] = {}
    for p in rounds:
        for name, res in json.loads(p.read_text()).items():
            if res.get("hash_match") is True:
                last[name] = int(p.stem.split("_r")[1])
    registered = list(queries())
    keys = list(e.queries())
    assert sorted(keys) == sorted(registered)
    tiers = [last.get(n, 0) for n in keys]
    assert tiers == sorted(tiers)
    assert tiers[0] == min(last.get(n, 0) for n in registered)
    for a, b in zip(keys, keys[1:]):
        if last.get(a, 0) == last.get(b, 0):
            assert registered.index(a) < registered.index(b), (a, b)
    # the driver's 50-query prefix is not a re-run of the newest sample
    assert not set(keys[:50]) & set(json.loads(rounds[-1].read_text()))

    # a query missing from every round leads
    victim = keys[-1]
    for p in rounds:
        res = json.loads(p.read_text())
        res.pop(victim, None)
        (tmp_path / p.name).write_text(json.dumps(res))
    monkeypatch.setattr(e, "_REPO", str(tmp_path))
    assert list(e.queries())[0] == victim


def test_spark_sql_strings_avoid_rand_and_clock():
    """Registered queries build many expressions via F.expr(...) SQL
    strings — scan the string literals inside each registered function
    for rand()/clock calls the AST call-scan cannot see."""
    import ast
    import inspect
    import re
    import textwrap

    banned = re.compile(
        r"\brand\s*\(\)|\brandn\s*\(|\brandom\s*\(\)|\buuid\s*\(\)"
        r"|\bcurrent_timestamp\b|\bcurrent_date\b|\bnow\s*\(\)",
        re.IGNORECASE,
    )
    offenders = []
    for name, spec in sorted(REGISTRY.items()):
        try:
            src = textwrap.dedent(inspect.getsource(spec.fn))
        except (OSError, TypeError):
            continue
        tree = ast.parse(src)
        # skip docstrings: only scan strings that are NOT a lone Expr
        # statement's value (module/function/class docstrings)
        doc_nodes = set()
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Module)):
                if (
                    node.body
                    and isinstance(node.body[0], ast.Expr)
                    and isinstance(node.body[0].value, ast.Constant)
                ):
                    doc_nodes.add(id(node.body[0].value))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in doc_nodes
                and banned.search(node.value)
            ):
                offenders.append((name, node.value[:60]))
    assert not offenders, f"nondeterministic SQL strings in queries: {offenders}"


def test_generated_docs_match_registry_counts():
    """README's stated registry size equals the registry at HEAD
    (QUERIES.md, SCALE.md and PLANS.md are checked by content in
    tests/test_docs.py)."""
    import pathlib
    import re

    n = len(queries())
    readme = (pathlib.Path(__file__).resolve().parent.parent / "README.md").read_text()
    m = re.search(r"registry holds (\d+)", readme)
    assert m and int(m.group(1)) == n, f"README registry count {m and m.group(1)} != {n}"


def test_bench_stdout_line_fits_driver_capture():
    """bench.py's stdout contract (r7): the driver captures only the
    LAST 2000 bytes of stdout and json-parses it — through r6 the full
    per-query line was ~4.5 KB, so every BENCH_r*.json recorded
    'parsed': null. The compact line must parse, fit the budget, trim
    slowest-first, and declare the trim explicitly."""
    import importlib.util
    import json
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "bench", pathlib.Path(__file__).resolve().parent.parent / "bench.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    timings = {f"query_with_a_long_name_{i:03d}": 0.1 + i * 0.037 for i in range(120)}
    medians = {k: v * 1.5 for k, v in timings.items()}
    line = bench.stdout_line(
        timings, 99.9, 0.1, 3, 400.0, "bench_result.json", medians=medians
    )
    assert len(line) <= 1900
    d = json.loads(line)
    assert d["n_queries"] == 120
    assert d["queries_shown"] == len(d["queries"]) < 120
    # r8: the median table rides the same line, same names as the min
    # table (driver-artifact-only drift adjudication, VERDICT r7 #7)
    assert set(d["medians"]) == set(d["queries"])
    for k, v in d["medians"].items():
        assert abs(v - medians[k]) <= 0.005  # 2-decimal stdout trim
    # slowest-first: every shown entry >= every hidden entry (stdout
    # values are trimmed to 2 decimals, hence the half-ulp tolerance)
    hidden_max = max(v for k, v in timings.items() if k not in d["queries"])
    assert min(d["queries"].values()) >= hidden_max - 0.005
    # a small set is emitted whole
    small = {"a": 1.0, "b": 2.0}
    d2 = json.loads(bench.stdout_line(small, 3.0, 0.1, 2, 5.0, "x.json"))
    assert d2["queries"] == small and d2["queries_shown"] == 2
    assert d2["medians"] == small  # medians default to the min table
