"""The generated documents match what the registry and the session's
plans say: QUERIES.md from the registry, SCALE.md from every batch
query's executed plan and build-action count, PLANS.md from the
INTERESTING queries' formatted plans (all rendered by tools/plan_docs.py
from the query cache in conftest.py). A stale document fails with a
unified diff, the sections it touches and the ``cp`` line that installs
the rendered copy.
"""

from __future__ import annotations

import difflib
import pathlib
import re

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent


def _sections(text: str) -> dict[str, str]:
    parts = re.split(r"^## (\S+).*$", text, flags=re.M)
    return dict(zip(parts[1::2], parts[2::2]))


def _assert_current(doc: str, rendered: str, tmp_path) -> None:
    committed = (REPO / doc).read_text()
    if rendered == committed:
        return
    out = tmp_path / doc
    out.write_text(rendered)
    old, new = _sections(committed), _sections(rendered)
    changed = sorted(k for k in old.keys() | new.keys() if old.get(k) != new.get(k))
    diff = list(
        difflib.unified_diff(
            committed.splitlines(), rendered.splitlines(), f"{doc} (committed)", f"{doc} (rendered)", lineterm=""
        )
    )
    shown = "\n".join(diff[:400]) + (f"\n... {len(diff) - 400} more diff lines" if len(diff) > 400 else "")
    where = f"; sections changed: {changed}" if changed else ""
    pytest.fail(f"{doc} is stale{where}\n{shown}\nregenerate: cp {out} {REPO / doc}")


def test_queries_md_is_current(plan_docs, tmp_path):
    _assert_current("QUERIES.md", plan_docs.queries_md(), tmp_path)


def test_scale_md_is_current(plan_docs, batch_plans, query_results, tmp_path):
    actions = {name: query_results[name].build_actions for name in batch_plans}
    _assert_current("SCALE.md", plan_docs.scale_md(batch_plans, actions), tmp_path)


def test_plans_md_is_current(plan_docs, query_results, spark, sf_dir, tmp_path):
    plans = {name: query_results[name].formatted_plan for name in plan_docs.INTERESTING}
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    _assert_current("PLANS.md", plan_docs.plans_md(plans, sf_dir, width), tmp_path)
