#!/usr/bin/env python
"""Capture .explain("formatted") for registry queries into plans/<outdir>/.

Usage:
    python plans/capture_plans.py r13 before            # all queries
    python plans/capture_plans.py r13 before q154,q176  # name prefixes

Writes plans/<round>/<query>_<tag>.txt plus a one-line-per-query summary
(plans/<round>/_summary_<tag>.tsv) with Exchange count, join strategies,
Python-eval nodes, and scan PushedFilters presence — the plan-shape
metrics the optimization guide (§1, §7.2) says to track — and a digest
of the whole plan text with its session counters stripped (expression
ids such as ``#12``, ``plan_id=34``), so two captures, even of different
query subsets, can be diffed per query.
"""
from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    rnd, tag = sys.argv[1], sys.argv[2]
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), rnd)
    os.makedirs(outdir, exist_ok=True)

    from etl_procesos_odo_spark.registry import registry
    from etl_procesos_odo_spark.session import get_spark

    spark = get_spark("plan-capture")
    rows = []
    for q in registry():
        if only and not any(q.name.startswith(p) for p in only):
            continue
        path = os.path.join(outdir, f"{q.name}_{tag}.txt")
        try:
            df = q.spark_fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:
            plan = f"PLAN-CAPTURE-ERROR: {type(exc).__name__}: {exc}"
        with open(path, "w") as fh:
            fh.write(plan)
        rows.append((q.name, summarize(plan)))
        # a streaming query leaves active runs behind only on error paths;
        # keep the session clean either way
        for s in spark.streams.active:
            try:
                s.stop()
            except Exception:
                pass
    with open(os.path.join(outdir, f"_summary_{tag}.tsv"), "w") as fh:
        fh.write("query\texchanges\tsmj\tbhj\tshj\tbnlj\tcartesian\tpyeval\tpushedfilters\tdigest\n")
        for name, s in rows:
            fh.write(name + "\t" + "\t".join(str(x) for x in s) + "\n")
    print(f"captured {len(rows)} plans -> {outdir} (tag={tag})")


def summarize(plan: str):
    ex = len(re.findall(r"\bExchange\b", plan))
    smj = len(re.findall(r"SortMergeJoin", plan))
    bhj = len(re.findall(r"BroadcastHashJoin", plan))
    shj = len(re.findall(r"ShuffledHashJoin", plan))
    bnlj = len(re.findall(r"BroadcastNestedLoopJoin", plan))
    cart = len(re.findall(r"CartesianProduct", plan))
    pyeval = len(
        re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan)
    )
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    return ex, smj, bhj, shj, bnlj, cart, pyeval, pushed, plan_digest(plan)


# per-JVM counters in the plan text: expression ids, exchange plan ids,
# checkpoint RDD ids and lambda-variable suffixes (``lambda x_190``) all
# depend on what ran earlier in the session, not on the plan itself
_SESSION_IDS = re.compile(r"#\d+|(?<=plan_id=)\d+|(?<=RDD\[)\d+")
_LAMBDA_VAR = re.compile(r"(lambda [A-Za-z]\w*?)_\d+\b")


def plan_digest(plan: str) -> str:
    """Hash of the plan text with the session counters stripped, so equal
    digests mean the same operators over the same expressions."""
    norm = _LAMBDA_VAR.sub(r"\1", _SESSION_IDS.sub("", plan))
    return hashlib.sha1(norm.encode()).hexdigest()[:12]


if __name__ == "__main__":
    main()
