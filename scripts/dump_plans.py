#!/usr/bin/env python3
"""Dump normalized physical plans of registry queries, for plan-identity
checks across two checkouts.

For every registry query whose name matches one of the QUERY patterns
(``fnmatch`` globs, e.g. ``'ann_ivf_*'``), build the query's DataFrame
at ``--sf`` and write its ``explain("formatted")`` text to
``OUT/<name>.txt``.  Run-specific tokens are normalized so that two runs
of the same code print the same text:

* expression ids ``#123`` / ``#123L`` -> ``#N``;
* lambda variables ``lambda x_26`` (a process-global counter) ->
  ``lambda x_N``;
* exchange/broadcast plan ids ``plan_id=123`` -> ``plan_id=N``;
* RDD ids of scanned in-memory/checkpointed data ``RDD[701]`` ->
  ``RDD[N]``;
* per-run temp dirs (``<tmp>/vse_engine_ab12cd34/...``) -> ``<tmp>``.

Plans depend on the session's parallelism (``SPARK_GRAFT_CPUS`` sets
the shuffle width), so dump both checkouts with the same value.

Usage:
    python3 scripts/dump_plans.py 'ann_ivf_*' 'streaming_*' \\
        --sf SF_DIR --out plans/after
    diff -r plans/before plans/after   # empty diff = identical plans
"""

from __future__ import annotations

import argparse
import fnmatch
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_RULES = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (
        re.compile(
            r"(file:)?" + re.escape(tempfile.gettempdir()) + r"/[^/\s,\]]+"
        ),
        "<tmp>",
    ),
]


def normalize(plan: str) -> str:
    for pat, repl in _RULES:
        plan = pat.sub(repl, plan)
    return plan


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", help="query names or fnmatch globs")
    ap.add_argument("--sf", required=True, help="scale-factor data dir")
    ap.add_argument("--out", required=True, help="output dir (one .txt per query)")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from vector_search_engine_spark.session import get_spark

    registry = entry_mod.queries()
    names = [
        n for n in registry if any(fnmatch.fnmatch(n, p) for p in args.queries)
    ]
    if not names:
        print("no registry query matches", args.queries, file=sys.stderr)
        return 1
    spark = get_spark("dump_plans")
    os.makedirs(args.out, exist_ok=True)
    for name in sorted(names):
        df = registry[name](spark, args.sf)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(args.out, f"{name}.txt"), "w") as f:
            f.write(normalize(plan))
        print(name, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
