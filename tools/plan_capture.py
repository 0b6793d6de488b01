#!/usr/bin/env python
"""Dump .explain('formatted') of named registered queries to
plans/<round>/<name>_<tag>.txt (an optimization round's before/after
evidence). The lifecycle/iterative queries execute eager driver-side
steps at construction and return localCheckpoint-pinned frames, so
their dump is a one-scan stub — attribute those by job tables instead.

Usage: python tools/plan_capture.py <round> <tag> q1 [q2 ...]
(scale-factor dir: $SPARK_GRAFT_SF_DIR, default sf0.1)
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))


def main() -> None:
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    out_dir = _REPO / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)

    from postgre_to_clickhouse_spark.catalog import DEFAULT_SF_DIR
    from postgre_to_clickhouse_spark.queries import QUERIES
    from postgre_to_clickhouse_spark.session import get_spark

    spark = get_spark("p2c-plan-capture")
    for name in names:
        df = QUERIES[name](spark, DEFAULT_SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out = out_dir / f"{name}_{tag}.txt"
        out.write_text(txt)
        print(name, "->", out.relative_to(_REPO), len(txt), "chars")
    spark.stop()


if __name__ == "__main__":
    main()
