"""The benchmark's own tests: generator determinism, the latest-state
model against the catalog on a tiny stream, the percentile rule, the
self-time arithmetic, and BENCHMARK.json against the runner's names.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from pathlib import Path

import pytest

from perfbench import gen
from perfbench.stats import percentile, supported_level, tail
from perfbench.trace import Span, Tracer, union_length

ROOT = Path(__file__).resolve().parents[2]


def test_stream_is_a_function_of_the_seed():
    a = gen.cdc_stream(5, 500, 3000, snapshot_keys=100)
    assert a == gen.cdc_stream(5, 500, 3000, snapshot_keys=100)
    assert a != gen.cdc_stream(6, 500, 3000, snapshot_keys=100)


def test_stream_has_the_promised_shape():
    recs = gen.cdc_stream(3, 2000, 20_000, snapshot_keys=300)
    assert [r.op for r in recs[:300]] == ["r"] * 300
    assert [r.user_id for r in recs[:300]] == list(range(300))
    stream = recs[300:]
    copies = sum(n - 1 for n in Counter(stream).values())
    assert 0.03 < copies / len(stream) < 0.07  # about 5% redelivered
    seen: dict[int, int] = {}
    late = 0
    for r in stream:
        if r.op != "d" and r.updated_at_us < seen.get(r.user_id, -1):
            late += 1  # an older version after a newer one
        seen[r.user_id] = max(seen.get(r.user_id, -1), r.updated_at_us)
    assert late > 100
    hits = Counter(r.user_id for r in stream).most_common()
    assert hits[0][1] > 20 * hits[len(hits) // 2][1]  # Zipf skew


def test_sf_tables_are_a_function_of_the_seed():
    a, b = gen.sf_tables(9, sf=0.001), gen.sf_tables(9, sf=0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(gen.sf_tables(10, sf=0.001)["lineitem"])


def test_model_keeps_the_highest_version():
    recs = gen.cdc_stream(1, 50, 2000)
    model = gen.LatestState().apply_all(recs)
    best: dict[int, tuple] = {}
    for r in recs:
        row = r.final_row()
        if row and (row[0] not in best or row[3] > best[row[0]][3]):
            best[row[0]] = row
    assert model.rows == best
    # order of application does not matter
    assert gen.LatestState().apply_all(reversed(recs)).rows == best


def test_percentile_rule():
    assert supported_level(19) is None
    assert supported_level(20) == 50
    assert supported_level(40) == 75
    assert supported_level(99) == 75
    assert supported_level(100) == 90
    assert supported_level(1000) == 90
    values = [float(i) for i in range(1, 101)]
    assert percentile(values, 90) == 90.0
    assert tail(values) == (90, 90.0)
    assert tail(values[:19]) == (None, None)


def test_self_time_subtracts_the_union_of_children():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 4) == 2
    tr = Tracer(spark=None)
    job = {"tasks": 4, "failed_tasks": 0}
    tr.spans = [Span(1, "client", "op", 0.0, 10.0, op=1, kind="insert"),
                Span(2, "ch_ddl", "insert", 1.0, 6.0, parent=1, op=1),
                Span(3, "spark", "job 0", 2.0, 4.0, parent=2, op=1, attrs=job),
                Span(4, "spark", "job 1", 3.0, 5.0, parent=2, op=1, attrs=job)]
    tr.self_times()
    assert [s.self_s for s in tr.spans] == [5.0, 2.0, 2.0, 2.0]
    m = tr.layer_metrics()
    assert m["self_s.client"] == 5.0 and m["self_s.ch_ddl"] == 2.0
    assert m["self_s.spark"] == 3.0  # the two jobs' union, counted once
    assert m["insert.spark.job_s"] == 3.0 and m["insert.spark.gap_s"] == 7.0


def test_benchmark_json_matches_the_runner():
    from perfbench.run import END_TO_END, _per_layer_units

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == _per_layer_units()


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from postgre_to_clickhouse_spark.session import get_spark

    yield get_spark("perfbench-tests")


def test_model_matches_the_catalog_on_a_tiny_stream(spark, tmp_path):
    """Two batches through unwrap -> MV -> INSERT with an OPTIMIZE FINAL
    between them: FINAL equals the model, key for key."""
    from perfbench.workloads import CdcIngest, _final_rows

    recs = gen.cdc_stream(4, 40, 400, snapshot_keys=10)
    w = CdcIngest(spark, 4)
    w._session()
    cat = w._catalog(str(tmp_path / "store"))
    model = gen.LatestState()
    for i, batch in enumerate(gen.batches(recs, 205)):
        path = str(tmp_path / f"b{i}.parquet")
        gen.write_kafka_batch(batch, path)
        w._ingest(cat, path, i)
        model.apply_all(batch)
        if i == 0:
            w._optimize(cat)
    assert _final_rows(spark, cat) == model.rows
