"""The three perfbench workloads.

Each workload drives the package only through its public functions
(``cdc.unwrap``, ``ChDdlCatalog.execute/insert/apply_mv/query``,
``ch_select.ch_select``, ``ch_http.serve_ch_http`` and
``queries.QUERIES``), as one closed-loop client process. A workload has
three phases:

- ``setup``: session start, warm-ups and input generation; the runner
  repeats it and reports the median;
- ``measure``: the timed window, operations back to back until the
  deadline, every operation's wall recorded;
- ``verify``: outside the window, the outputs against a model or
  oracle; a wrong output is a failed operation, never an abort.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import time
import urllib.request
from contextlib import nullcontext
from pathlib import Path

from perfbench import gen
from perfbench.stats import tail
from perfbench.trace import Tracer

HERE = Path(__file__).resolve().parent

# The reference's three statements (its README's Kafka table and
# materialized view, verbatim), with the target table declared as
# ReplacingMergeTree(updated_at) ORDER BY user_id, so FINAL keeps the
# latest version of each user.
USERS_DDL = """
CREATE TABLE shop.users
(
    user_id UInt32,
    username String,
    account_type String,
    updated_at DateTime,
    created_at DateTime,
    kafka_time Nullable(DateTime),
    kafka_offset UInt64
)
ENGINE = ReplacingMergeTree(updated_at)
ORDER BY user_id;
"""
KAFKA_DDL = """
CREATE TABLE kafka_shop.kafka__users
(
    user_id UInt32,
    username String,
    account_type String,
    updated_at UInt64,
    created_at UInt64
)
ENGINE = Kafka
SETTINGS kafka_broker_list = 'broker:29092',
kafka_topic_list = 'shop.public.users',
kafka_group_name = 'clickhouse',
kafka_format = 'AvroConfluent',
format_avro_schema_registry_url='http://schema-registry:8081';
"""
MV_DDL = """
CREATE MATERIALIZED VIEW kafka_shop.consumer__users TO shop.users
(
    user_id UInt32,
    username String,
    account_type String,
    updated_at DateTime,
    created_at DateTime,
    kafka_time Nullable(DateTime),
    kafka_offset UInt64
) AS
SELECT
    user_id,
    username,
    account_type,
    toDateTime(updated_at / 1000000) AS updated_at,
    toDateTime(created_at / 1000000) AS created_at,
    _timestamp AS kafka_time,
    _offset AS kafka_offset
FROM kafka_shop.kafka__users;
"""
# Assumption: the users table is as large as the customer table the
# battery reads at sf0.1 (TPC-H: 150,000 customers per scale factor).
USERS = 15_000
FINAL_STATE_SQL = ("SELECT user_id, username, account_type, updated_at, created_at, "
                   "kafka_time, kafka_offset FROM users FINAL")

# The query battery: one registry member per family that bench.py
# times in HEADLINE, each with a DuckDB oracle. The runs are timed with
# count(), as bench.py times them, so every member is one whose optimized
# plan keeps its aggregates, windows and sorts under count() (checked by
# comparing the plan of the frame with the plan of its count).
# A full pass fits the run budget on a 4-core machine; BENCHMARK.md lists
# what is left out.
BATTERY = {
    "q3_shipping_priority": "tpch",
    "window_top3_orders_per_customer": "window",
    "dedup_exact_documents": "text_dedup",
    "vector_cosine_topk": "vector",
    "multimodal_audio_stats": "arrow_multimodal",
    "weighted_quantile_events": "stats",
    "ch_dialect_paste_qq": "ch_dialect",
    "manifest_zonemap_read": "manifest_lifecycle",
}
FAMILIES = ("tpch", "window", "text_dedup", "vector", "arrow_multimodal",
            "stats", "ch_dialect", "manifest_lifecycle")


def _epoch(v) -> int:
    """Epoch seconds of a collected timestamp (PySpark hands back naive
    local-time datetimes, which ``timestamp()`` reads as local time)."""
    return int(v.timestamp())


def _final_rows(spark, cat) -> dict[int, tuple]:
    """The table's FINAL state as model-shaped rows; a key returned
    twice maps to None so it compares unequal to any model row."""
    out: dict[int, tuple | None] = {}
    for r in cat.query(spark, FINAL_STATE_SQL).collect():
        row = (r.user_id, r.username, r.account_type, _epoch(r.updated_at),
               _epoch(r.created_at),
               None if r.kafka_time is None else _epoch(r.kafka_time),
               r.kafka_offset)
        out[row[0]] = None if row[0] in out else row
    return out


def _dir_stats(path: str) -> tuple[int, int]:
    """(file count, bytes) under ``path``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, fn))
    return n, size


def _manifest_metrics(table_dir: str) -> dict[str, float]:
    """Versions, live files and files on disk of one ManifestTable."""
    manifests = os.path.join(table_dir, "_manifests")
    versions = sorted(int(f[1:-5]) for f in os.listdir(manifests) if f.endswith(".json"))
    with open(os.path.join(manifests, f"v{versions[-1]}.json")) as f:
        live = {e["name"] for e in json.load(f)["files"]}
    data = os.path.join(table_dir, "data")
    on_disk = [f for f in os.listdir(data) if not f.startswith(".")]
    return {
        "manifest.versions": float(len(versions)),
        "manifest.live_files": float(len(live)),
        "manifest.files_on_disk": float(len(on_disk)),
        "manifest.orphan_files": float(len(set(on_disk) - live)),
        "manifest.bytes_written": float(_dir_stats(data)[1]),
    }


def _timed_metric(values: list[float], unit: str = "s") -> dict:
    """The median, or None when no operation of the kind succeeded (its
    failures are counted where they happened)."""
    return {"value": statistics.median(values) if values else None,
            "unit": unit, "n": len(values)}


def _tail_metric(values: list[float]) -> dict:
    level, value = tail(values)
    return {"value": value, "unit": "s", "n": len(values), "percentile": level}


class Workload:
    """Shared parts: the run's session, its checks and its counters."""

    name = ""

    def __init__(self, spark, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer: Tracer | None = None
        self.checks: dict[str, dict] = {}
        self.attempted = 0
        self.failed = 0
        self.wall_s = 0.0
        self.client_cpu_s = 0.0
        self.layer: dict[str, float] = {}  # per-layer values read outside spans
        self.foreign = 0  # SELECTs compiled under another caller's confs
        self.op_log: list = []

    def _session(self):
        from postgre_to_clickhouse_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.default_width = self.spark.conf.get("spark.sql.shuffle.partitions")
        return self.spark

    def _foreign_conf(self) -> bool:
        conf = self.spark.conf
        return (conf.get("spark.sql.adaptive.enabled") != "true"
                or conf.get("spark.sql.shuffle.partitions") != self.default_width)

    def _span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else nullcontext()

    def _op(self, kind: str, name: str):
        return self.tracer.op(kind, name) if self.tracer else nullcontext()

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = {"ok": bool(ok), "detail": detail}

    def teardown(self) -> None:
        pass


class _CdcTable(Workload):
    """The reference's catalog: Kafka source, MV and RMT target."""

    def _catalog(self, root: str):
        from postgre_to_clickhouse_spark.ch_ddl import ChDdlCatalog

        cat = ChDdlCatalog(storage_root=root)
        cat.execute("CREATE DATABASE shop; CREATE DATABASE kafka_shop;")
        for ddl in (USERS_DDL, KAFKA_DDL, MV_DDL):
            cat.execute(ddl)
        return cat

    def _ingest(self, cat, path: str, batch_id: int) -> None:
        """One batch of Kafka records: unwrap -> MV -> INSERT."""
        from postgre_to_clickhouse_spark.cdc import unwrap
        from postgre_to_clickhouse_spark.cdc.schemas import KAFKA_CDC_RECORD

        records = self.spark.read.schema(KAFKA_CDC_RECORD).parquet(path)
        with self._span("cdc", "unwrap"):
            src = (unwrap(records)
                   .withColumnRenamed("kafka_timestamp", "_timestamp")
                   .withColumnRenamed("kafka_offset", "_offset"))
        with self._span("ch_ddl", "apply_mv"):
            rows = cat.apply_mv(self.spark, "consumer__users", {"kafka__users": src})
        with self._span("ch_ddl", "insert"):
            cat.insert(self.spark, "users", rows, batch_id=batch_id)

    def _optimize(self, cat) -> None:
        with self._span("ch_ddl", "optimize"):
            cat.execute("OPTIMIZE TABLE users FINAL", spark=self.spark)

    def _check_table(self, model: gen.LatestState, committed: list[int]) -> tuple[int, dict]:
        """Compare the table's FINAL state with ``model``. A batch of
        ``committed`` whose winning rows are not all there is a failed
        operation. Returns the CDC events of the intact batches and the
        storage metric, and reads the manifest metrics."""
        final = _final_rows(self.spark, self.cat)
        wrong = sum(1 for k in set(final) | set(model.rows)
                    if final.get(k) != model.rows.get(k))
        self.check("end state equals model", not wrong,
                   f"{wrong} of {len(model.rows)} keys differ" if wrong else
                   f"{len(model.rows)} keys")
        found, lost = 0, 0
        for i in committed:
            winners = model.winners(self.batches[i])
            if all(final.get(k) == row for k, row in winners.items()):
                found += sum(1 for r in self.batches[i] if r.op != "d")
            else:
                lost += 1
        self.failed += lost
        self.check("every acknowledged batch is readable", not lost,
                   f"{lost} of {len(committed)} acknowledged batches lost rows" if lost
                   else f"{len(committed)} batches")
        table_dir = self.cat.storage_for("users").path
        self.layer = _manifest_metrics(table_dir)
        user_bytes = len(gen.rows_json(model.rows.values()).encode())
        return found, {"bytes_stored_per_user_byte": {
            "value": _dir_stats(table_dir)[1] / user_bytes, "unit": "ratio"}}


class CdcIngest(_CdcTable):
    """One client replays a seeded Debezium change stream through
    unwrap -> apply_mv -> insert, with OPTIMIZE FINAL every M batches."""

    name = "cdc_ingest"
    KEYS = USERS
    # enough batches that a run twice as fast as today's still ends on
    # the deadline, not on the end of the stream
    BATCHES = 36
    # Assumption: a merge after every fourth INSERT, standing for
    # ClickHouse's background merges keeping a handful of parts per table.
    OPTIMIZE_EVERY = 4
    # The JVM keeps getting faster at the INSERT path for about 20 batches
    # (the JIT compiles more of it); each of the runner's three set-ups
    # ingests five, so the window starts after fifteen.
    WARM_BATCHES = 5

    def setup(self, work: Path) -> None:
        inputs = work / "inputs"
        inputs.mkdir(parents=True)
        records = gen.cdc_stream(self.seed, self.KEYS, gen.BATCH_ROWS * self.BATCHES)
        self.batches = gen.batches(records, gen.BATCH_ROWS)
        self.paths = []
        for i, b in enumerate(self.batches):
            p = str(inputs / f"batch{i:04d}.parquet")
            gen.write_kafka_batch(b, p)
            self.paths.append(p)
        self._session()
        self.cat = self._catalog(str(work / "store"))
        # warm-up on the stream's first batches: the cold first INSERT
        # and OPTIMIZE cost several times a warm one
        for i in range(self.WARM_BATCHES):
            self._ingest(self.cat, self.paths[i], i)
        self._optimize(self.cat)
        self.done = list(range(self.WARM_BATCHES))  # batches ingested, in order

    def measure(self, seconds: float) -> None:
        self.inserts, self.optimizes = [], []
        self.timed_batches: list[int] = []
        t_start = time.perf_counter()
        deadline = t_start + seconds
        for i in range(self.WARM_BATCHES, len(self.paths)):
            if time.perf_counter() >= deadline:
                break
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self._op("insert", f"batch {i}"):
                    self._ingest(self.cat, self.paths[i], i)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                self.failed += 1
                self.check(f"insert batch {i}", False, repr(exc)[:300])
                continue
            self.inserts.append(time.perf_counter() - t0)
            self.done.append(i)
            self.timed_batches.append(i)
            if i % self.OPTIMIZE_EVERY == 0:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with self._op("optimize", "OPTIMIZE FINAL"):
                        self._optimize(self.cat)
                    self.optimizes.append(time.perf_counter() - t0)
                except Exception as exc:  # noqa: BLE001
                    self.failed += 1
                    self.check(f"optimize after batch {i}", False, repr(exc)[:300])
        self.wall_s = time.perf_counter() - t_start

    def verify(self) -> dict:
        model = gen.LatestState()
        for i in self.done:
            model.apply_all(self.batches[i])
        found, metrics = self._check_table(model, self.timed_batches)
        metrics.update({
            "insert_p50_s": _timed_metric(self.inserts),
            "insert_p90_s": _tail_metric(self.inserts),
            "optimize_p50_s": _timed_metric(self.optimizes),
            "ingest_rows_per_s": {"value": found / self.wall_s, "unit": "1/s"},
        })
        self.samples = {"insert": self.inserts, "optimize": self.optimizes}
        self.primary = self.inserts
        self.n_ops = len(self.inserts) + len(self.optimizes)
        return metrics


class QueryBattery(Workload):
    """One client runs the battery at sf0.1 in a seeded order, whole
    passes until the deadline."""

    name = "query_battery"
    SF = 0.1

    def setup(self, work: Path) -> None:
        self.sf_dir = str(work / "sf0.1")
        gen.write_sf_tables(self.seed, self.sf_dir, self.SF)
        spark = self._session()
        spark.read.parquet(os.path.join(self.sf_dir, "region.parquet")).count()
        spark.read.parquet(os.path.join(self.sf_dir, "lineitem.parquet")).count()
        # start the Python worker pool an Arrow query would otherwise
        # pay for inside its timed wall
        par = spark.sparkContext.defaultParallelism

        def identity(batches):  # nested, so it pickles by value
            yield from batches

        spark.range(par).repartition(par).mapInPandas(identity, schema="id long").count()

    def measure(self, seconds: float) -> None:
        from bench import FORCE_EVAL, HEADLINE
        from postgre_to_clickhouse_spark.queries import QUERIES

        outside = sorted(set(BATTERY) - set(HEADLINE))
        if outside:
            raise ValueError(f"battery members not in bench.HEADLINE: {outside}")

        tr = self.tracer
        rng = random.Random(self.seed)
        self.runs: list[tuple[int, str, float, int]] = []  # pass, name, wall, rows
        self.passes: list[float] = []
        self.frames = {}  # each member's last timed frame, for verify
        self.foreign = 0
        t_start = time.perf_counter()
        while not self.passes or time.perf_counter() - t_start < seconds:
            order = list(BATTERY)
            rng.shuffle(order)
            t_pass = time.perf_counter()
            for name in order:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with self._op("select", name) as op:
                        if tr:
                            self.foreign += self._foreign_conf()
                        with self._span("queries", name):
                            df = self.frames[name] = QUERIES[name](self.spark, self.sf_dir)
                            if name in FORCE_EVAL:
                                df = df.filter(FORCE_EVAL[name])
                        n = df.count()
                        if tr:
                            tr.keep_frame(op, df)
                except Exception as exc:  # noqa: BLE001
                    self.failed += 1
                    self.check(f"{name} pass {len(self.passes)}", False, repr(exc)[:300])
                    continue
                self.runs.append((len(self.passes), name, time.perf_counter() - t0, n))
            self.passes.append(time.perf_counter() - t_pass)
        self.wall_s = time.perf_counter() - t_start

    def verify(self) -> dict:
        """Each timed run's row count against its oracle's, then each
        member's last timed frame, collected once, against its oracle
        value for value (``tests/oracle_harness.compare``). A member whose
        values differ fails every one of its timed runs."""
        from postgre_to_clickhouse_spark.queries import ORACLES, QUERIES
        from tests.oracle_harness import compare, duckdb_conn

        con = duckdb_conn(self.sf_dir)
        expected = {name: con.execute(f"SELECT count(*) FROM ({ORACLES[name]})").fetchone()[0]
                    for name in BATTERY}
        con.close()
        wrong_values = {}
        for name in BATTERY:
            frame = self.frames.get(name)
            fn = QUERIES[name] if frame is None else (lambda spark, sf_dir, df=frame: df)
            try:
                problems = compare(self.spark, fn, ORACLES[name], self.sf_dir)
            except Exception as exc:  # noqa: BLE001 - a failed check is counted
                problems = [repr(exc)[:300]]
            if problems:
                wrong_values[name] = "; ".join(problems)[:300]
        bad = [(p, name, n) for p, name, _, n in self.runs
               if n != expected[name] or name in wrong_values]
        self.failed += len(bad)
        self.check("row counts equal the DuckDB oracles",
                   not any(n != expected[name] for _, name, n in bad),
                   "; ".join(f"{name}: {n} vs {expected[name]}"
                             for _, name, n in bad if n != expected[name])[:500]
                   or f"{len(self.runs)} results")
        self.check("values equal the DuckDB oracles", not wrong_values,
                   "; ".join(f"{k}: {v}" for k, v in wrong_values.items())[:500]
                   or f"{len(BATTERY)} members")
        walls = [w for _, _, w, _ in self.runs]
        family = {f: [] for f in FAMILIES}
        for p in range(len(self.passes)):
            per = dict.fromkeys(FAMILIES, 0.0)
            for q, name, w, _ in self.runs:
                if q == p:
                    per[BATTERY[name]] += w
            for f in FAMILIES:
                family[f].append(per[f])
        self.layer = {f"queries.family_s.{f}": statistics.median(v) for f, v in family.items()}
        self.samples = {"select": walls}
        self.primary = self.passes
        self.op_log = [[name, w] for _, name, w, _ in self.runs]
        self.n_ops = len(walls)
        return {
            "select_p50_s": _timed_metric(walls),
            "select_p90_s": _tail_metric(walls),
            "battery_wall_s": _timed_metric(self.passes),
        }


class _TracedCatalog:
    """The catalog as ``serve_ch_http`` sees it in a traced run: each
    call the endpoint makes is a span whose Spark jobs carry a job group
    of their own; everything else passes through."""

    def __init__(self, cat, workload: "TerminalMixed") -> None:
        self._cat = cat
        self._w = workload

    def __getattr__(self, name):
        return getattr(self._cat, name)

    def query(self, spark, sql, *args, **kwargs):
        tr = self._w.tracer
        if tr is None:
            return self._cat.query(spark, sql, *args, **kwargs)
        foreign = self._w._foreign_conf()
        with tr.span("ch_ddl", "query", group=True) as span:
            span.attrs.update(kind="select", foreign_conf=foreign)
            df = self._cat.query(spark, sql, *args, **kwargs)
        tr.keep_frame(span, df)
        return df

    def execute(self, sql, spark=None):
        tr = self._w.tracer
        if tr is None:
            return self._cat.execute(sql, spark=spark)
        kind = "optimize" if sql.lstrip().upper().startswith("OPTIMIZE") else "execute"
        with tr.span("ch_ddl", kind, group=True) as span:
            span.attrs["kind"] = kind
            return self._cat.execute(sql, spark=spark)

    def insert_json_rows(self, spark, name, lines, cols=None):
        tr = self._w.tracer
        if tr is None:
            return self._cat.insert_json_rows(spark, name, lines, cols)
        with tr.span("ch_ddl", "insert", group=True) as span:
            span.attrs["kind"] = "insert"
            return self._cat.insert_json_rows(spark, name, lines, cols)


class TerminalMixed(_CdcTable):
    """A storage-backed catalog served over HTTP, preloaded with a
    Debezium snapshot, under a writer, a maintenance client and a reader
    at once."""

    name = "terminal_mixed"
    KEYS = USERS
    # Assumption: the connector starts on a table holding a third of the
    # keys the stream will touch, so the stream mixes creates and updates.
    SNAPSHOT = USERS // 3
    BATCHES = 30

    def setup(self, work: Path) -> None:
        from postgre_to_clickhouse_spark.ch_http import serve_ch_http

        inputs = work / "inputs"
        inputs.mkdir(parents=True)
        records = gen.cdc_stream(self.seed, self.KEYS, gen.BATCH_ROWS * self.BATCHES,
                                 snapshot_keys=self.SNAPSHOT)
        self.snapshot = records[:self.SNAPSHOT]
        self.batches = gen.batches(records[self.SNAPSHOT:], gen.BATCH_ROWS)
        snap_path = str(inputs / "snapshot.parquet")
        gen.write_kafka_batch(self.snapshot, snap_path)
        plan_batches = []
        for i, b in enumerate(self.batches):
            p = str(inputs / f"batch{i:04d}.json")
            with open(p, "w") as f:
                f.write(gen.json_each_row(b))
            plan_batches.append([p, [[r.user_id, r.updated_at_us // 1_000_000]
                                     for r in b if r.op != "d"]])
        preloaded = gen.LatestState().apply_all(self.snapshot)
        self.plan = {
            "seed": self.seed,
            "batches": plan_batches,
            "read_keys": [r.user_id for r in records if r.op != "d"],
            "preloaded": {str(k): row[3] for k, row in preloaded.rows.items()},
        }
        self._session()
        self.cat = self._catalog(str(work / "store"))
        self._ingest(self.cat, snap_path, 0)
        self.server = serve_ch_http(self.spark, _TracedCatalog(self.cat, self))
        # warm-up over the wire: one request of every kind but INSERT
        # (the snapshot load warmed the insert path)
        from perfbench.client import GROUP, POINT, TOP_N

        for q in ("OPTIMIZE TABLE users FINAL", POINT.format(key=0), GROUP, TOP_N):
            req = urllib.request.Request(self.server.url, data=q.encode(), method="POST")
            with urllib.request.urlopen(req, timeout=120) as r:
                r.read()
        self.plan["url"] = self.server.url
        self.work = work

    def measure(self, seconds: float) -> None:
        plan_path, out_path = self.work / "plan.json", self.work / "client.json"
        with open(plan_path, "w") as f:
            json.dump(dict(self.plan, seconds=seconds), f)
        t0 = time.perf_counter()
        proc = subprocess.Popen([sys.executable, str(HERE / "client.py"),
                                 str(plan_path), str(out_path)])
        try:
            code = proc.wait(timeout=seconds + 170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise
        self.wall_s = time.perf_counter() - t0
        if code != 0:
            raise RuntimeError(f"client process exited with {code}")
        with open(out_path) as f:
            self.result = json.load(f)
        self.client_cpu_s = self.result["cpu_s"]
        reqs = self.result["requests"]
        if reqs:
            self.wall_s = max(r["end"] for r in reqs) - min(r["start"] for r in reqs)
        if self.tracer:
            self._link_requests()

    def teardown(self) -> None:
        self.server.stop()

    def verify(self) -> dict:
        reqs = self.result["requests"]
        self.attempted += len(reqs)
        self.failed += sum(1 for r in reqs if not r["ok"])
        failed_reads = [r for r in reqs if r["client"] == "reader" and not r["ok"]]
        self.check("reads consistent with acknowledged writes", not failed_reads,
                   "; ".join(r["error"] or f"HTTP {r['status']}" for r in failed_reads[:3])
                   or f"{sum(1 for r in reqs if r['client'] == 'reader')} reads")
        if self.result["stuck"]:
            self.check("clients finished", False, ", ".join(self.result["stuck"]))
        acked = self.result["acked_batches"]
        model = gen.LatestState().apply_all(self.snapshot)
        for i in acked:
            model.apply_all(self.batches[i])
        found, metrics = self._check_table(model, acked)

        def walls(client):
            return [r["end"] - r["start"] for r in reqs if r["client"] == client and r["ok"]]

        inserts, optimizes, selects = walls("writer"), walls("maintenance"), walls("reader")
        metrics.update({
            "insert_p50_s": _timed_metric(inserts),
            "insert_p90_s": _tail_metric(inserts),
            "optimize_p50_s": _timed_metric(optimizes),
            "select_p50_s": _timed_metric(selects),
            "select_p90_s": _tail_metric(selects),
            "ingest_rows_per_s": {"value": found / self.wall_s, "unit": "1/s"},
        })
        self.samples = {"insert": inserts, "optimize": optimizes, "select": selects}
        self.primary = selects
        self.n_ops = len(reqs)
        return metrics

    def _link_requests(self) -> None:
        """Make each client request a root span (layer ch_http) and hang
        the server-side catalog span it caused beneath it: the one of
        the same kind that ran inside the request's interval."""
        tr = self.tracer
        kind_of = {"writer": "insert", "maintenance": "optimize", "reader": "select"}
        server = [s for s in tr.spans if s.layer == "ch_ddl" and s.parent is None]
        for r in self.result["requests"]:
            root = tr.add("ch_http", r.get("read") or r["kind"], r["start"], r["end"],
                          kind=kind_of[r["client"]], req_bytes=r["req_bytes"],
                          resp_bytes=r["resp_bytes"])
            for s in server:
                if (s.parent is None and s.attrs.get("kind") == root.kind
                        and r["start"] <= s.start and s.end <= r["end"]):
                    s.parent, s.op = root.sid, root.sid
                    for c in tr.spans:  # nested spans (ch_select) follow
                        if c.op == s.sid and c is not s:
                            c.op = root.sid
        self.foreign = sum(1 for s in server if s.attrs.get("foreign_conf"))


WORKLOADS = {w.name: w for w in (CdcIngest, QueryBattery, TerminalMixed)}
