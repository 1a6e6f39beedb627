"""The benchmark's three workloads.

Each workload builds seeded fixtures under its own directory, then runs
closed-loop ops with one client. ``prepare`` makes an op's input outside
the timed region, ``run_op`` is the timed region, ``check`` verifies the
output and ``trace_op`` (traced ops only, untimed) replays metadata reads
to attribute the op's time to layers.

Why each workload exists is in README.md beside this file.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from icegopher_spark.iceberg import expressions as E
from icegopher_spark.iceberg.evaluators import ManifestEvaluator, inclusive_projection
from icegopher_spark.iceberg import maintenance as M
from icegopher_spark.iceberg import write as W
from icegopher_spark.iceberg.manifests import (
    ManifestContent,
    ManifestEntryStatus,
    fetch_entries,
    read_manifest_list,
)
from icegopher_spark.iceberg.schema import Schema
from icegopher_spark.iceberg.sqlcatalog import SqlCatalog
from icegopher_spark.iceberg.transforms import PartitionField, PartitionSpec, parse_transform
from icegopher_spark.iceberg.types import (
    DoubleType,
    IntegerType,
    LongType,
    NestedField,
    StringType,
)
from icegopher_spark.operators.dedup import minhash_dedup_pairs, neardup_select


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _root, _dirs, files in os.walk(path))


def string_pool(rng: np.random.Generator, n: int, prefix: str) -> pa.Array:
    return pa.array([f"{prefix}{x:012x}" for x in rng.integers(0, 1 << 48, n)])


def decoded_by_plan(scan, manifests: list) -> list:
    """The manifests ``plan_files`` decodes for ``scan``: those whose
    partition summaries may match its filter, judged with the same
    evaluators ``plan_files`` uses."""
    if isinstance(scan.row_filter, E.AlwaysTrue):
        return manifests
    md = scan.table.metadata
    schema = scan.projection_base_schema()
    bound = E.ensure_bound(schema, E.rewrite_not(scan.row_filter), scan.case_sensitive)
    evaluators: dict = {}
    out = []
    for m in manifests:
        spec = md.spec_by_id(m.partition_spec_id)
        if spec is not None and not spec.is_unpartitioned:
            ev = evaluators.get(m.partition_spec_id)
            if ev is None:
                part = inclusive_projection(schema, spec, bound, scan.case_sensitive)
                ev = evaluators[m.partition_spec_id] = ManifestEvaluator(spec, schema, part)
            if not ev.eval(m.partitions):
                continue
        out.append(m)
    return out


def manifest_layers(table, snap, scan=None) -> tuple[dict, dict]:
    """Replay the manifest reads of an op on ``snap`` and time them: the
    manifest list, then every manifest (every one ``scan.plan_files``
    decodes, when a scan is given). Only the reads and decodes are timed,
    and decoded entries are dropped as ``plan_files`` drops them, so that
    holding them does not slow the garbage collector. Returns the layer
    values and, per decoded manifest, (file path, file size, added by
    ``snap``) of its live entries."""
    io = table.io
    t0 = time.perf_counter()
    manifests = read_manifest_list(io.read(snap.manifest_list))
    list_ms = 1e3 * (time.perf_counter() - t0)
    decoded = manifests if scan is None else decoded_by_plan(scan, manifests)
    decode_ms = 0.0
    files: dict[str, list[tuple[str, int, bool]]] = {}
    for m in decoded:
        t1 = time.perf_counter()
        entries = fetch_entries(m, io.read(m.manifest_path), discard_deleted=True)
        decode_ms += 1e3 * (time.perf_counter() - t1)
        files[m.manifest_path] = [
            (
                e.data_file.file_path,
                e.data_file.file_size_in_bytes,
                e.status == ManifestEntryStatus.ADDED and e.snapshot_id == snap.snapshot_id,
            )
            for e in entries
        ]
        del entries
    layers = {
        "metadata.json_kb": os.path.getsize(table.metadata_location) / 1024.0,
        "manifests.count": len(manifests),
        "manifests.entries": sum(len(fs) for fs in files.values()),
        "manifests.list_read_ms": list_ms,
        "manifests.decode_ms": decode_ms,
    }
    return layers, {"manifests": manifests, "files": files}


def scan_layers(scan, tasks, spans: dict) -> dict:
    """Manifest, metadata and evaluator layer values of one planned scan."""
    layers, rep = manifest_layers(scan.table, scan.snapshot(), scan)
    data = [m for m in rep["manifests"] if m.content == ManifestContent.DATA]
    files_total = sum(m.added_files_count + m.existing_files_count for m in data)
    selected = {t.file.file_path for t in tasks}
    useful = sum(1 for fs in rep["files"].values() if any(f[0] in selected for f in fs))
    layers.update(
        {
            "evaluators.files_total": files_total,
            "evaluators.files_selected": len(tasks),
            "evaluators.selected_ratio": len(tasks) / files_total if files_total else 0.0,
            "evaluators.manifest_useful_ratio": useful / len(rep["manifests"]) if rep["manifests"] else 0.0,
            "evaluators.non_decode_ms": spans["table.plan_files"]
            - layers["manifests.list_read_ms"]
            - layers["manifests.decode_ms"],
        }
    )
    return layers


def new_catalog(root: str) -> SqlCatalog:
    cat = SqlCatalog("bench", f"sqlite:{root}/catalog.db", {"warehouse": f"{root}/warehouse"})
    cat.create_namespace("bench")
    return cat


class Workload:
    name = ""
    # untimed ops run first, so JIT and codegen warm-up is over before timing
    warmup_ops = 0
    # the timed loop runs for --seconds and at least this many ops, and
    # stops at a whole number of op-kind cycles, so every run times the
    # same mix of op kinds
    min_timed_ops = 0
    cycle = 1
    table_id = ""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.logical_bytes = 0

    def build(self, spark, root: str) -> None:
        raise NotImplementedError

    def prepare(self, i: int):
        return None

    def run_op(self, i: int, inp, tr) -> dict:
        raise NotImplementedError

    def check(self, i: int, out: dict) -> bool:
        raise NotImplementedError

    def trace_op(self, i: int, out: dict, spans: dict) -> dict:
        raise NotImplementedError

    def after_op(self, i: int) -> None:
        pass

    def space_amp(self) -> float:
        return self.space_bytes() / self.logical_bytes

    def space_bytes(self) -> int:
        table_dir = f"{self.root}/warehouse/{self.table_id.replace('.', '/')}"
        return dir_bytes(table_dir) + os.path.getsize(f"{self.root}/catalog.db")


class ScanPoint(Workload):
    """Point reads on a table with hundreds of manifests: the driver
    metadata plane (catalog, manifest decode, pruning) does most of the
    work and Spark reads one small file per op."""

    name = "scan_point"
    warmup_ops = 30
    min_timed_ops = 20
    table_id = "bench.points"
    COMMITS = 200
    FILES_PER_COMMIT = 4
    ROWS_PER_FILE = 200
    PARTITIONS = 16
    ZIPF_S = 1.1
    # op kinds per 10-op cycle: 4 partition+key, 5 key-only, 1 time travel.
    # Partition-pruned ops are the fast mode; keeping them under half of
    # the ops keeps the median inside the key-only mode.
    CYCLE = ("part",) * 4 + ("key",) * 5 + ("travel",)
    cycle = len(CYCLE)

    def build(self, spark, root: str) -> None:
        self.spark, self.root = spark, root
        rng = np.random.default_rng([self.seed, 0])
        self.cat = new_catalog(root)
        cols = [NestedField(1, "k", LongType(), True), NestedField(2, "p", IntegerType(), True)]
        payload = []
        for j, kind in enumerate(("str", "dbl", "lng") * 2):
            typ = {"str": StringType(), "dbl": DoubleType(), "lng": LongType()}[kind]
            cols.append(NestedField(3 + j, f"c{j}", typ, False))
            payload.append(kind)
        schema = Schema(tuple(cols), schema_id=0)
        spec = PartitionSpec([PartitionField(2, 1000, "p", parse_transform("identity"))])
        # one manifest per registering commit: automatic manifest merging
        # would fold them back into a few and hide per-manifest costs
        t = self.cat.create_table(
            self.table_id, schema, spec, {"commit.manifest-merge.enabled": "false"}
        )
        n = self.COMMITS * self.FILES_PER_COMMIT * self.ROWS_PER_FILE
        keys = np.arange(n, dtype=np.int64)
        self.columns = {"k": pa.array(keys)}
        for j, kind in enumerate(payload):
            if kind == "str":
                pool = string_pool(rng, 4096, f"s{j}-")
                self.columns[f"c{j}"] = pool.take(pa.array(rng.integers(0, len(pool), n)))
            elif kind == "dbl":
                self.columns[f"c{j}"] = pa.array(rng.random(n))
            else:
                self.columns[f"c{j}"] = pa.array(rng.integers(0, 1 << 40, n))
        data_dir = f"{t.location}/data"
        os.makedirs(data_dir, exist_ok=True)
        self.snapshots = []  # (snapshot id, number of keys visible)
        per_commit = self.FILES_PER_COMMIT * self.ROWS_PER_FILE
        for c in range(self.COMMITS):
            p = c % self.PARTITIONS
            paths = []
            for f in range(self.FILES_PER_COMMIT):
                lo = c * per_commit + f * self.ROWS_PER_FILE
                batch = pa.table(
                    {
                        "k": self.columns["k"].slice(lo, self.ROWS_PER_FILE),
                        "p": pa.array(np.full(self.ROWS_PER_FILE, p, dtype=np.int32)),
                        **{
                            name: arr.slice(lo, self.ROWS_PER_FILE)
                            for name, arr in self.columns.items()
                            if name != "k"
                        },
                    }
                )
                self.logical_bytes += batch.nbytes
                path = f"{data_dir}/c{c:05d}-{f}.parquet"
                pq.write_table(batch, path)
                paths.append(path)
            t = W.add_files(t, paths, {"p": p})
            self.snapshots.append((t.current_snapshot().snapshot_id, (c + 1) * per_commit))
        self.n_keys = n
        # Zipf over key ranks; ranks map to keys through a seeded
        # permutation so hot keys are scattered over files and manifests
        w = 1.0 / np.arange(1, n + 1) ** self.ZIPF_S
        self.zipf_cdf = np.cumsum(w) / w.sum()
        self.rank_to_key = rng.permutation(n)
        self.op_rng = np.random.default_rng([self.seed, 1])

    def _zipf_key(self, bound: int) -> int:
        while True:
            r = int(np.searchsorted(self.zipf_cdf, self.op_rng.random()))
            key = int(self.rank_to_key[min(r, self.n_keys - 1)])
            if key < bound:
                return key

    def prepare(self, i: int):
        kind = self.CYCLE[i % len(self.CYCLE)]
        snap_id = None
        bound = self.n_keys
        if kind == "travel":
            lo = len(self.snapshots) // 2
            snap_id, bound = self.snapshots[int(self.op_rng.integers(lo, len(self.snapshots) - 1))]
        key = self._zipf_key(bound)
        per_commit = self.FILES_PER_COMMIT * self.ROWS_PER_FILE
        pred = E.equal_to("k", key)
        if kind == "part":
            pred = E.And(E.equal_to("p", (key // per_commit) % self.PARTITIONS), pred)
        return key, pred, snap_id

    def run_op(self, i: int, inp, tr) -> dict:
        key, pred, snap_id = inp
        with tr.span("sqlcatalog.load_table"):
            t = self.cat.load_table(self.table_id)
        scan = t.scan(row_filter=pred, snapshot_id=snap_id)
        with tr.span("table.plan_files"):
            tasks = scan.plan_files()
        with tr.span("table.to_df"):
            df = scan.to_df(self.spark, tasks)
        with tr.span("spark.action"):
            rows = df.collect()
        return {"key": key, "rows": rows, "tasks": tasks, "scan": scan}

    def check(self, i: int, out: dict) -> bool:
        key = out["key"]
        expected = {name: arr[key].as_py() for name, arr in self.columns.items()}
        expected["p"] = (key // (self.FILES_PER_COMMIT * self.ROWS_PER_FILE)) % self.PARTITIONS
        return [r.asDict() for r in out["rows"]] == [expected]

    def trace_op(self, i: int, out: dict, spans: dict) -> dict:
        return scan_layers(out["scan"], out["tasks"], spans)


class CommitChurn(Workload):
    """Appends through the catalog, with manifest rewrite, snapshot
    expiry and compaction in rotation every MAINTENANCE_EVERY ops."""

    name = "commit_churn"
    warmup_ops = 24
    ROWS_PER_APPEND = 2000
    MAINTENANCE_EVERY = 4
    ROTATION = ("rewrite_manifests", "expire_snapshots", "compact")
    RETAIN_LAST = 8
    table_id = "bench.churn"
    # space_amp is read after this many ops (warm-up included), a whole
    # number of maintenance cycles, so it is the same for a seed
    cycle = MAINTENANCE_EVERY * len(ROTATION)
    SPACE_AT_OP = warmup_ops + 3 * cycle
    min_timed_ops = SPACE_AT_OP - warmup_ops

    def build(self, spark, root: str) -> None:
        self.spark, self.root = spark, root
        self.cat = new_catalog(root)
        self.schema = Schema(
            (
                NestedField(1, "id", LongType(), True),
                NestedField(2, "v", StringType(), False),
                NestedField(3, "a", DoubleType(), False),
                NestedField(4, "b", LongType(), False),
            ),
            schema_id=0,
        )
        self.cat.create_table(self.table_id, self.schema)
        self.spark_schema = self.schema.to_spark()
        rng = np.random.default_rng([self.seed, 0])
        self.pool = string_pool(rng, 4096, "v-")
        self.op_rng = np.random.default_rng([self.seed, 1])
        self.rows = 0
        self.space = None

    def kind(self, i: int) -> str:
        if i % self.MAINTENANCE_EVERY == self.MAINTENANCE_EVERY - 1:
            return self.ROTATION[(i // self.MAINTENANCE_EVERY) % len(self.ROTATION)]
        return "append"

    def prepare(self, i: int):
        kind = self.kind(i)
        if kind != "append":
            table_dir = f"{self.root}/warehouse/bench/churn"
            return kind, None, dir_files(table_dir)
        n = self.ROWS_PER_APPEND
        rng = self.op_rng
        batch = pa.table(
            {
                "id": pa.array(np.arange(self.rows, self.rows + n, dtype=np.int64)),
                "v": self.pool.take(pa.array(rng.integers(0, len(self.pool), n))),
                "a": pa.array(rng.random(n)),
                "b": pa.array(rng.integers(0, 1 << 40, n)),
            }
        )
        self.logical_bytes += batch.nbytes
        self.rows += n
        return kind, self.spark.createDataFrame(batch.to_pandas(), self.spark_schema), None

    def run_op(self, i: int, inp, tr) -> dict:
        kind, df, files_before = inp
        with tr.span("sqlcatalog.load_table"):
            t = self.cat.load_table(self.table_id)
        if kind == "append":
            with tr.span("write.append"):
                W.append(t, df)
        elif kind == "rewrite_manifests":
            with tr.span("maintenance.rewrite_manifests"):
                M.rewrite_manifests(t)
        elif kind == "expire_snapshots":
            with tr.span("maintenance.expire_snapshots"):
                M.expire_snapshots(t, retain_last=self.RETAIN_LAST)
        else:
            with tr.span("maintenance.compact"):
                M.compact_data_files(t, self.spark)
        return {"kind": kind, "files_before": files_before}

    def check(self, i: int, out: dict) -> bool:
        t = self.cat.load_table(self.table_id)
        out["table"] = t
        if int(t.current_snapshot().summary["total-records"]) != self.rows:
            return False
        if out["kind"] != "append":
            return t.scan().to_df(self.spark).count() == self.rows
        return True

    def trace_op(self, i: int, out: dict, spans: dict) -> dict:
        t = out["table"]
        snap = t.current_snapshot()
        layers, rep = manifest_layers(t, snap)
        # (manifest path, data file size) of the files this op added
        added = [(path, f[1]) for path, fs in rep["files"].items() for f in fs if f[2]]
        kind = out["kind"]
        if kind == "append":
            new_manifests = {path for path, _size in added}
            layers.update(
                {
                    "write.data_bytes": sum(size for _path, size in added),
                    "write.metadata_bytes": os.path.getsize(t.metadata_location)
                    + os.path.getsize(snap.manifest_list)
                    + sum(m.manifest_length for m in rep["manifests"] if m.manifest_path in new_manifests),
                    "write.manifests_after": len(rep["manifests"]),
                }
            )
        elif kind == "expire_snapshots":
            layers["maintenance.files_removed"] = out["files_before"] - dir_files(
                f"{self.root}/warehouse/bench/churn"
            )
        elif kind == "compact":
            layers["maintenance.bytes_rewritten"] = sum(size for _path, size in added)
        return layers

    def after_op(self, i: int) -> None:
        if i + 1 == self.SPACE_AT_OP:
            self.space = self.space_bytes() / self.logical_bytes

    def space_amp(self) -> float:
        if self.space is None:
            raise RuntimeError(f"space_amp is read after op {self.SPACE_AT_OP}, which never ran")
        return self.space


class DedupPipeline(Workload):
    """Near-duplicate selection over one corpus batch per op: Spark jobs
    do almost all the work and the metadata plane almost none."""

    name = "dedup_pipeline"
    warmup_ops = 10
    min_timed_ops = 6
    table_id = "bench.corpus"
    DOCS_PER_BATCH = 500
    WORDS_PER_DOC = 100
    VOCAB = 5000
    # (duplicate share, chained copies): chains make long components and
    # so more connected-components rounds. Three levels, so the median
    # op lies inside the middle level rather than between two modes.
    LEVELS = ((0.1, False), (0.4, True), (0.25, False))
    cycle = len(LEVELS)
    BATCHES = 6
    GROUP_SIZES = (2, 3, 4, 5)
    THRESHOLD = 0.5

    def build(self, spark, root: str) -> None:
        self.spark, self.root = spark, root
        rng = np.random.default_rng([self.seed, 0])
        self.cat = new_catalog(root)
        schema = Schema(
            (
                NestedField(1, "doc_id", LongType(), True),
                NestedField(2, "batch", IntegerType(), True),
                NestedField(3, "text", StringType(), True),
            ),
            schema_id=0,
        )
        spec = PartitionSpec([PartitionField(2, 1000, "batch", parse_transform("identity"))])
        t = self.cat.create_table(self.table_id, schema, spec)
        data_dir = f"{t.location}/data"
        os.makedirs(data_dir, exist_ok=True)
        vocab = np.array([f"w{x}" for x in range(self.VOCAB)], dtype=object)
        self.groups = []  # per batch: list of planted groups (doc id lists)
        for b in range(self.BATCHES):
            share, chained = self.LEVELS[b % len(self.LEVELS)]
            docs, groups = self._batch_docs(rng, share, chained)
            order = rng.permutation(len(docs))
            ids = b * self.DOCS_PER_BATCH + np.arange(len(docs), dtype=np.int64)
            slot = {int(old): int(ids[new]) for new, old in enumerate(order)}
            self.groups.append([[slot[d] for d in g] for g in groups])
            batch = pa.table(
                {
                    "doc_id": pa.array(ids),
                    "batch": pa.array(np.full(len(docs), b, dtype=np.int32)),
                    "text": pa.array([" ".join(vocab[docs[o]]) for o in order]),
                }
            )
            self.logical_bytes += batch.nbytes
            path = f"{data_dir}/batch-{b:03d}.parquet"
            pq.write_table(batch, path)
            t = W.add_files(t, [path], {"batch": b})

    def _batch_docs(self, rng, share: float, chained: bool):
        """Word-index arrays for one batch; planted groups hold copies
        that differ from their source by one substituted word (3-shingle
        Jaccard ~0.94, far above the 0.5 threshold)."""
        docs: list[np.ndarray] = []
        groups: list[list[int]] = []
        while len(docs) < share * self.DOCS_PER_BATCH:
            # sizes cycle instead of being drawn, so every seed has the
            # same groups and components rounds; only the words differ
            size = self.GROUP_SIZES[len(groups) % len(self.GROUP_SIZES)]
            origin = rng.integers(0, self.VOCAB, self.WORDS_PER_DOC)
            group = [len(docs)]
            docs.append(origin)
            prev = origin
            for _ in range(size - 1):
                copy = (prev if chained else origin).copy()
                copy[int(rng.integers(0, self.WORDS_PER_DOC))] = int(rng.integers(0, self.VOCAB))
                group.append(len(docs))
                docs.append(copy)
                prev = copy
            groups.append(group)
        while len(docs) < self.DOCS_PER_BATCH:
            docs.append(rng.integers(0, self.VOCAB, self.WORDS_PER_DOC))
        return docs[: self.DOCS_PER_BATCH], groups

    def prepare(self, i: int):
        return i % self.BATCHES

    def run_op(self, i: int, b: int, tr) -> dict:
        with tr.span("sqlcatalog.load_table"):
            t = self.cat.load_table(self.table_id)
        scan = t.scan(row_filter=E.equal_to("batch", b))
        with tr.span("table.plan_files"):
            tasks = scan.plan_files()
        with tr.span("table.to_df"):
            df = scan.to_df(self.spark, tasks)
        with tr.span("dedup.eager"):
            pairs = minhash_dedup_pairs(df, "text", "doc_id", self.THRESHOLD)
            sel = neardup_select(df, self.THRESHOLD, "text", "doc_id", pairs=pairs)
        with tr.span("spark.action"):
            rows = sel.collect()
        return {"batch": b, "rows": rows, "tasks": tasks, "scan": scan, "pairs": pairs}

    def check(self, i: int, out: dict) -> bool:
        """Every planted group collapses to exactly one kept id, and no
        other component exists."""
        groups = self.groups[out["batch"]]
        by_member = {d: g for g in groups for d in g}
        seen = set()
        for r in out["rows"]:
            g = by_member.get(r.kept_id)
            if g is None or r.group_rep != min(g) or r.n_members != len(g) or min(g) in seen:
                return False
            seen.add(min(g))
        return len(seen) == len(groups)

    def trace_op(self, i: int, out: dict, spans: dict) -> dict:
        layers = scan_layers(out["scan"], out["tasks"], spans)
        members = sum(r.n_members for r in out["rows"])
        layers.update(
            {
                "dedup.action_ms": spans["spark.action"],
                "dedup.pairs": out["pairs"].count(),
                "dedup.groups": len(out["rows"]),
                "dedup.kept": self.DOCS_PER_BATCH - members + len(out["rows"]),
            }
        )
        return layers


WORKLOADS = {w.name: w for w in (ScanPoint, CommitChurn, DedupPipeline)}
