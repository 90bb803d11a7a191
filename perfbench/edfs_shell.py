"""`edfs_shell` workload: EDFS shell sessions sent over the HTTP facade.

One client in a closed loop sends each command of a cycle over
`http_api.start_server` and waits for its envelope. A cycle is:
mkdir; put hash-partitioned; put range-partitioned; ls;
getPartitionLocations on both tables; readPartition for every partition;
getAvg/getMax/getMin on three columns, each unpruned and hash-pruned; one
debug=true aggregate; one hardcoded-column route; cat; rm of both tables;
ls; rm of the cycle directory.

Every answer is checked against the generator's own values.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import time
import urllib.parse
from dataclasses import dataclass

import numpy as np

from . import checks
from .harness import Meter, Op, Window, median, peak_rss_mb
from .inputs import HASH_COL, NhanesTable, nhanes_csv
from .tracer import SparkJobs, Tracer

AGG_COLUMNS = ("WTINT2YR", "INDFMIN2", "MGDCGSZ")
HASH_PARTITIONS = 8
RANGE_PARTITIONS = 2
HARDCODED_ROUTE = ("getAvgFamilyIncome", "INDFMIN2")

ROWS = 40_000
SMOKE_ROWS = 2_000


@dataclass
class Expected:
    """What every command of a cycle must answer, computed from the CSV."""

    table: NhanesTable
    hash_keys: list[str]
    range_keys: list[str]
    key_rows: dict[str, dict[str, list[tuple]]]  # table -> key -> rows

    @classmethod
    def build(cls, table: NhanesTable, n_range: int) -> "Expected":
        h = table.columns.index(HASH_COL)
        first = [r[0] for r in table.rows]
        lo, hi = min(first), max(first)
        width = (hi - lo) / n_range

        def range_key(x: float) -> str:
            b = min(max(math.floor((x - lo) / width), 0), n_range - 1)
            return f"index_{b}"

        by: dict[str, dict[str, list[tuple]]] = {"hashed": {}, "ranged": {}}
        for r in table.rows:
            hk = "0" if r[h] is None else str(int(r[h]))
            by["hashed"].setdefault(hk, []).append(r)
            by["ranged"].setdefault(range_key(r[0]), []).append(r)
        return cls(table, sorted(by["hashed"]), sorted(by["ranged"]), by)

    def keys(self, name: str) -> list[str]:
        return self.hash_keys if name == "hashed" else self.range_keys

    def aggregate(self, kind: str, col: str, hash_key: str | None) -> float | None:
        i = self.table.columns.index(col)
        rows = self.table.rows if hash_key is None else self.key_rows["hashed"][hash_key]
        vals = np.array([r[i] for r in rows if r[i] is not None], dtype=np.float64)
        if len(vals) == 0:
            return None
        return float({"avg": np.mean, "max": np.max, "min": np.min}[kind](vals))


class Client:
    """One client connection's worth of GET requests; times each request
    from send until the whole body has arrived."""

    def __init__(self, port: int) -> None:
        self.port = port

    def get(self, route: str, **params) -> tuple[dict, float]:
        url = f"/{route}?{urllib.parse.urlencode(params)}"
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            conn.request("GET", url)
            body = conn.getresponse().read()
        finally:
            conn.close()
        return json.loads(body), time.perf_counter() - t0


def _patch_layers(tracer: Tracer) -> None:
    from dsci551_edfs_spark import catalog, cli, http_api
    from dsci551_edfs_spark.operators import aggregates
    from dsci551_edfs_spark.sources import ingest, scan

    tracer.patch_function(http_api, "dispatch", "http_api.dispatch")
    tracer.patch_method(cli.EdfsShell, "run", "cli.run")
    for m in ("exists", "mkdir", "ls", "format_ls", "rm", "table_path"):
        tracer.patch_method(catalog.EdfsCatalog, m, "catalog")
    tracer.patch_function(ingest, "put", "ingest.put")
    for f in ("cat", "read_partition", "list_partitions", "get_partition_locations"):
        tracer.patch_function(scan, f, f"scan.{f}")
    for f in ("get_avg", "get_max", "get_min", "partition_debug"):
        tracer.patch_function(aggregates, f, "aggregates")


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, Parquet files) under `path`."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


class EdfsShellWorkload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 3])
        self.cycle_no = 0
        self.op_no = 0
        self.tracer: Tracer | None = None
        self.jobs: SparkJobs | None = None
        self.extra = {"put_bytes": 0, "put_s": 0.0, "read_rows": 0, "read_s": 0.0}
        self.layout: dict[str, float] = {}
        self.http_overheads: list[float] = []
        #: (root span, files of the table) of each traced hash-pruned aggregate
        self.pruned: list[tuple[int, int]] = []
        self.measuring = False

    # ------------------------------------------------------------ set-up

    def make_inputs(self) -> None:
        rows = SMOKE_ROWS if self.ctx.smoke else ROWS
        self.csv = os.path.join(self.ctx.run_dir, "nhanes.csv")
        self.table = nhanes_csv(self.csv, rows, self.ctx.seed)

    def prepare(self) -> None:
        """Expected answers; runs once the inputs are final."""
        self.expected = Expected.build(self.table, RANGE_PARTITIONS)

    def start(self, spark) -> None:
        from dsci551_edfs_spark.cli import EdfsShell
        from dsci551_edfs_spark.http_api import start_server

        self.warehouse = os.path.join(self.ctx.run_dir, "warehouse")
        self.shell = EdfsShell(spark, self.warehouse)
        self.server, self.thread = start_server(self.shell)
        self.client = Client(self.server.server_address[1])
        if self.ctx.trace:
            self.tracer = Tracer()
            _patch_layers(self.tracer)
            self.jobs = SparkJobs(spark)

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)
        if self.tracer:
            self.tracer.unpatch()

    # ------------------------------------------------------------- cycle

    def _op(self, window: Window, kind: str, check, route: str, **params) -> Op:
        if self.tracer and self.measuring:
            # traced runs trace every other operation; the untraced half
            # prices the tracing overhead. A cycle has an odd number of
            # operations, so each kind lands in both halves.
            self.tracer.enabled = self.op_no % 2 == 1
        traced = self.tracer is not None and self.tracer.enabled
        root = self.tracer.begin_op(kind, self.op_no) if traced else None
        t0 = time.perf_counter()
        try:
            env, latency = self.client.get(route, **params)
        except (OSError, http.client.HTTPException, ValueError) as e:
            env, latency = {"status": f"client error: {e}"}, time.perf_counter() - t0
        finally:
            if traced:
                self.tracer.end_op(root)
        self.op_no += 1
        ok = env.get("status") == "EDFS200" and check(env.get("response"))
        detail = "" if ok else f"{route} {params} -> {str(env)[:300]}"
        op = Op(kind, latency, ok, traced, detail, root)
        window.ops.append(op)
        if traced:
            disp = [self.tracer.spans[c] for c in self.tracer.spans[root].children]
            self.http_overheads.append(latency - sum(s.dur for s in disp))
            self.jobs.poll()
        return op

    def cycle(self, window: Window) -> None:
        exp = self.expected
        d = f"/c{self.cycle_no}"
        self.cycle_no += 1
        tables = {"hashed": f"{d}/hashed", "ranged": f"{d}/ranged"}
        n = len(self.table.rows)
        self._op(window, "mkdir", lambda r: r == {"created": d}, "mkdir", path=d)
        for name, extra in (("hashed", {"hash": HASH_COL}), ("ranged", {})):
            parts = HASH_PARTITIONS if name == "hashed" else RANGE_PARTITIONS
            want = len(exp.keys(name))
            op = self._op(
                window,
                "put",
                lambda r, want=want: isinstance(r, dict) and r.get("num_partitions") == want,
                "put",
                source=self.csv,
                destination=tables[name],
                partitions=parts,
                **extra,
            )
            if not op.traced:
                self.extra["put_bytes"] += self.table.size_bytes
                self.extra["put_s"] += op.latency_s
        self._measure_layout(tables)
        self._op(window, "ls", lambda r: checks.ls_names(r) == {"hashed", "ranged"}, "ls", path=d)
        for name, path in tables.items():
            self._op(
                window,
                "getPartitionLocations",
                lambda r, name=name: checks.locations_ok(r, exp.keys(name), exp.key_rows[name]),
                "getPartitionLocations",
                path=path,
            )
        for name, path in tables.items():
            for p, key in enumerate(exp.keys(name), start=1):
                rows = exp.key_rows[name][key]
                op = self._op(
                    window,
                    "readPartition",
                    lambda r, rows=rows: checks.csv_rows_ok(r, self.table.columns, rows, self.shell.max_csv_rows),
                    "readPartition",
                    path=path,
                    partition=p,
                )
                if not op.traced:
                    self.extra["read_rows"] += min(len(rows), self.shell.max_csv_rows)
                    self.extra["read_s"] += op.latency_s
        hkeys = exp.hash_keys
        for col in AGG_COLUMNS:
            for kind, route in (("avg", "getAvg"), ("max", "getMax"), ("min", "getMin")):
                want = exp.aggregate(kind, col, None)
                self._op(window, route, lambda r, w=want: checks.agg_ok(r, w), route, path=tables["hashed"], col=col)
                key = hkeys[int(self.rng.integers(len(hkeys)))]
                want = exp.aggregate(kind, col, key)
                op = self._op(
                    window,
                    f"{route} pruned",
                    lambda r, w=want: checks.agg_ok(r, w),
                    route,
                    path=tables["hashed"],
                    col=col,
                    debug="false",
                    hash=key,
                )
                if op.traced:
                    self.pruned.append((op.root, self.layout["hashed_files"]))
        col = AGG_COLUMNS[int(self.rng.integers(len(AGG_COLUMNS)))]
        want = exp.aggregate("avg", col, None)
        self._op(
            window,
            "getAvg",
            lambda r, w=want: checks.debug_agg_ok(r, w, n),
            "getAvg",
            path=tables["hashed"],
            col=col,
            debug="true",
        )
        route, col = HARDCODED_ROUTE
        want = exp.aggregate("avg", col, None)
        self._op(window, route, lambda r, w=want: checks.agg_ok(r, w), route, path=tables["hashed"])
        op = self._op(
            window,
            "cat",
            lambda r: checks.csv_rows_ok(r, self.table.columns, self.table.rows, self.shell.max_csv_rows),
            "cat",
            path=tables["hashed"],
        )
        if not op.traced:
            self.extra["read_rows"] += min(n, self.shell.max_csv_rows)
            self.extra["read_s"] += op.latency_s
        for path in tables.values():
            self._op(window, "rm", lambda r, path=path: r == {"removed": path}, "rm", path=path)
        self._op(window, "ls", lambda r: checks.ls_names(r) == set(), "ls", path=d)
        self._op(window, "rm", lambda r: r == {"removed": d}, "rm", path=d)

    def _measure_layout(self, tables: dict[str, str]) -> None:
        """Bytes and Parquet files the two puts left on disk."""
        total = files = 0
        for name, path in tables.items():
            b, f = _dir_stats(self.warehouse + path)
            total += b
            files += f
            if name == "hashed":
                self.layout["hashed_files"] = f
        self.layout["stored_bytes_ratio"] = total / (2 * self.table.size_bytes)
        self.layout["bytes_per_put"] = total / 2
        self.layout["files_per_put"] = files / 2

    # ------------------------------------------------------------ phases

    def cold(self) -> float:
        """The first cycle on an empty warehouse in a fresh session."""
        t0 = time.perf_counter()
        w = Window()
        if self.tracer:
            self.tracer.enabled = False
        self.cycle(w)
        self.cold_ops = w.ops
        return time.perf_counter() - t0

    def measure(self, seconds: float, meter: Meter) -> Window:
        window = Window()
        self.extra = dict.fromkeys(self.extra, 0)
        start = meter.start()
        k = 0
        self.measuring = True
        while k < (2 if self.tracer else 1) or time.perf_counter() - start["wall"] < seconds:
            t0 = time.perf_counter()
            self.cycle(window)
            window.units.append(time.perf_counter() - t0)
            k += 1
        meter.stop(start, window)
        window.peak_rss_mb = peak_rss_mb()
        return window

    # ----------------------------------------------------------- metrics

    def stored_bytes_ratio(self) -> float:
        """Bytes on disk after both puts over the CSV bytes they ingested."""
        return self.layout["stored_bytes_ratio"]

    def layer_metrics(self, window: Window) -> dict[str, float]:
        # from untraced operations only, so a traced run reports them too
        m: dict[str, float] = {
            "put_mb_per_s": self.extra["put_bytes"] / 1e6 / self.extra["put_s"],
            "read_rows_per_s": self.extra["read_rows"] / self.extra["read_s"],
        }
        if not self.tracer:
            return m
        tr, jobs = self.tracer, self.jobs
        jobs.drain()
        ops = [o for o in window.ops if o.traced]

        def durs(name):
            return [s.dur for s in tr.named(name)]

        def jobs_per_call(name):
            spans = tr.named(name)
            return len(jobs.within(spans)) / max(len(spans), 1)

        scan_names = ("scan.cat", "scan.read_partition", "scan.list_partitions", "scan.get_partition_locations")
        scans = [s for n in scan_names for s in tr.named(n)]
        top_scans = [s for s in scans if not any(a.name.startswith("scan.") for a in tr.ancestors(s))]
        catalog = tr.named("catalog")
        roots = [tr.spans[root] for root, _files in self.pruned]
        m.update(
            {
                "http_api.overhead_s": median(self.http_overheads),
                "cli.run_self_s": median([tr.self_time(s) for s in tr.named("cli.run")]),
                "catalog.calls": len(catalog) / len(ops),
                "catalog.busy_s": sum(
                    s.dur for s in catalog if not any(a.name == "catalog" for a in tr.ancestors(s))
                ) / len(ops),
                "ingest.put_s": median(durs("ingest.put")),
                "ingest.spark_jobs_per_put": jobs_per_call("ingest.put"),
                "ingest.bytes_written": self.layout["bytes_per_put"],
                "ingest.files_written": self.layout["files_per_put"],
                "scan.read_partition_s": median(durs("scan.read_partition")),
                "scan.list_partitions_s": median(durs("scan.list_partitions")),
                "scan.locations_s": median(durs("scan.get_partition_locations")),
                "scan.spark_jobs_per_call": len(jobs.within(top_scans)) / max(len(top_scans), 1),
                "aggregates.busy_s": median(durs("aggregates")),
                "aggregates.spark_jobs_per_call": jobs_per_call("aggregates"),
                "aggregates.pruned_files_frac": 1 - median(
                    [n / files for n, (_root, files) in zip(jobs.files_read(roots), self.pruned)]
                ),
            }
        )
        return m
