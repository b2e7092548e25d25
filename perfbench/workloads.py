"""The three workloads: ``ingest``, ``catalog_api`` and ``analytics``.

Each workload builds its fixture in ``setup`` (called several times per
run, on a fresh session each time), runs a closed loop in ``measure``
and checks every operation's output as it goes. Output checks are
untimed. ``patch`` installs the traced run's span wrappers around the
layers the workload reaches.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.harness import geomean, median, percentile
from tests.conftest import SF_SMOKE

# the sf0.1 tables, beside the sf0.001 ones the repository's tests read
SF_DIR = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")
MB = 1e6
WARMUP_VERSION = 1 << 20  # outside any run's version sequence


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    error: str | None = None
    attrs: dict = field(default_factory=dict)


@dataclass
class Segment:
    """Operations measured in one stretch of the closed loop."""

    ops: list[Op]
    clients: int

    @property
    def busy_s(self) -> float:
        return sum(o.seconds for o in self.ops)

    def ops_per_s(self) -> float:
        return len(self.ops) / (self.busy_s / self.clients) if self.ops else 0.0

    def latencies(self, kinds=None) -> list[float]:
        return [o.seconds for o in self.ops if kinds is None or o.kind in kinds]

    def latency_s(self) -> float:
        """Geometric mean over operation kinds (a version; a request
        kind; a query) of each kind's median time. Every kind counts
        once, so the statistic does not jump between kinds with the mix."""
        by_kind: dict[str, list[float]] = {}
        for o in self.ops:
            by_kind.setdefault(o.kind, []).append(o.seconds)
        return geomean([median(ts) for ts in by_kind.values()])


def _metric(value: float, unit: str, n: int) -> dict:
    return {"value": value, "unit": unit, "samples": n}


def _window(seconds: float, min_units: int = 2):
    """Closed-loop pacing for workloads whose unit of work (a version, a
    pass over the queries) is long: run at least ``min_units`` units,
    then stop before a unit that would most likely end more than half a
    unit past the window, so the number of units per run does not flip
    with small timing noise."""
    t0 = time.perf_counter()
    units, last = 0, 0.0
    while True:
        started = time.perf_counter()
        if units >= min_units and started - t0 + last / 2 >= seconds:
            return
        yield units
        units += 1
        last = time.perf_counter() - started


def _hash_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return "1220" + h.hexdigest()


# -- ingest -------------------------------------------------------------------


class Ingest:
    """One client runs ``pipeline.create_dataset_version`` on a sequence
    of seeded STAC trees; every 2nd version has one tampered asset."""

    clients = 1

    def __init__(self, seed: int):
        self.seed = seed

    def setup(self, host, spark) -> None:
        from geospatial_data_lake_spark.plans.catalog import DatasetCatalog

        self.spark = spark
        self.next_version = 0
        self.runs: list[tuple[gen.StacTree, object]] = []  # (tree, result)
        self.staging = host.path("ingest-staging")
        self.storage = host.path("ingest-storage")
        self.catalog = DatasetCatalog(spark, host.path("ingest-catalog"))
        self.dataset = self.catalog.create_dataset(f"ingest_{self.seed}")

    def prepare(self) -> list[Op]:
        """Untimed: one full-size checked version first (a passing one),
        so JIT and the start-up of every Python worker stay out of the
        timed versions."""
        index = WARMUP_VERSION + 1 if gen.is_tampered(self.seed, WARMUP_VERSION) else WARMUP_VERSION
        tree = gen.write_stac_tree(self.seed, index, os.path.join(self.staging, "warmup"))
        return [self._version(tree, None)]

    def measure(self, seconds: float, tracer=None) -> Segment:
        ops = []
        for _ in _window(seconds):
            i = self.next_version
            self.next_version += 1
            tree = gen.write_stac_tree(self.seed, i, os.path.join(self.staging, f"v{i:04d}"))
            ops.append(self._version(tree, tracer))
        return Segment(ops, self.clients)

    def _version(self, tree: gen.StacTree, tracer) -> Op:
        """Ingest one tree (timed), then check and count it (untimed)."""
        from geospatial_data_lake_spark.plans import pipeline

        t0 = time.perf_counter()
        result = pipeline.create_dataset_version(
            self.spark,
            self.catalog,
            self.dataset["dataset_id"],
            tree.root_url,
            self.storage,
        )
        seconds = time.perf_counter() - t0
        error = self._check_version(tree, result)
        if tracer is not None:
            self._count(tracer, tree, result)
        self.runs.append((tree, result))
        return Op("version", seconds, error is None, error, {"bytes": tree.data_bytes})

    def _target_dir(self, result) -> str:
        return os.path.join(
            self.storage,
            f"{self.dataset['title']}-{self.dataset['dataset_id']}",
            result.version_id,
        )

    def _check_version(self, tree, result) -> str | None:
        if result.validation_passed == tree.tampered:
            return (
                f"validation_passed={result.validation_passed} but the "
                f"planted schedule says tampered={tree.tampered}"
            )
        target = self._target_dir(result)
        if tree.tampered:
            return f"copy not skipped: {target}" if os.path.exists(target) else None
        for src, digest in tree.data.items():
            dst = os.path.join(target, os.path.basename(src))
            if not os.path.exists(dst) or _hash_file(dst) != digest:
                return f"copied asset does not re-hash to its multihash: {dst}"
        for src in tree.docs:
            dst = os.path.join(target, os.path.basename(src))
            with open(dst, encoding="utf-8") as fh:
                doc = json.load(fh)
            hrefs = [link["href"] for link in doc.get("links", [])] + [
                a["href"] for a in (doc.get("assets") or {}).values()
            ]
            if any("/" in h for h in hrefs):
                return f"metadata href not rewritten to a basename: {dst}"
        return None

    def _count(self, tracer, tree, result) -> None:
        """Per-version counts taken at the layer boundary, from the
        version's cached result frames (untimed)."""
        from pyspark.sql import functions as F

        a = result.assets.groupBy("item_type").count().collect()
        counts = {r["item_type"]: r["count"] for r in a}
        tracer.count("plans.stac.docs", counts.get("METADATA", 0))
        tracer.count("plans.checksums.files", counts.get("DATA", 0))
        tracer.count("plans.checksums.bytes", tree.data_bytes)
        tracer.count(
            "plans.checksums.failed_rows",
            result.validation.filter(F.col("result") == "Failed").count(),
        )
        if result.copy_status is not None:
            rows = result.copy_status.collect()
            done = [r for r in rows if r["status"] == "Complete"]
            tracer.count("plans.importer.files_copied", len(done))
            tracer.count("plans.importer.failed_files", len(rows) - len(done))
            tracer.count(
                "plans.importer.bytes_copied",
                sum(os.path.getsize(r["target"]) for r in done),
            )

    def finish_checks(self) -> tuple[int, list[str]]:
        """The catalog's dataset_versions rows carry each version's outcome."""
        rows = {
            r["version_id"]: r["execution_status"]
            for r in self.catalog.versions().collect()
        }
        errors = []
        for tree, result in self.runs:
            want = "FAILED" if tree.tampered else "SUCCEEDED"
            if rows.get(result.version_id) != want:
                errors.append(
                    f"dataset_versions status of {result.version_id} is "
                    f"{rows.get(result.version_id)}, expected {want}"
                )
        return len(self.runs), errors

    def named_metrics(self, seg: Segment) -> dict:
        lat = seg.latencies()
        total_bytes = sum(o.attrs["bytes"] for o in seg.ops)
        return {
            "version_p50_s": _metric(median(lat), "s", len(lat)),
            "asset_mb_per_s": _metric(total_bytes / MB / seg.busy_s, "MB/s", len(lat)),
        }

    def patch(self, tracer) -> None:
        from geospatial_data_lake_spark.plans import checksums, importer, pipeline, stac

        tracer.patch(stac, "traverse_and_validate", "plans.stac.traverse")
        tracer.patch(checksums, "verify_checksums", "plans.checksums.verify_checksums")
        tracer.patch(checksums, "validation_summary", "plans.checksums.validation_summary")
        tracer.patch(importer, "build_manifest", "plans.importer.build_manifest")
        tracer.patch(importer, "run_copy", "plans.importer.run_copy")
        tracer.patch(pipeline, "create_dataset_version", "plans.pipeline.create_dataset_version")
        patch_catalog(tracer)


# -- catalog_api -----------------------------------------------------------------

REQUESTS_PER_CLIENT = 10_000  # more than any run sends
VALIDATION_KEY = ["dataset_id", "version_id", "check", "url"]
COPY_JOBS_KEY = ["dataset_id", "version_id", "job_type"]


def _validation_rows(dataset_id: str, version_id: str, failed: bool) -> list[tuple]:
    url = f"s3://staging/{dataset_id}/{version_id}"
    return [
        (dataset_id, version_id, "JSON schema", f"{url}/catalog.json", "Passed", None),
        (dataset_id, version_id, "JSON schema", f"{url}/item.json", "Passed", None),
        (
            dataset_id,
            version_id,
            "checksum",
            f"{url}/asset.bin",
            "Failed" if failed else "Passed",
            {"message": "checksum mismatch"} if failed else None,
        ),
    ]


class CatalogApi:
    """Client threads (half the host's cores) send a seeded 80 % read /
    20 % write request mix to the dataset catalog and the import-status
    view."""


    def __init__(self, seed: int, clients: int):
        self.seed = seed
        self.clients = clients
        self.sent = [0] * clients  # requests each client has taken so far
        self.schedules = [
            gen.request_schedule(seed, c, REQUESTS_PER_CLIENT) for c in range(clients)
        ]
        # per-client knowledge: [(dataset_id, title)], [(ds, version, failed)]
        self.own_datasets: list[list[tuple[str, str]]] = [[] for _ in range(clients)]
        self.own_versions: list[list[tuple[str, str, bool]]] = [[] for _ in range(clients)]

    def setup(self, host, spark) -> None:
        from geospatial_data_lake_spark import schemas
        from geospatial_data_lake_spark.plans.catalog import DatasetCatalog, mint_version_id
        from geospatial_data_lake_spark.sources.manifest_table import ManifestTable

        self.spark = spark
        root = host.path("catalog_api")
        self.catalog = DatasetCatalog(spark, os.path.join(root, "catalog"))
        self.validation = ManifestTable(
            spark, os.path.join(root, "validation"), VALIDATION_KEY, ["dataset_id"]
        )
        self.copy_jobs = ManifestTable(
            spark, os.path.join(root, "copy_jobs"), COPY_JOBS_KEY, ["dataset_id"]
        )
        # the seed catalog: one dataset with one imported version
        ds = self.catalog.create_dataset(f"seed_{self.seed}")
        ds_id, vid = ds["dataset_id"], mint_version_id()
        self.catalog.register_version(ds_id, vid, f"s3://staging/{ds_id}/{vid}", "SUCCEEDED")
        self.seed_datasets = [(ds_id, ds["title"])]
        self.seed_versions = [(ds_id, vid, False)]
        self.validation.append(
            spark.createDataFrame(_validation_rows(ds_id, vid, False), schemas.VALIDATION_RESULTS)
        )
        jobs = [(ds_id, vid, t, f"job-{t}", "Complete", []) for t in ("metadata", "asset")]
        self.copy_jobs.append(spark.createDataFrame(jobs, schemas.COPY_JOBS))

    def prepare(self) -> list[Op]:
        return []

    def measure(self, seconds: float, tracer=None) -> Segment:
        results: list[list[Op]] = [[] for _ in range(self.clients)]
        failures: list[BaseException] = []

        def client(c: int) -> None:
            try:
                for _ in _window(seconds, min_units=1):  # whole cycles
                    for _ in range(gen.CYCLE):
                        req = self.schedules[c][self.sent[c]]
                        self.sent[c] += 1
                        results[c].append(self._request(c, req, tracer))
            except BaseException as exc:  # reported after join
                failures.append(exc)

        threads = [
            threading.Thread(target=client, args=(c,), name=f"client-{c}")
            for c in range(self.clients)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if failures:
            raise failures[0]
        return Segment([op for ops in results for op in ops], self.clients)

    def _request(self, c: int, req, tracer) -> Op:
        from contextlib import nullcontext

        datasets = self.seed_datasets + self.own_datasets[c]
        versions = self.seed_versions + self.own_versions[c]
        kind = req.kind
        if kind == "update" and not self.own_datasets[c]:
            kind = "create"  # nothing of its own to rename yet
        span = tracer.span(f"request.{kind}") if tracer is not None else nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                error = getattr(self, f"_{kind}")(c, req, datasets, versions)
        except Exception as exc:  # a failed request is counted, not fatal
            error = f"{type(exc).__name__}: {exc}"
        return Op(kind, time.perf_counter() - t0, error is None, error)

    # reads ------------------------------------------------------------------
    def _get_by_id(self, c, req, datasets, versions):
        ds_id, title = datasets[req.pick % len(datasets)]
        row = self.catalog.get_dataset(dataset_id=ds_id)
        if row["title"] != title:
            return f"get_dataset({ds_id}) returned title {row['title']}, expected {title}"
        return None

    def _get_by_title(self, c, req, datasets, versions):
        ds_id, title = datasets[req.pick % len(datasets)]
        row = self.catalog.get_dataset(title=title)
        if row["dataset_id"] != ds_id:
            return f"get_dataset(title={title}) returned {row['dataset_id']}, expected {ds_id}"
        return None

    def _list(self, c, req, datasets, versions):
        titles = {r["title"] for r in self.catalog.list_datasets().collect()}
        missing = {t for _, t in datasets} - titles
        return f"list_datasets is missing {sorted(missing)}" if missing else None

    def _status(self, c, req, datasets, versions):
        from pyspark.sql import functions as F

        from geospatial_data_lake_spark.plans import status

        ds_id, version_id, failed = versions[req.pick % len(versions)]
        view = status.status_view(
            self.catalog.versions().filter(F.col("dataset_id") == ds_id),
            self.validation.read(where={"dataset_id": ds_id}),
            self.copy_jobs.read(where={"dataset_id": ds_id}),
        )
        rows = view.filter(F.col("version_id") == version_id).collect()
        want = "Failed" if failed else "Passed"
        if len(rows) != 1 or rows[0]["validation_status"] != want:
            got = [r["validation_status"] for r in rows]
            return f"status of {version_id} is {got}, expected [{want!r}]"
        return None

    # writes -----------------------------------------------------------------
    def _create(self, c, req, datasets, versions):
        title = f"c{c}_{self.seed}_{self.sent[c]}"
        row = self.catalog.create_dataset(title)
        self.own_datasets[c].append((row["dataset_id"], title))
        return None if row["title"] == title else f"create_dataset returned {row['title']}"

    def _update(self, c, req, datasets, versions):
        own = self.own_datasets[c]
        k = req.pick % len(own)
        ds_id, _ = own[k]
        title = f"u{c}_{self.seed}_{self.sent[c]}"
        row = self.catalog.update_dataset(ds_id, title)
        own[k] = (ds_id, title)
        return None if row["title"] == title else f"update_dataset returned {row['title']}"

    def _register(self, c, req, datasets, versions):
        from geospatial_data_lake_spark import schemas
        from geospatial_data_lake_spark.plans.catalog import mint_version_id

        ds_id, _ = datasets[req.pick % len(datasets)]
        vid = mint_version_id()
        self.catalog.register_version(
            ds_id, vid, f"s3://staging/{ds_id}/{vid}", "FAILED" if req.failed else "SUCCEEDED"
        )
        self.validation.upsert(
            self.spark.createDataFrame(
                _validation_rows(ds_id, vid, req.failed), schemas.VALIDATION_RESULTS
            )
        )
        self.own_versions[c].append((ds_id, vid, req.failed))
        return None

    def finish_checks(self) -> tuple[int, list[str]]:
        return 0, []

    def named_metrics(self, seg: Segment) -> dict:
        reads = seg.latencies(gen.READ_KINDS)
        writes = seg.latencies(gen.WRITE_KINDS)
        stat = seg.latencies({"status"})
        ms = 1000.0
        return {
            "ops_per_s": _metric(seg.ops_per_s(), "1/s", len(seg.ops)),
            "read_p50_ms": _metric(median(reads) * ms, "ms", len(reads)),
            "read_p90_ms": _metric(percentile(reads, 90) * ms, "ms", len(reads)),
            "write_p50_ms": _metric(median(writes) * ms, "ms", len(writes)),
            "status_p50_ms": _metric(median(stat) * ms, "ms", len(stat)),
        }

    def patch(self, tracer) -> None:
        from geospatial_data_lake_spark.plans import status

        patch_catalog(tracer)
        tracer.patch(status, "status_view", "plans.status.view")
        patch_manifest_table(tracer)


def patch_catalog(tracer) -> None:
    from geospatial_data_lake_spark.plans.catalog import ConflictError, DatasetCatalog

    def on_call(span, args, kwargs, result, exc):
        if isinstance(exc, ConflictError):
            tracer.count("plans.catalog.conflict_errors")

    for method, name in (
        ("get_dataset", "get"),
        ("list_datasets", "list"),
        ("create_dataset", "create"),
        ("update_dataset", "update"),
        ("register_version", "register_version"),
    ):
        tracer.patch(DatasetCatalog, method, f"plans.catalog.{name}", on_call)


def patch_manifest_table(tracer) -> None:
    from geospatial_data_lake_spark.sources.manifest_table import ManifestTable

    planned = ManifestTable.planned_files

    def read_args(table, version=None, where=None):  # ManifestTable.read's signature
        return table, version, where

    def on_read(span, args, kwargs, result, exc):
        if exc is not None:
            return
        table, version, where = read_args(*args, **kwargs)
        every = len(planned(table, None, version))
        span.attrs["data_files"] = every
        if where:
            span.attrs["planned_ratio"] = len(planned(table, where, version)) / every if every else 1.0

    tracer.patch(ManifestTable, "read", "sources.manifest_table.read", on_read)
    tracer.patch(ManifestTable, "upsert", "sources.manifest_table.upsert")


# -- analytics ---------------------------------------------------------------------

# One or two registered queries per operator family of the repo's
# headline set: joins, TPC-H, aggregates, windows, time windows, dedup,
# similarity, text, geo and time series.
QUERIES = [
    "j03_left_outer_join",
    "j09_asof_join",
    "tpch_q3_shipping_priority",
    "tpch_q19_disjunctive_revenue",
    "a08_rollup",
    "w04_lag_running_sum",
    "t01_tumbling_window",
    "dd01_exact_dedup_summary",
    "ss01_cosine_topk",
    "tx01_token_stats",
    "geo01_bbox_intersect_pairs",
    "ts02_ohlc_downsample",
]


class Analytics:
    """One client runs the registered queries, in a seed-rotated order,
    into a ``noop`` sink, pass after pass."""

    clients = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.order = gen.rotate(QUERIES, seed)

    def setup(self, host, spark) -> None:
        from geospatial_data_lake_spark import load_all_queries

        if not os.path.isdir(SF_DIR):
            raise FileNotFoundError(f"analytics input tables not found: {SF_DIR}")
        self.spark = spark
        self.registry = load_all_queries()
        self.frames = {q: self.registry[q].fn(spark, SF_DIR) for q in self.order}

    def prepare(self) -> list[Op]:
        """Untimed, once per run: each query's result against its DuckDB
        oracle. This runs the query for the first time, which is its
        warm-up."""
        from tests import oracle

        checks = []
        for q in self.order:
            t0 = time.perf_counter()
            try:
                oracle.compare(self.frames[q], self.registry[q].oracle, SF_DIR)
                error = None
            except AssertionError as exc:
                error = f"result differs from the DuckDB oracle: {exc}"
            checks.append(Op(f"oracle.{q}", time.perf_counter() - t0, error is None, error))
        return checks

    def _run(self, q: str) -> None:
        self.frames[q].write.format("noop").mode("overwrite").save()

    def measure(self, seconds: float, tracer=None) -> Segment:
        ops = []
        for _ in _window(seconds):
            for q in self.order:
                t0 = time.perf_counter()
                if tracer is None:
                    self._run(q)
                else:
                    with tracer.span(f"operators.{q}"):
                        self._run(q)
                ops.append(Op(q, time.perf_counter() - t0, True))
        return Segment(ops, self.clients)

    def finish_checks(self) -> tuple[int, list[str]]:
        return 0, []

    def named_metrics(self, seg: Segment) -> dict:
        per_query = {q: seg.latencies({q}) for q in self.order}
        passes = [
            sum(ts[i] for ts in per_query.values())
            for i in range(min(len(ts) for ts in per_query.values()))
        ]
        return {
            "query_geomean_s": _metric(seg.latency_s(), "s", len(seg.ops)),
            "pass_s": _metric(median(passes), "s", len(passes)),
        }

    def patch(self, tracer) -> None:
        """Nothing to patch: each query's ``operators.<query>`` span is
        opened by ``measure`` itself."""


def make(name: str, seed: int, cpus: int):
    if name == "ingest":
        return Ingest(seed)
    if name == "catalog_api":
        return CatalogApi(seed, clients=max(1, cpus // 2))
    if name == "analytics":
        return Analytics(seed)
    raise ValueError(f"unknown workload: {name}")


WORKLOADS = ("ingest", "catalog_api", "analytics")
