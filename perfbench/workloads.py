"""The benchmark's two workloads: set-up, one closed-loop operation with
its output check, and the traced replay that attributes time to layers.

Both talk to the engine only through public entry points: ``cli.run``
for the feed and ``plans.queries.queries()[name]`` written to the
``noop`` sink for the query mix. The traced replays call the layers'
public functions themselves (decoders, GTFS builders, schedule path,
checkpoint catalog, validator, zip sink), one span at a time.
"""

from __future__ import annotations

import hashlib
import logging
import os
import random
import sys
import zipfile
from dataclasses import dataclass

from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs
from osm2gtfs_spark.sources.checkpoint import CheckpointCatalog

# the mix keeps the cheapest queries that put the mix layers on the op
# path within the run budget: the kNN ring with its eager parallelism
# probe, point-in-polygon, tiling and the adaptive cell split
# (operators.spatial, functions.geo, the skew split); the corpus-prep
# chain (operators.text, and the token-set pairs and connected components
# of operators.dedup)
GEO_QUERIES = ["knn_snap", "point_in_polygon", "tile_coverage", "adaptive_cell_split"]
TEXT_QUERIES = ["corpus_prep_pipeline"]

# sizes chosen to fit the run budget, not taken from a user's data (see
# README.md): an 80-line city, where a 1,500-line one takes 35-39 s per
# refresh op (at 40 lines the zip's row count varied by 15% between
# seeds, which rows_per_s passes on); mix tables with one fifth of
# sf0.1's rows
FEED_LINES = 80
MIX_SIZES = {"n_customers": 3000, "n_suppliers": 200, "n_docs": 1000}


@dataclass
class OpResult:
    rows: int
    ok: bool
    detail: str = ""


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def zip_facts(path: str) -> tuple[str, int, int, int]:
    """(sha256, GTFS data rows, summed member CSV bytes, zip bytes)."""
    with open(path, "rb") as f:
        sha = hashlib.sha256(f.read()).hexdigest()
    rows = csv_bytes = 0
    with zipfile.ZipFile(path) as z:
        for info in z.infolist():
            rows += max(z.read(info).count(b"\n") - 1, 0)  # minus the header
            csv_bytes += info.file_size
    return sha, rows, csv_bytes, os.path.getsize(path)


class _ValidationLog(logging.Handler):
    """Collects the CLI's ``validation: <check> -> <n> violations`` lines."""

    def __init__(self):
        super().__init__(logging.WARNING)
        self.counts: dict[str, int] = {}

    def emit(self, record):
        if record.msg.startswith("validation:"):
            check, n = record.args
            self.counts[check] = int(n)


class TimedCatalog(CheckpointCatalog):
    """The engine's checkpoint catalog with each stage write and read in
    a span, counting stages written and reused and bytes written.

    A stage handed to ``write`` is a lazy plan; the stage's own builders
    would run inside the write. So the plan is cached and counted first,
    in a ``ckpt.compute`` span, and ``ckpt.write`` holds only the parquet
    write, the read-back and the manifest's collect. The cache is built
    with adaptive execution free to coalesce its partitions, as it does
    for the uncached write, so the stage is written in as many files as
    the real op writes."""

    _COALESCE_CACHED = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

    def __init__(self, spark, root, tracer):
        super().__init__(spark, root)
        self.tracer = tracer
        self.stats = {"written": 0, "reused": 0, "bytes_written": 0}

    def write(self, stage, df, inputs=None):
        # a plan the engine cached itself stays as the engine left it
        ours = not df.storageLevel.useMemory and not df.storageLevel.useDisk
        with self.tracer.span("ckpt.compute"):
            if ours:
                before = self.spark.conf.get(self._COALESCE_CACHED)
                self.spark.conf.set(self._COALESCE_CACHED, "true")
                try:
                    df = df.cache()
                finally:
                    self.spark.conf.set(self._COALESCE_CACHED, before)
            df.count()
        try:
            with self.tracer.span("ckpt.write"):
                back = super().write(stage, df, inputs)
        finally:
            if ours:
                df.unpersist()
        self.stats["written"] += 1
        self.stats["bytes_written"] += du(self._dir(stage))
        return back

    def read(self, stage):
        with self.tracer.span("ckpt.read"):
            back = super().read(stage)
        self.stats["reused"] += 1
        return back


# ---------------------------------------------------------------------------
# feed_sched_refresh
# ---------------------------------------------------------------------------

class SchedRefreshFeed:
    """One op = ``cli.run --refresh-stops`` on a schedule-path config
    whose ``cache_dir`` was cold-built in set-up: the stop-side stages
    are invalidated and rewritten, the route and schedule stages are
    read back, and the sharded sink rewrites the zip."""

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.ckpt_bytes = 0

    def setup(self) -> None:
        """Inputs, then the cold checkpoint build with ``sink_shards=1``,
        whose zip and validation counts every op must reproduce."""
        from osm2gtfs_spark.sources.docs import CitySpec

        spec = CitySpec(
            name="bench", seed=self.seed, n_lines=FEED_LINES, variants_per_line=2,
            stops_per_variant=12, with_stop_areas=True, with_schedule=True,
        )
        self.docs = os.path.join(self.work, "docs")
        inputs.write_city(self.spark, spec, self.docs)
        self.cache_dir = os.path.join(self.work, "ckpt")
        ref_cfg = inputs.write_feed_config(
            os.path.join(self.work, "ref.json"), self.docs,
            os.path.join(self.work, "ref.zip"), 1, self.cache_dir,
        )
        self.cfg = inputs.write_feed_config(
            os.path.join(self.work, "op.json"), self.docs,
            os.path.join(self.work, "op.zip"), self.cores, self.cache_dir,
        )
        ref_zip, self.ref_validation = self._cli(ref_cfg, refresh=False)
        self.ref_sha = zip_facts(ref_zip)[0]
        self.after_op()

    def _cli(self, cfg: str, refresh: bool):
        from osm2gtfs_spark import cli

        argv = ["-c", cfg] + (["--refresh-stops"] if refresh else [])
        log = logging.getLogger("osm2gtfs_spark.cli")
        handler = _ValidationLog()
        log.addHandler(handler)
        try:
            path = cli.run(cli.build_parser().parse_args(argv), spark=self.spark)
        finally:
            log.removeHandler(handler)
        return path, handler.counts

    def op(self) -> OpResult:
        path, validation = self._cli(self.cfg, refresh=True)
        sha, rows, _, _ = zip_facts(path)
        self.ckpt_bytes = du(self.cache_dir)
        problems = []
        if sha != self.ref_sha:
            problems.append("zip sha256 differs from the sink_shards=1 build")
        if validation != self.ref_validation:
            problems.append(f"validation {validation} != {self.ref_validation}")
        return OpResult(rows, not problems, "; ".join(problems))

    def after_op(self) -> None:
        self.spark.catalog.clearCache()

    # -- traced replay -----------------------------------------------------
    def trace(self, tr, m: dict) -> OpResult:
        """The real op for the Spark totals; then the checkpointed runner,
        validator and sink each in a span; then the builders the op runs,
        one materialized span each."""
        from osm2gtfs_spark import cli
        from osm2gtfs_spark.plans.pipeline import run_schedule_pipeline_checkpointed
        from osm2gtfs_spark.sources.gtfs_sink import validate_feed, write_gtfs_zip

        tr.op += 1
        with tr.span("op") as m["_op_span"]:
            res = self.op()
        self.after_op()
        m["ckpt.catalog_bytes"] = self.ckpt_bytes
        op_stage_bytes = sum(du(os.path.join(self.cache_dir, s)) for s in cli.STOP_STAGES)
        docs = self.spark.read.parquet(self.docs)

        tr.op += 1
        catalog = TimedCatalog(self.spark, self.cache_dir, tr)
        for stage in cli.STOP_STAGES:
            catalog.invalidate(stage)
        with tr.span("pipeline") as m["_pipeline_span"]:
            tables = run_schedule_pipeline_checkpointed(
                docs, catalog, feed_start=inputs.FEED_INFO["start_date"],
                feed_end=inputs.FEED_INFO["end_date"],
            )
        m["_catalog_stats"] = catalog.stats
        print(f"stop-side stage bytes: op {op_stage_bytes}, traced runner {catalog.stats['bytes_written']}")
        with tr.span("sink.validate"):
            violations = {r.check: r.n_bad for r in validate_feed(tables).collect() if r.n_bad}
        out = os.path.join(self.work, "trace.zip")
        with tr.span("sink.zip"):
            write_gtfs_zip(tables, out, agency=inputs.AGENCY, shards=self.cores)
        sha, _, m["sink.csv_bytes"], m["sink.zip_bytes"] = zip_facts(out)
        if sha != self.ref_sha or violations != self.ref_validation:
            res = OpResult(res.rows, False, "traced runner output differs from the reference")
        self.after_op()

        tr.op += 1
        self._replay_stages(tr, docs, m)
        self.after_op()
        return res

    def _replay_stages(self, tr, docs, m: dict) -> None:
        """The builders the refresh op runs, one materialized span each,
        over the route and schedule stages the op reads back."""
        from osm2gtfs_spark.plans import gtfs
        from osm2gtfs_spark.plans import schedule_path as SP
        # the pipeline's own join of stop names onto itinerary stops
        from osm2gtfs_spark.plans.pipeline import _itin_stops_named
        from osm2gtfs_spark.sources import docs as D

        def done(df):
            df = df.cache()
            return df, df.count()

        catalog = CheckpointCatalog(self.spark, self.cache_dir)
        relations, itin_stops, per_service = (
            done(catalog.read(s))[0] for s in ("relations", "itin_stops", "per_service")
        )
        with tr.span("docs.decode"):
            nodes, n1 = done(D.decode_nodes(docs))
            ways, n2 = done(D.decode_ways(docs))
        m["docs.decode_rows"] = n1 + n2
        with tr.span("gtfs.stops"):
            stops, _ = done(gtfs.build_stops(nodes, ways, "stop"))
        with tr.span("gtfs.stations"):
            stations, parent_map = gtfs.build_stations(relations, stops)
            stations, _ = done(stations)
            parent_map, _ = done(parent_map)
        with tr.span("sched.align"):
            aligned, m["sched.align_rows"] = done(SP.align_stops(
                _itin_stops_named(itin_stops, stops, parent_map, stations), per_service
            ))
        with tr.span("sched.interp"):
            done(SP.interpolate_times_distance(aligned, stops.select("stop_key", "lat", "lon")))


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

def _fingerprint(df, obs: Observation):
    """``df`` observed for its row count and an order-insensitive sum of
    per-row hashes, collected by whatever action runs it."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    return df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*cols)).alias("h"))


class QueryMix:
    """One op = one pass over the geo and text queries, each written to
    the ``noop`` sink; the seed permutes the order within each pass. The
    output check rides on the same action: an ``Observation`` collects
    each query's row count and hash sum, compared with set-up's."""

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.names = [("geo", q) for q in GEO_QUERIES] + [("text", q) for q in TEXT_QUERIES]
        self.rng = random.Random(seed)

    def setup(self) -> None:
        """Inputs, then the reference pass, which is also the DuckDB
        oracle check and the JVM's warm-up: each query is collected with
        its row count and fingerprint observed, and, when it has an
        ``oracle_sql()``, compared with DuckDB under
        ``tools/check_oracle.py``'s normalisation."""
        import duckdb

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "tools"))
        from check_oracle import normalize

        from osm2gtfs_spark.plans.queries import oracle_sql, queries

        self.sf = os.path.join(self.work, "sf")
        inputs.write_mix_tables(self.sf, self.seed, **MIX_SIZES)
        oracles = oracle_sql()
        self.ref = {}
        con = duckdb.connect()
        try:
            for f in os.listdir(self.sf):
                con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{self.sf}/{f}'")
            for _, name in self.names:
                obs = Observation(name)
                got = _fingerprint(queries()[name](self.spark, self.sf), obs).toPandas()
                self.ref[name] = (int(obs.get["n"]), int(obs.get["h"] or 0))
                self.after_op()
                if name not in oracles:
                    continue
                s, d = normalize(got), normalize(con.execute(oracles[name]).df())
                if s[:3] != d[:3]:
                    raise RuntimeError(
                        f"{name}: Spark and the DuckDB oracle disagree (rows {s[0]} vs {d[0]})"
                    )
        finally:
            con.close()

    def _run(self, name: str, tr=None, kind: str = "") -> tuple[int, int]:
        from osm2gtfs_spark.plans.queries import queries

        obs = Observation(name)
        if tr is None:
            df = queries()[name](self.spark, self.sf)
            _fingerprint(df, obs).write.format("noop").mode("overwrite").save()
        else:
            with tr.span(f"{kind}.{name}.build"):
                df = queries()[name](self.spark, self.sf)
            with tr.span(f"{kind}.{name}.action"):
                _fingerprint(df, obs).write.format("noop").mode("overwrite").save()
        got = obs.get
        return int(got["n"]), int(got["h"] or 0)

    def op(self, tr=None) -> OpResult:
        order = list(self.names)
        self.rng.shuffle(order)
        rows, bad = 0, []
        for kind, name in order:
            got = self._run(name, tr, kind)
            rows += got[0]
            if got != self.ref[name]:
                bad.append(name)
        return OpResult(rows, not bad, f"mismatch: {bad}" if bad else "")

    def after_op(self) -> None:
        # several queries persist intermediates and leave them cached
        self.spark.catalog.clearCache()

    def trace(self, tr, m: dict) -> OpResult:
        tr.op += 1
        with tr.span("op") as m["_op_span"]:
            res = self.op(tr)
        self.after_op()
        return res


WORKLOADS = {"feed_sched_refresh": SchedRefreshFeed, "query_mix": QueryMix}
