"""The four workloads. Each one stresses some layers and bypasses others.

A workload knows how to prepare its inputs (generate them, materialize
them, compute the expected result once with the repo's own oracle), how to
run one checked job, and — for the traced run — how to cut its plan into
prefixes: scan → +extract → +spatial_join → +tile → full.
Every cut keeps the full plan's column footprint, so the difference between
consecutive cuts is the self time of the layer the later cut adds.
"""

from __future__ import annotations

import functools
import shutil
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import gen
from stores import Stores, profile
from spans import Tracer

# Order-independent digests of a job's output, as SQL aggregates that Spark
# (through ``observe``, inside the job itself) and DuckDB (over the oracle's
# rows) evaluate alike. Every column enters a sum weighted by another, so a
# changed, lost or extra row changes the digest.
FLAGSHIP_DIGEST = {
    "n": "count(1)",
    "zone": "sum(zone_id)",
    "tile": "sum(tile_id % 1000003)",
    "pages": "sum(n_pages * (zone_id + 1))",
    "langs": "sum(n_langs * (tile_id % 65521 + 1))",
    "chars": "sum(total_chars * ((tile_id + zone_id) % 251 + 1))",
    "avg": "sum(avg_chars)",
}
POINTS_DIGEST = {
    "n": "count(1)",
    "zone": "sum(zone_id)",
    "pair": "sum((page_id % 65521 + 1) * (zone_id + 1))",
    "tile": "sum(tile_id % 1000003)",
    "tpair": "sum((page_id % 251 + 1) * (tile_id % 65521))",
    "coords": "sum(lon_e6 + lat_e6)",
}
TILES_DIGEST = {
    "n": "count(1)",
    "ids": "sum(page_id)",
    "tile": "sum(tile_id % 1000003)",
    "pair": "sum((page_id % 65521 + 1) * (tile_id % 65521 + 1))",
}


def digests_match(got: dict, want: dict) -> bool:
    for k, w in want.items():
        g = got.get(k)
        if g is None or w is None:
            if g is not w:
                return False
        elif isinstance(w, float) or isinstance(g, float):
            if abs(float(g) - float(w)) > 1e-9 * max(1.0, abs(float(w))):
                return False
        elif int(g) != int(w):
            return False
    return True


def duck_digest(con, relation: str, digest: dict[str, str]) -> dict:
    cols = ", ".join(f"{e} AS {k}" for k, e in digest.items())
    row = con.execute(f"SELECT {cols} FROM ({relation}) AS t").fetchone()
    return {k: (float(v) if k == "avg" else v) for k, v in zip(digest, row)}


def noop(df: DataFrame, exprs: dict[str, str]) -> dict:
    """Write ``df`` to the noop sink (every column materialized) and return
    the observed aggregates, computed in the same job."""
    obs = Observation()
    df.observe(obs, *[F.expr(e).alias(k) for k, e in exprs.items()]) \
      .write.format("noop").mode("overwrite").save()
    return obs.get


COUNT = {"n": "count(1)"}


def doc_shares(docs: pa.Table) -> dict:
    """Measured shares of the input properties the engine's cost depends on."""
    ids = docs.column("doc_id").to_numpy()
    chars = docs.column("n_chars").to_numpy()
    return {"geo_share": float(np.mean(ids % 10 < 4)),
            "urban_share": float(np.mean(ids % 10 < 2)),
            "text_chars_mean": float(chars.mean()),
            "text_chars_p50": float(np.percentile(chars, 50)),
            "text_chars_p95": float(np.percentile(chars, 95))}


@dataclass
class Job:
    wall_s: float
    rows: int
    ok: bool


class Workload:
    name = ""
    why = ""
    # cuts run in each traced round; "job" is the checked job itself
    cut_names: tuple[str, ...] = ()
    # (cut, layer self-time metric): consecutive prefixes of one plan
    chain: tuple[tuple[str, str], ...] = ()

    def __init__(self, spark, work: Path, seed: int, scale: float,
                 tracer: Tracer, stores: Stores | None):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        self.tr, self.stores = tracer, stores
        self.con = duckdb.connect()
        self.shares: dict = {}
        self.join_call_s: list[float] = []
        self.dir: Path = work
        # per-job details the traced run records next to the job's profile
        self.extras: dict = {}

    def size(self, base: int) -> int:
        return max(200, int(base * self.scale))

    def fresh_dir(self, rep: int) -> Path:
        if self.dir != self.work:
            shutil.rmtree(self.dir, ignore_errors=True)
        self.dir = self.work / f"rep{rep}"
        self.dir.mkdir(parents=True)
        return self.dir

    def prepare(self, rep: int) -> dict[str, float]:
        """Generate, materialize and compute the expected result into a
        fresh directory; returns the component times."""
        raise NotImplementedError

    def job(self, jid: int, corrupt: bool = False) -> Job:
        raise NotImplementedError

    def cut(self, name: str) -> DataFrame:
        raise NotImplementedError

    def exhausted(self) -> bool:
        """True when the generated inputs allow no further job."""
        return False

    def layer_values(self, rounds: list[dict]) -> dict[str, float]:
        """Workload-specific layer metrics from the traced rounds."""
        return {}

    def job_parts_s(self, values: dict[str, float], rounds: list[dict]) -> float:
        """Summed self times of the parts one traced job splits into; here
        the prefix chain, which ends with the job itself."""
        return sum(values[m] for _, m in self.chain)

    def close(self) -> None:
        self.con.close()


def _timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0


def median_or_0(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


@functools.cache
def _oracle_sql() -> dict[str, str]:
    import __spark_entry__
    return __spark_entry__.oracle_sql()


def oracle(name: str) -> str:
    """The repo's DuckDB oracle SQL, read from ``__spark_entry__`` once per
    process (building the whole oracle table takes a second or two)."""
    return _oracle_sql()[name]


class BatchFlagship(Workload):
    name = "batch_flagship"
    why = ("headline path: extract, rect PIP join, tile and two-level aggregate "
           "over a materialized pages parquet")
    cut_names = ("scan", "extract", "spatial_join", "tile", "job")
    chain = (("scan", "sources.scan_s"), ("extract", "extract.self_s"),
             ("spatial_join", "spatial_join.self_s"), ("tile", "tile.self_s"),
             ("job", "agg.self_s"))
    N_DOCS = 200_000

    def prepare(self, rep):
        from geoclimate_spark.sources.pages import pages_from_documents
        d = self.fresh_dir(rep)
        docs, t_gen = _timed(gen.documents, self.seed, self.size(self.N_DOCS))
        pq.write_table(docs, d / "documents.parquet")
        self.shares = doc_shares(docs)
        t0 = time.perf_counter()
        pages_from_documents(self.spark, str(d)).write.parquet(str(d / "pages"))
        t_mat = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                         f"read_parquet('{d / 'documents.parquet'}')")
        self.expected = duck_digest(
            self.con, oracle("flagship_zone_tile_language_mix"), FLAGSHIP_DIGEST)
        t_or = time.perf_counter() - t0
        return {"gen_s": t_gen, "materialize_s": t_mat, "oracle_s": t_or}

    def _pages(self):
        with self.tr.span("sources.read_parquet"):
            return self.spark.read.parquet(str(self.dir / "pages"))

    def cut(self, name):
        from geoclimate_spark.operators.spatial_join import spatial_join_points
        from geoclimate_spark.operators.tile import with_tile
        from geoclimate_spark.plans.flagship import geo_pages
        from geoclimate_spark.sources.layers import climate_zones
        pages = self._pages()
        if name == "scan":
            return pages.select("page_id", "lang", "html")
        with self.tr.span("functions.extract"):
            g = geo_pages(pages).withColumn(
                "chars", F.length("text_extracted").cast("long"))
        if name == "extract":
            return g.select("page_id", "lang", "chars", "lon_e6", "lat_e6")
        with self.tr.span("operators.spatial_join"):
            t0 = time.perf_counter()
            a = spatial_join_points(g, climate_zones(), passthrough=["lang", "chars"])
            self.join_call_s.append(time.perf_counter() - t0)
        if name == "spatial_join":
            return a.select("zone_id", "lon_e6", "lat_e6", "lang", "chars")
        with self.tr.span("operators.tile"):
            t = with_tile(a)
        return t.select("zone_id", "tile_id", "lang", "chars")

    def job(self, jid, corrupt=False):
        from geoclimate_spark.plans.flagship import zone_tile_language_mix
        t0 = time.perf_counter()
        with self.tr.span("job.batch_flagship", job=jid):
            pages = self._pages()
            with self.tr.span("plans.flagship"):
                tj = time.perf_counter()
                out = zone_tile_language_mix(pages)
                self.join_call_s.append(time.perf_counter() - tj)
            if corrupt:
                out = out.withColumn("n_pages", F.col("n_pages")
                                     + (F.col("tile_id") % 13 == 0).cast("long"))
            with self.tr.span("action.noop"):
                got = noop(out, FLAGSHIP_DIGEST)
        wall = time.perf_counter() - t0
        return Job(wall, self.size(self.N_DOCS), digests_match(got, self.expected))


class PolygonJoin(Workload):
    name = "polygon_join"
    why = ("generic polygon path: covering explode, Arrow refine UDF and min-agg "
           "shuffle over pre-extracted points; extract does no work here")
    cut_names = ("scan", "spatial_join", "job")
    chain = (("scan", "sources.scan_s"), ("spatial_join", "spatial_join.self_s"),
             ("job", "tile.self_s"))
    N_POINTS = 400_000
    ZONE_SEED = 42

    def __init__(self, *a, **kw):
        from geoclimate_spark.sources.layers import voronoi_zones
        super().__init__(*a, **kw)
        self.zones = voronoi_zones(n=40, seed=self.ZONE_SEED)

    def prepare(self, rep):
        from geoclimate_spark import grid
        from geoclimate_spark.operators.spatial_join import spatial_join_points_np
        from geoclimate_spark.operators.tile import TILE_RES
        d = self.fresh_dir(rep)
        pts, t_gen = _timed(gen.points, self.seed, self.size(self.N_POINTS),
                            (-20.0, 30.0, 30.0, 60.0))
        t0 = time.perf_counter()
        pq.write_table(pts, d / "points.parquet")
        t_mat = time.perf_counter() - t0
        t0 = time.perf_counter()
        lon = pts.column("lon_e6").to_numpy()
        lat = pts.column("lat_e6").to_numpy()
        zone = spatial_join_points_np(lon, lat, self.zones)
        hit = zone >= 0
        want = pa.table({"page_id": pts.column("page_id").to_numpy()[hit],
                         "zone_id": zone[hit], "lon_e6": lon[hit], "lat_e6": lat[hit],
                         "tile_id": grid.cell_np(lon[hit], lat[hit], TILE_RES)})
        self.con.register("want", want)
        self.expected = duck_digest(self.con, "SELECT * FROM want", POINTS_DIGEST)
        t_or = time.perf_counter() - t0
        self._pts, self.shares = (lon, lat, hit), {}
        return {"gen_s": t_gen, "materialize_s": t_mat, "oracle_s": t_or}

    def _shares(self) -> dict:
        """Measured after the first job, so the program's own covering
        cache is what the first job built, not what this call builds."""
        from geoclimate_spark import grid
        from geoclimate_spark.operators.spatial_join import pick_cover_res
        from geoclimate_spark.sources.layers import zone_covering
        lon, lat, hit = self._pts
        res = pick_cover_res(self.zones)
        cell, _, full = zone_covering(self.zones, res)
        pc = grid.cell_np(lon, lat, res)
        partial = np.isin(pc, cell[~full])
        return {"match_share": float(hit.mean()),
                "refine_share": float(partial.mean()),
                "candidates_per_point": _candidates(pc, cell) / len(pc),
                "cover_res": res}

    def _points(self):
        with self.tr.span("sources.read_parquet"):
            return self.spark.read.parquet(str(self.dir / "points.parquet"))

    def _join(self, pts):
        from geoclimate_spark.operators.spatial_join import spatial_join_points
        with self.tr.span("operators.spatial_join"):
            t0 = time.perf_counter()
            out = spatial_join_points(pts, self.zones)
            self.join_call_s.append(time.perf_counter() - t0)
        return out

    def cut(self, name):
        pts = self._points()
        if name == "scan":
            return pts
        return self._join(pts)

    def job(self, jid, corrupt=False):
        from geoclimate_spark.operators.tile import with_tile
        t0 = time.perf_counter()
        with self.tr.span("job.polygon_join", job=jid):
            j = self._join(self._points())
            with self.tr.span("operators.tile"):
                out = with_tile(j)
            if corrupt:
                out = out.withColumn("zone_id", F.col("zone_id")
                                     + (F.col("page_id") % 13 == 0).cast("long"))
            with self.tr.span("action.noop"):
                got = noop(out, POINTS_DIGEST)
        wall = time.perf_counter() - t0
        if not self.shares:
            self.shares = self._shares()
        return Job(wall, self.size(self.N_POINTS), digests_match(got, self.expected))


def _candidates(point_cells: np.ndarray, cover_cells: np.ndarray) -> int:
    """Covering rows matched by the points' cells (join output size)."""
    s = np.sort(cover_cells)
    return int((np.searchsorted(s, point_cells, "right")
                - np.searchsorted(s, point_cells, "left")).sum())


class StreamIngest(Workload):
    name = "stream_ingest"
    why = ("pages files land one at a time; each round drains run_ingest and a "
           "windowed append query, so per-drain fixed cost dominates")
    cut_names = ("job", "scan", "extract", "tile")
    chain = (("scan", "sources.scan_s"), ("extract", "extract.self_s"),
             ("tile", "tile.self_s"))
    N_FILES = 24
    PER_FILE = 3_000
    LATE_SHARE = 0.05

    def prepare(self, rep):
        from geoclimate_spark.sources.pages import pages_from_documents
        d = self.fresh_dir(rep)
        per = self.per_file = self.size(self.PER_FILE)
        docs, t_gen = _timed(gen.documents, self.seed, self.N_FILES * per)
        pq.write_table(docs, d / "documents.parquet")
        self.shares = doc_shares(docs)
        t0 = time.perf_counter()
        pages_from_documents(self.spark, str(d)).write.parquet(str(d / "pages"))
        pages = pq.read_table(d / "pages").sort_by("page_id")
        (d / "landing").mkdir()
        late = 0
        for k in range(self.N_FILES):
            part = pages.slice(k * per, per)
            ev = gen.event_times(self.seed, part.num_rows, k, self.LATE_SHARE)
            late += int((ev < gen.EVENT_BASE + k * gen.SLOT_S).sum())
            part = part.set_column(part.schema.get_field_index("warc_epoch"),
                                   "warc_epoch", pa.array(ev))
            part = part.set_column(part.schema.get_field_index("warc_ts"), "warc_ts",
                                   pa.array(ev * 1_000_000, pa.timestamp("us", tz="UTC")))
            pq.write_table(part, d / "landing" / f"part-{k:05d}.parquet")
        self.shares["late_share"] = late / pages.num_rows
        t_mat = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                         f"read_parquet('{d / 'documents.parquet'}')")
        ids = docs.column("doc_id").to_numpy()
        self.con.register("land", pa.table({
            "page_id": ids, "k": np.arange(len(ids)) // per}))
        cols = ", ".join(f"{e} AS {k}" for k, e in TILES_DIGEST.items())
        rows = self.con.execute(
            f"SELECT land.k, {cols} FROM ({oracle('tile_assignment')}) AS t "
            f"JOIN land USING (page_id) GROUP BY land.k").fetchall()
        self.expected = {r[0]: dict(zip(TILES_DIGEST, r[1:])) for r in rows}
        t_or = time.perf_counter() - t0
        for sub in ("in", "out", "ck_ingest", "wout", "ck_window"):
            (d / sub).mkdir()
        self.next_file, self.seen_out = 0, set()
        return {"gen_s": t_gen, "materialize_s": t_mat, "oracle_s": t_or}

    def exhausted(self):
        return self.next_file >= self.N_FILES

    def _drain_windowed(self):
        from geoclimate_spark.streaming.ingest import stream_pages, windowed_tile_counts
        d = self.dir
        q = (windowed_tile_counts(stream_pages(self.spark, str(d / "in")))
             .writeStream.format("parquet")
             .option("path", str(d / "wout"))
             .option("checkpointLocation", str(d / "ck_window"))
             .trigger(availableNow=True).outputMode("append").start())
        q.awaitTermination()
        return q

    def job(self, jid, corrupt=False):
        from geoclimate_spark.streaming.ingest import run_ingest
        d, k = self.dir, self.next_file
        self.next_file += 1
        src = d / "landing" / f"part-{k:05d}.parquet"
        t0 = time.perf_counter()
        with self.tr.span("job.stream_ingest", job=jid):
            with self.tr.span("land"):
                tmp = d / "in" / f".{src.name}.tmp"
                shutil.copyfile(src, tmp)
                tmp.rename(d / "in" / src.name)
            t1 = time.perf_counter()
            with self.tr.span("streaming.ingest.run_ingest"):
                qi = run_ingest(self.spark, str(d / "in"), str(d / "out"),
                                str(d / "ck_ingest"))
            t2 = time.perf_counter()
            with self.tr.span("streaming.windowed_tile_counts"):
                qw = self._drain_windowed()
        t3 = time.perf_counter()
        self.extras = {"drain": _drain_record(qi, qw, t1 - t0, t2 - t1, t3 - t2)}
        self.landed = src
        new = sorted(set(map(str, (d / "out").glob("*.parquet"))) - self.seen_out)
        self.seen_out.update(new)
        if corrupt and new:
            t = pq.read_table(new[0])
            pq.write_table(t.slice(1), new[0])
        ok = bool(new) and digests_match(duck_digest(
            self.con, f"SELECT page_id, tile_id FROM read_parquet({new!r})",
            TILES_DIGEST), self.expected[k])
        return Job(t3 - t0, self.per_file, ok)

    def cut(self, name):
        from geoclimate_spark.functions.extract import with_extraction
        from geoclimate_spark.streaming.ingest import PAGES_SCHEMA, enriched_stream
        with self.tr.span("sources.read_parquet"):
            pages = self.spark.read.schema(PAGES_SCHEMA).parquet(str(self.landed))
        if name == "scan":
            return pages.select("page_id", "url", "warc_ts", "lang", "html")
        if name == "extract":
            with self.tr.span("functions.extract"):
                ex = with_extraction(pages.select("page_id", "url", "warc_ts", "lang", "html"))
            return ex.where(F.col("lon_e6").isNotNull()).drop("html")
        with self.tr.span("streaming.enriched_stream"):
            return enriched_stream(pages)

    def layer_values(self, rounds):
        rr = [r["job"]["drain"] for r in rounds]
        return {k: median_or_0(r[k] for r in rr) for k in rr[0]} if rr else {}

    def job_parts_s(self, values, rounds):
        return sum(median_or_0(r["job"]["drain"][k] for r in rounds)
                   for k in ("land_s", "ingest.drain_s", "windowed.drain_s"))


def _drain_record(qi, qw, land_s, ingest_s, window_s) -> dict:
    """Per-drain breakdown from each query's own progress reports."""
    pi, pw = qi.recentProgress, qw.recentProgress

    def dur(ps, key):
        return float(sum(p["durationMs"].get(key, 0) for p in ps))

    state = [p["stateOperators"][0] for p in pw if p.get("stateOperators")]
    return {
        "land_s": land_s,
        "ingest.drain_s": ingest_s,
        "ingest.add_batch_ms": dur(pi, "addBatch"),
        "ingest.planning_ms": dur(pi, "queryPlanning"),
        "ingest.latest_offset_ms": dur(pi, "latestOffset"),
        "ingest.wal_commit_ms": dur(pi, "walCommit"),
        "ingest.rows_per_drain": float(sum(p["numInputRows"] for p in pi)),
        "windowed.drain_s": window_s,
        "windowed.state_rows": float(state[-1]["numRowsTotal"]) if state else 0.0,
        "windowed.state_mem_bytes": float(state[-1]["memoryUsedBytes"]) if state else 0.0,
        "windowed.late_rows_dropped": float(sum(s["numRowsDroppedByWatermark"]
                                                for s in state)),
    }


class StagedCheckpoint(Workload):
    name = "staged_checkpoint"
    why = ("plans.pipeline: the flagship as three parquet snapshot stages with "
           "file lineage and a manifest, into a fresh root per job")
    cut_names = ("job",)
    N_DOCS = 50_000
    STAGES = ("extract", "pip_join", "zone_tile_agg")

    def prepare(self, rep):
        d = self.fresh_dir(rep)
        docs, t_gen = _timed(gen.documents, self.seed, self.size(self.N_DOCS))
        t0 = time.perf_counter()
        pq.write_table(docs, d / "documents.parquet")
        t_mat = time.perf_counter() - t0
        self.shares = doc_shares(docs)
        t0 = time.perf_counter()
        self.con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                         f"read_parquet('{d / 'documents.parquet'}')")
        self.expected = duck_digest(
            self.con, oracle("flagship_zone_tile_language_mix"), FLAGSHIP_DIGEST)
        t_or = time.perf_counter() - t0
        self.runs = 0
        return {"gen_s": t_gen, "materialize_s": t_mat, "oracle_s": t_or}

    def job(self, jid, corrupt=False):
        from geoclimate_spark.plans.pipeline import PipelineRunner, Stage, flagship_stages
        stages = flagship_stages(str(self.dir))
        if corrupt:
            agg = stages[-1]
            stages[-1] = Stage(agg.name, lambda s, up: agg.fn(s, up).withColumn(
                "n_pages", F.col("n_pages") + (F.col("tile_id") % 13 == 0).cast("long")))
        root = self.dir / f"run{self.runs}"
        self.runs += 1
        per_stage: dict[str, list] = {}

        def on_stage(name, _status):
            if self.stores is not None:
                per_stage[name] = self.stores.take()

        t0 = time.perf_counter()
        with self.tr.span("job.staged_checkpoint", job=jid):
            with self.tr.span("plans.pipeline.PipelineRunner.run"):
                runner = PipelineRunner(self.spark, root, stages)
                runner.run(resume=False, on_stage=on_stage)
        wall = time.perf_counter() - t0
        got = duck_digest(self.con, "SELECT * FROM read_parquet("
                          f"'{root / 'zone_tile_agg'}/*.parquet')", FLAGSHIP_DIGEST)
        recs = {m["stage"]: m for m in runner.metrics()}
        self.extras = {"manifest": {
            **{f"pipeline.stage_wall_s.{s}": float(recs[s]["wall_s"]) for s in self.STAGES},
            "pipeline.bytes_written": float(sum(m["bytes"] for m in recs.values())),
            "pipeline.files_written": float(sum(m["n_files"] for m in recs.values())),
        }, "executions": [e for v in per_stage.values() for e in v],
            "agg": profile(per_stage.get("zone_tile_agg", []))}
        shutil.rmtree(root, ignore_errors=True)
        return Job(wall, self.size(self.N_DOCS), digests_match(got, self.expected))

    def layer_values(self, rounds):
        out = {k: median_or_0(r["job"]["manifest"][k] for r in rounds)
               for k in rounds[0]["job"]["manifest"]} if rounds else {}
        aggs = [r["job"]["agg"] for r in rounds]
        for name, key in AGG_COUNTERS.items():
            out[name] = median_or_0(a.get(key, 0.0) for a in aggs)
        return out

    def job_parts_s(self, values, rounds):
        """The manifest's stage walls; the runner's own bookkeeping between
        stages is left out."""
        return sum(values[f"pipeline.stage_wall_s.{s}"] for s in self.STAGES)


AGG_COUNTERS = {
    "agg.build_s": "agg_build_s",
    "agg.shuffle_records": "shuffle_records",
    "agg.shuffle_bytes": "shuffle_bytes",
    "agg.spill_bytes": "agg_spill_bytes",
    "agg.peak_mem_bytes": "agg_peak_mem_bytes",
}
JOIN_COUNTERS = {
    "spatial_join.broadcast_bytes": "broadcast_bytes",
    "spatial_join.broadcast_build_s": "broadcast_build_s",
    "spatial_join.candidate_rows": "join_rows",
    "spatial_join.refine_rows": "python_rows",
    "spatial_join.python_s": "python_s",
    "spatial_join.shuffle_bytes": "shuffle_bytes",
}

WORKLOADS = {w.name: w for w in (BatchFlagship, PolygonJoin, StreamIngest, StagedCheckpoint)}
