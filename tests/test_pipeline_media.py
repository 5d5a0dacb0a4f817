"""Checkpoint/resume pipeline runner + multimodal plumbing tests."""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoclimate_spark.plans import pipeline as P
from geoclimate_spark.sources import media

SF = "/root/testdata/sf0.001"


def _run_counts(spark, tmp_path, resume=True):
    calls = []
    runner = P.PipelineRunner(spark, tmp_path, P.flagship_stages(SF))
    outs = runner.run(resume=resume, on_stage=lambda n, how: calls.append((n, how)))
    return runner, outs, calls


def test_pipeline_runs_and_manifests(spark, tmp_path):
    runner, outs, calls = _run_counts(spark, tmp_path)
    assert [c[1] for c in calls] == ["computed"] * 3
    m = runner.metrics()
    assert {r["stage"] for r in m} == {"extract", "pip_join", "zone_tile_agg"}
    for r in m:
        assert r["rows"] > 0 and r["bytes"] > 0 and r["n_files"] >= 1
        assert sum(p["rows"] for p in r["partitions"]) == r["rows"]
    assert outs["zone_tile_agg"].count() > 0


def test_pipeline_resume_skips_completed(spark, tmp_path):
    _, outs1, _ = _run_counts(spark, tmp_path)
    final1 = outs1["zone_tile_agg"].toPandas().sort_values(
        ["zone_id", "tile_id"]).reset_index(drop=True)
    # simulate mid-pipeline death: last stage never committed
    import shutil
    shutil.rmtree(tmp_path / "zone_tile_agg")
    runner, outs2, calls = _run_counts(spark, tmp_path)
    assert calls == [("extract", "resumed"), ("pip_join", "resumed"),
                     ("zone_tile_agg", "computed")]
    final2 = outs2["zone_tile_agg"].toPandas().sort_values(
        ["zone_id", "tile_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(final1, final2)


def test_pipeline_no_success_means_recompute(spark, tmp_path):
    _run_counts(spark, tmp_path)
    (tmp_path / "pip_join" / "_SUCCESS").unlink()
    _, _, calls = _run_counts(spark, tmp_path)
    assert ("pip_join", "computed") in calls
    assert ("extract", "resumed") in calls


def _rescan_lineage(spark, sdir: Path) -> list[dict]:
    """Oracle for the manifest's footer lineage: the Spark rescan it
    replaced, per-file row counts of the snapshot by input file."""
    rows = (spark.read.parquet(str(sdir))
            .groupBy(F.input_file_name().alias("file")).count().collect())
    out = []
    for r in rows:
        p = Path(r["file"].replace("file://", ""))
        out.append({"file": p.name, "rows": r["count"],
                    "bytes": p.stat().st_size})
    return sorted(out, key=lambda d: d["file"])


def test_manifest_lineage_equals_spark_rescan(spark, tmp_path):
    stages = P.flagship_stages(SF) + [
        P.Stage("spread", lambda s, up: up["pip_join"].repartition(3)),
        P.Stage("empty", lambda s, up: up["pip_join"].where(F.lit(False))),
    ]
    runner = P.PipelineRunner(spark, tmp_path, stages)
    runner.run(resume=False)
    recs = {r["stage"]: r for r in runner.metrics()}
    assert recs["spread"]["n_files"] == 3
    assert recs["empty"]["n_files"] == 0 and recs["empty"]["rows"] == 0
    for name, rec in recs.items():
        want = _rescan_lineage(spark, tmp_path / name)
        assert P._file_lineage(tmp_path / name) == want, name
        assert rec["partitions"] == want, name
        assert rec["rows"] == sum(e["rows"] for e in want), name
        assert rec["bytes"] == sum(e["bytes"] for e in want), name
        assert rec["n_files"] == len(want), name


def _last_execution_id(spark) -> int:
    """Id of the newest SQL execution in the session's status store, once
    every event so far has reached it. Ids only grow, so the count of new
    executions survives the store dropping old ones past its retention."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def test_pipeline_run_issues_one_execution_per_stage(spark, tmp_path):
    """Each computed stage costs its snapshot write and nothing else: the
    lineage comes from the written footers, the read-back infers no schema,
    and the zone dim is already in the JVM."""
    stages = P.flagship_stages(SF)
    P.PipelineRunner(spark, tmp_path / "warm", stages).run(resume=False)
    before = _last_execution_id(spark)
    P.PipelineRunner(spark, tmp_path / "run", stages).run(resume=False)
    assert _last_execution_id(spark) - before == len(stages)


def test_media_roundtrip_vs_oracle(spark, duck):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    m = media.synth_media(docs)
    got = (media.decode_metadata(m).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    exp = (duck.sql(media.media_metadata_oracle_sql()).df()
           .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got[sorted(got.columns)],
                                  exp[sorted(exp.columns)], check_dtype=False)


def test_media_schema_and_codecs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(5)
    m = media.synth_media(docs)
    assert [f.name for f in m.schema.fields] == ["doc_id", "media", "media_type"]
    row = m.where(F.col("doc_id") == 0).collect()[0]
    assert bytes(row.media[:4]) == media.MAGIC

    # resize: header rewritten, every frame resampled to w*h bytes
    rs = media.image_resize(m, 8, 8).where(F.col("doc_id") == 3).collect()[0]
    buf = bytes(rs.media)
    import struct as _s
    magic, w, h, nf = _s.unpack_from("<4sIIH", buf)
    _, _, nf0 = media.media_fields(3)
    assert (w, h, nf) == (8, 8, nf0)
    assert len(buf) == 14 + 64 * nf0
    # nearest-neighbor from 4x4 to 8x8 repeats each src byte in a 2x2 block
    src = media._frame(3, 0)
    assert buf[14] == buf[15] == src[0]
    assert buf[14 + 8] == src[0]  # row below maps to the same src row

    # frame stride: keeps frames 0, n, 2n, ... with their own payloads
    fs = media.frame_sample(m, 2).where(F.col("doc_id") == 3).collect()[0]
    buf = bytes(fs.media)
    magic, w, h, nf = _s.unpack_from("<4sIIH", buf)
    assert nf == 1 + (nf0 - 1) // 2
    assert buf[14:30] == media._frame(3, 0)
    assert buf[30:46] == media._frame(3, 2)
