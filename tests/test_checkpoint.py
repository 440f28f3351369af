"""Resumable-restart semantics (M7): kill mid-run, resume, identical
final counts + identical sink contents vs a single-shot run."""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import threading

import pytest
from pyspark.sql import functions as F

from bench import PIPELINE_SPEC
from logagent_spark.config import PipelineSpec
from logagent_spark.datagen import WAF_REGEX, write_pages
from logagent_spark.plans.checkpoint import (
    CheckpointedRunner,
    ChunkReport,
    list_input_files,
    make_chunks,
)
from logagent_spark.plans.pipeline import DEAD_SINK, CompiledPipeline
from logagent_spark.sources import from_pages

SPEC = {
    "Parser": {"Mode": "regex", "Regex": WAF_REGEX},
    "Rewrites": [
        {"Mode": "mapping", "Column": "lang",
         "Mapping": {"en": "english", "zh": "chinese", "de": "german",
                     "fr": "french", "es": "spanish", "ru": "russian",
                     "ja": "japanese"}},   # xx/yy miss -> dropped
    ],
    "Handlers": [
        {"Mode": "stream", "Name": "errors", "Template": "${ts} ${body}",
         "Validators": [{"Mode": "value", "Column": "levelname",
                         "Value": "ERROR"}]},
        {"Mode": "stream", "Name": "all", "Template": "${message}"},
    ],
}


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("ckpt") / "pages"
    write_pages(spark, str(p), 2000, seed=11, n_hosts=40, partitions=8)
    return str(p)


def _runner(pipe, out, n_chunks=4):
    return CheckpointedRunner(
        pipe, out, n_chunks=n_chunks, source_adapter=from_pages,
        keep=["url", "lang", "warc_ts"],
    )


def test_kill_and_resume_matches_single_shot(spark, input_dir, tmp_path):
    pipe = CompiledPipeline(PipelineSpec.from_dict(SPEC))

    # single-shot reference run
    r_full = _runner(pipe, str(tmp_path / "full"))
    reports = r_full.run(spark, input_dir)
    assert len(reports) == 4 and not any(r.resumed for r in reports)
    want = r_full.totals()

    # killed run: only 2 of 4 chunks commit
    r_kill = _runner(pipe, str(tmp_path / "kill"))
    partial = r_kill.run(spark, input_dir, max_chunks=2)
    assert len(partial) == 2
    assert len(r_kill.committed_chunks()) == 2

    # resume: the 2 committed chunks are skipped, the rest run
    resumed = r_kill.run(spark, input_dir)
    assert sum(1 for r in resumed if r.resumed) == 2
    assert sum(1 for r in resumed if not r.resumed) == 2
    got = r_kill.totals()

    assert got["rows_in"] == want["rows_in"] == 2000
    assert got["sink_counts"] == want["sink_counts"]
    assert got["drop_counts"] == want["drop_counts"]

    # sink contents byte-identical between the two runs
    for sink in ("errors", "all"):
        assert _rendered(spark, r_full, sink) == _rendered(
            spark, r_kill, sink), sink


def _rendered(spark, runner, sink) -> list[str]:
    return sorted(
        r["rendered"]
        for r in runner.output_frame(spark)
        .filter(F.col("sink") == sink).select("rendered").collect()
    )


def test_kill_with_chunks_in_flight_resumes_to_single_shot(
        spark, input_dir, tmp_path):
    """Two chunks run at once: the source adapter meets itself on two
    threads, then fails on the chunk holding a chosen file. `run` raises,
    only the chunks that finished commit a manifest, no chunk starts
    after the failure, and a fresh runner resumes to the output and
    totals of a single-shot run."""
    pipe = CompiledPipeline(PipelineSpec.from_dict(SPEC))
    chunk_of = {
        os.path.basename(f): cid
        for cid, files in enumerate(
            make_chunks(list_input_files(input_dir), 4))
        for f in files
    }
    victim = 1
    lock = threading.Lock()
    started: list[int] = []
    threads: set[int] = set()
    both_in_flight = threading.Barrier(2, timeout=60)

    def adapter(df):
        cid = chunk_of[os.path.basename(df.inputFiles()[0])]
        with lock:
            started.append(cid)
            threads.add(threading.get_ident())
            first_two = len(started) <= 2
        if first_two:
            both_in_flight.wait()
        if cid == victim:
            raise RuntimeError("killed mid-run")
        return from_pages(df)

    out = str(tmp_path / "kill")
    killed = CheckpointedRunner(
        pipe, out, n_chunks=4, source_adapter=adapter,
        keep=["url", "lang", "warc_ts"])
    with pytest.raises(RuntimeError, match="killed mid-run"):
        killed.run(spark, input_dir)
    assert len(threads) >= 2
    assert victim in started[:2]
    assert set(killed.committed_chunks()) == set(started) - {victim}
    assert len(started) < 4

    resumed = _runner(pipe, out)
    reports = resumed.run(spark, input_dir)
    assert [r.chunk_id for r in reports] == [0, 1, 2, 3]
    assert {r.chunk_id for r in reports if r.resumed} == (
        set(started) - {victim})

    full = _runner(pipe, str(tmp_path / "full"))
    full.run(spark, input_dir)
    got, want = resumed.totals(), full.totals()
    for k in ("chunks", "rows_in", "sink_counts", "drop_counts"):
        assert got[k] == want[k], k
    for sink in ("errors", "all"):
        assert _rendered(spark, resumed, sink) == _rendered(
            spark, full, sink), sink


def test_chunk_threads_take_each_chunk_once(spark, tmp_path, monkeypatch):
    """The chunk threads share one iterator of pending chunks: under a
    tiny switch interval every chunk still runs exactly once, and a
    failure stops the run before the rest of the chunks start."""
    runner = _runner(CompiledPipeline(PipelineSpec.from_dict(SPEC)),
                     str(tmp_path / "stress"))
    calls: list[int] = []
    fail_at = None

    def fake_chunk(spark, cid, files):
        calls.append(cid)
        if cid == fail_at:
            raise RuntimeError("chunk failed")
        return ChunkReport(cid, files, 0, {}, {}, 0.0)

    monkeypatch.setattr(runner, "_run_chunk", fake_chunk)
    pending = [(cid, []) for cid in range(300)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        assert sorted(runner._run_pending(spark, pending)) == list(range(300))
        assert sorted(calls) == list(range(300))
        calls.clear()
        fail_at = 100
        with pytest.raises(RuntimeError, match="chunk failed"):
            runner._run_pending(spark, pending)
    finally:
        sys.setswitchinterval(old)
    assert len(calls) == len(set(calls))
    assert set(range(101)) <= set(calls) and len(calls) < 300


def test_chunk_jobs_run_in_the_callers_job_group(spark, input_dir, tmp_path):
    """Chunk threads inherit the caller's local properties: every job a
    run starts, each chunk's write job included, lands in the caller's
    job group."""
    pipe = CompiledPipeline(PipelineSpec.from_dict(SPEC))
    sc = spark.sparkContext
    st = sc.statusTracker()
    ungrouped = set(st.getJobIdsForGroup(None))
    sc.setJobGroup("g", "chunk jobs")
    try:
        reports = _runner(pipe, str(tmp_path / "grp")).run(spark, input_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(reports) == 4
    assert len(st.getJobIdsForGroup("g")) >= len(reports)
    assert set(st.getJobIdsForGroup(None)) <= ungrouped


def test_rows_in_needs_no_count_job(spark, input_dir, tmp_path, monkeypatch):
    """rows_in is observed on the write job: a run with `count` made
    unusable still reports every input row."""
    def no_count(self):
        raise AssertionError("the runner started a count job")

    monkeypatch.setattr(type(spark.range(1)), "count", no_count)
    runner = _runner(CompiledPipeline(PipelineSpec.from_dict(SPEC)),
                     str(tmp_path / "nocount"))
    reports = runner.run(spark, input_dir)
    monkeypatch.undo()
    assert sum(r.rows_in for r in reports) == 2000
    assert runner.totals()["rows_in"] == 2000


def test_empty_chunk_reports_zero_rows_in(spark, tmp_path):
    pipe = CompiledPipeline(PipelineSpec.from_dict(SPEC))
    pages = str(tmp_path / "pages")
    write_pages(spark, pages, 200, seed=29, n_hosts=10, partitions=1)
    empty = str(tmp_path / "empty")
    spark.read.parquet(pages).limit(0).write.parquet(empty)
    part = glob.glob(os.path.join(empty, "part-*.parquet"))[0]
    shutil.copy(part, os.path.join(pages, "part-99999-empty.parquet"))
    runner = _runner(pipe, str(tmp_path / "out"), n_chunks=2)
    reports = runner.run(spark, pages)
    assert [len(r.files) for r in reports] == [1, 1]
    assert [r.rows_in for r in reports] == [200, 0]
    assert reports[1].sink_counts == {"errors": 0, "all": 0}
    assert runner.totals()["rows_in"] == 200


def test_manifest_lineage_fields(spark, input_dir, tmp_path):
    pipe = CompiledPipeline(PipelineSpec.from_dict(SPEC))
    runner = _runner(pipe, str(tmp_path / "lin"))
    runner.run(spark, input_dir)
    manifests = sorted(
        glob.glob(os.path.join(str(tmp_path / "lin"), "_manifests", "*.json"))
    )
    assert len(manifests) == 4
    m = json.load(open(manifests[0]))
    # lineage: which input files fed this output partition, row accounting
    assert m["files"] and all(f.endswith(".parquet") for f in m["files"])
    assert all(fp["bytes"] > 0 for fp in m["fingerprint"])
    assert m["output"].endswith("chunk=0")
    assert m["rows_in"] == sum(m["drop_counts"].values()) + _unique_routed(
        spark, m["output"]
    )


def _unique_routed(spark, data_dir) -> int:
    df = spark.read.parquet(data_dir)
    return (
        df.filter(F.col("sink") != DEAD_SINK)
        .select("url").distinct().count()
    )


def test_observe_counters_match_data(spark, input_dir, tmp_path):
    pipe = CompiledPipeline(PipelineSpec.from_dict(SPEC))
    runner = _runner(pipe, str(tmp_path / "obs"))
    runner.run(spark, input_dir)
    totals = runner.totals()
    df = runner.output_frame(spark)
    got = {
        r["sink"]: r["n"]
        for r in df.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for name, n in totals["sink_counts"].items():
        assert got.get(name, 0) == n
    assert got.get(DEAD_SINK, 0) == sum(totals["drop_counts"].values())


def test_changed_input_invalidates_committed_chunk(spark, tmp_path):
    """Lineage check on resume: a committed chunk whose input file
    changed size re-runs instead of being skipped with stale output;
    untouched chunks still resume."""
    pipe = CompiledPipeline(PipelineSpec.from_dict(SPEC))
    pages = str(tmp_path / "pages")
    write_pages(spark, pages, 1000, seed=19, n_hosts=20, partitions=4)

    runner = _runner(pipe, str(tmp_path / "out"))
    first = runner.run(spark, pages)
    assert not any(r.resumed for r in first)

    # rewrite one data file in place (same name, different content size)
    victim = sorted(glob.glob(os.path.join(pages, "*.parquet")))[0]
    chunk_of_victim = next(
        r.chunk_id for r in first if victim in r.files
    )
    df = spark.read.parquet(victim).limit(100).cache()
    df.count()
    tmp_out = str(tmp_path / "rewrite")
    df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
    part = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
    os.replace(part, victim)
    crc = os.path.join(
        os.path.dirname(victim), f".{os.path.basename(victim)}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)  # stale Hadoop checksum sidecar for the old bytes
    # a real resume is a fresh session; here the same session must not
    # serve stale cached footers for the replaced file
    df.unpersist()
    spark.catalog.clearCache()

    second = runner.run(spark, pages)
    by_id = {r.chunk_id: r for r in second}
    assert not by_id[chunk_of_victim].resumed      # stale chunk re-ran
    assert by_id[chunk_of_victim].rows_in < first[chunk_of_victim].rows_in
    for cid, r in by_id.items():
        if cid != chunk_of_victim:
            assert r.resumed                        # others untouched


def test_fewer_chunks_forget_stale_chunk_ids(spark, tmp_path):
    """Re-running into the same output with a smaller chunk count drops
    the chunk ids the new chunking no longer has, so totals and the
    output frame count every input row once."""
    pipe = CompiledPipeline(PipelineSpec.from_dict(SPEC))
    pages = str(tmp_path / "pages")
    write_pages(spark, pages, 800, seed=23, n_hosts=20, partitions=8)
    out = str(tmp_path / "out")
    assert len(_runner(pipe, out, n_chunks=8).run(spark, pages)) == 8

    runner = _runner(pipe, out, n_chunks=4)
    assert len(runner.run(spark, pages)) == 4
    got = runner.totals()
    assert got["chunks"] == 4 and got["rows_in"] == 800
    assert sorted(glob.glob(os.path.join(out, "data", "chunk=*"))) == [
        os.path.join(out, "data", f"chunk={i}") for i in range(4)]
    routed_and_dead = (sum(got["sink_counts"].values())
                       + sum(got["drop_counts"].values()))
    assert runner.output_frame(spark).count() == routed_and_dead


LOOKUP_ROWS = [{"level": "info", "sev": "1", "geo": "US"}]
REASONS_SPEC = {
    "Parser": {"Mode": "jsonify", "Columns": ["level", "payload"],
               "Attrs": "attrs"},
    "Validators": [
        {"Mode": "required", "Column": "user"},
        {"Mode": "required", "Column": "user"},
    ],
    "Rewrites": [
        {"Mode": "mapping", "Column": "no_such_col", "Mapping": {"a": "b"}},
        {"Mode": "jsonify", "Column": "payload", "Types": {"a": "long"}},
        {"Mode": "lookup", "Lookup": {"key": "level", "table": LOOKUP_ROWS,
                                      "output": {"sev": "string"},
                                      "on_miss": "keep"}},
        {"Mode": "lookup", "Lookup": {"key": "level", "table": LOOKUP_ROWS,
                                      "output": {"geo": "string"},
                                      "on_miss": "drop"}},
    ],
    "Handlers": [{"Mode": "stream", "Name": "all", "Template": "${level}"}],
}


@pytest.mark.parametrize("spec, want", [
    (PIPELINE_SPEC, ["validator:minlength:message", "lookup_miss:lang"]),
    (SPEC, ["mapping_miss:lang"]),
    # a mapping on a missing column compiles to a no-op but keeps its
    # label; an on_miss "keep" lookup can never drop a row
    (REASONS_SPEC, ["parse_error:jsonify", "validator:required:user",
                    "validator:required:user", "mapping_miss:no_such_col",
                    "parse_error:jsonify_rewrite:payload",
                    "lookup_miss:level"]),
], ids=["bench", "checkpoint", "jsonify_attrs"])
def test_transform_reasons_name_every_drop_label(spark, pages_sdf, spec, want):
    """The runner's per-reason counters come from this list: every label
    the spec can emit, once per step, in operator order."""
    pipe = CompiledPipeline(PipelineSpec.from_dict(spec))
    assert pipe.transform(from_pages(pages_sdf)).reasons == want
