"""Resumable-restart semantics (M7): kill mid-run, resume, identical
final counts + identical sink contents vs a single-shot run."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from bench import PIPELINE_SPEC
from logagent_spark.config import PipelineSpec
from logagent_spark.datagen import WAF_REGEX, write_pages
from logagent_spark.plans.checkpoint import CheckpointedRunner
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
        a = sorted(
            r["rendered"]
            for r in r_full.output_frame(spark)
            .filter(F.col("sink") == sink).select("rendered").collect()
        )
        b = sorted(
            r["rendered"]
            for r in r_kill.output_frame(spark)
            .filter(F.col("sink") == sink).select("rendered").collect()
        )
        assert a == b, sink


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
