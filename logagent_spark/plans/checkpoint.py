"""Checkpointed, resumable pipeline runner — per-chunk lineage + metrics.

The reference's only durability is a hand-written Kafka offset file
(/root/reference/agent/task/collector.go:230-239, 256-260: one int,
written on shutdown — at-most-once-ish). Spark gives task-level retry but
no batch mid-JOB resume; this module implements resume at the
input-chunk level, "the offset file done right" (SURVEY.md §7 M7):

  * the input is split into deterministic CHUNKS (groups of parquet
    files, sorted listing — at cluster scale the same grouping applies to
    an Iceberg snapshot's file manifest);
  * each chunk runs the full parse->enrich->route pipeline and writes all
    sinks in ONE job under ``{out}/data/chunk=<id>/sink=<name>/``;
  * metrics for the chunk (rows in/routed per sink/dropped per reason,
    wall time, input fingerprint) are gathered DURING the write via
    ``DataFrame.observe`` — zero extra jobs, zero extra scans; ``rows_in``
    is observed on the input frame before the source adapter — and
    committed as a JSON manifest by atomic rename. The manifest doubles
    as the lineage record (which input files produced which output
    partition);
  * ``IN_FLIGHT`` = 2 chunks run at once, on driver threads that inherit
    the caller's job group, so one chunk's driver-side steps overlap the
    other's tasks. A kill therefore loses at most 2 chunks. A manifest's
    ``seconds`` is that chunk's own wall time, which overlaps its
    neighbour's, so ``totals()["seconds"]`` is summed chunk time, not
    the run's elapsed time;
  * a restart lists committed manifests and skips those chunks; a chunk
    killed mid-write is simply re-run (its data dir is overwritten), so
    the protocol is idempotent and exactly-once at chunk granularity.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from logagent_spark.plans.pipeline import (
    DEAD_SINK,
    RENDERED_COL,
    SINK_COL,
    CompiledPipeline,
)

# chunks run at once: a chunk's driver-side steps (footer read, plan
# compile, broadcast build, commit, manifest) overlap the other's tasks
IN_FLIGHT = 2


def list_input_files(input_path: str) -> list[str]:
    """Deterministic sorted listing of the input table's data files.
    Local-FS implementation; on a cluster the same contract is served by
    the Iceberg/Hadoop file manifest."""
    if os.path.isdir(input_path):
        files = sorted(
            f
            for f in glob.glob(os.path.join(input_path, "**", "*.parquet"),
                               recursive=True)
            if not os.path.basename(f).startswith(("_", "."))
        )
        if files:
            return files
    return [input_path]


def make_chunks(files: list[str], n_chunks: int) -> list[list[str]]:
    n_chunks = max(1, min(n_chunks, len(files)))
    out: list[list[str]] = [[] for _ in range(n_chunks)]
    for i, f in enumerate(files):
        out[i % n_chunks].append(f)
    return [c for c in out if c]


@dataclass
class ChunkReport:
    chunk_id: int
    files: list[str]
    rows_in: int
    sink_counts: dict[str, int]
    drop_counts: dict[str, int]
    seconds: float
    resumed: bool = False


class CheckpointedRunner:
    def __init__(
        self,
        pipe: CompiledPipeline,
        out_dir: str,
        *,
        n_chunks: int = 8,
        source_adapter: Callable[[DataFrame], DataFrame] | None = None,
        keep: list[str] | None = None,
    ) -> None:
        self.pipe = pipe
        self.out_dir = out_dir
        self.n_chunks = n_chunks
        self.source_adapter = source_adapter
        self.keep = keep
        os.makedirs(self._manifest_dir, exist_ok=True)

    # ------------------------------------------------------------------
    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.out_dir, "_manifests")

    def _manifest_path(self, chunk_id: int) -> str:
        return os.path.join(self._manifest_dir, f"chunk_{chunk_id:05d}.json")

    def committed_chunks(self) -> dict[int, dict]:
        out = {}
        for p in glob.glob(os.path.join(self._manifest_dir, "chunk_*.json")):
            with open(p) as f:
                m = json.load(f)
            out[m["chunk_id"]] = m
        return out

    # ------------------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        input_path: str,
        *,
        max_chunks: int | None = None,
    ) -> list[ChunkReport]:
        """Process all uncommitted chunks (optionally at most `max_chunks`
        of them — used by tests to simulate a mid-run kill), up to
        `IN_FLIGHT` at a time. Reports come back in chunk-id order."""
        files = list_input_files(input_path)
        chunks = make_chunks(files, self.n_chunks)
        self._drop_stale_chunks(len(chunks))
        committed = self.committed_chunks()
        reports: dict[int, ChunkReport] = {}
        pending: list[tuple[int, list[str]]] = []
        for cid, chunk_files in enumerate(chunks):
            if cid in committed and self._manifest_valid(
                committed[cid], chunk_files
            ):
                m = committed[cid]
                reports[cid] = ChunkReport(
                    chunk_id=cid, files=m["files"], rows_in=m["rows_in"],
                    sink_counts=m["sink_counts"],
                    drop_counts=m["drop_counts"], seconds=m["seconds"],
                    resumed=True,
                )
                continue
            if max_chunks is not None and len(pending) >= max_chunks:
                break
            pending.append((cid, chunk_files))
        reports.update(self._run_pending(spark, pending))
        return [reports[cid] for cid in sorted(reports)]

    def _run_pending(
        self, spark: SparkSession, pending: list[tuple[int, list[str]]]
    ) -> dict[int, ChunkReport]:
        """Run `pending` chunks in id order on `IN_FLIGHT` driver threads.
        `InheritableThread` carries the caller's local properties (job
        group, scheduler pool) to every chunk's jobs. After a failure no
        chunk starts; the chunks in flight finish and commit, then the
        first error re-raises."""
        lock = threading.Lock()
        todo = iter(pending)
        done: dict[int, ChunkReport] = {}
        errors: list[BaseException] = []

        def worker() -> None:
            while True:
                with lock:
                    item = None if errors else next(todo, None)
                if item is None:
                    return
                try:
                    report = self._run_chunk(spark, *item)
                except BaseException as e:
                    with lock:
                        errors.append(e)
                    return
                done[report.chunk_id] = report

        threads = [
            InheritableThread(target=worker)
            for _ in range(min(IN_FLIGHT, len(pending)))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return done

    def _drop_stale_chunks(self, n_chunks: int) -> None:
        """Forget chunk ids the current chunking no longer has (the chunk
        count went down since the last run): their manifests and data
        would otherwise stay in `totals()` and `output_frame()`. The
        manifest goes first, so a kill in between leaves only an
        uncommitted data dir, as a chunk killed mid-write does."""
        for cid in self.committed_chunks():
            if cid >= n_chunks:
                os.remove(self._manifest_path(cid))
        for d in glob.glob(os.path.join(self.out_dir, "data", "chunk=*")):
            if int(d.rsplit("=", 1)[1]) >= n_chunks:
                shutil.rmtree(d)

    @staticmethod
    def _manifest_valid(manifest: dict, chunk_files: list[str]) -> bool:
        """A committed chunk is only skippable if its lineage still
        matches reality: same file set, same byte sizes. Otherwise the
        input changed under us (new files shift the round-robin chunking;
        a rewritten file changes bytes) and the chunk re-runs — skipping
        on id alone would silently serve stale output."""
        if manifest.get("files") != chunk_files:
            return False
        for fp in manifest.get("fingerprint", []):
            try:
                if os.path.getsize(fp["path"]) != fp["bytes"]:
                    return False
            except OSError:
                return False
        return True

    def _run_chunk(
        self, spark: SparkSession, cid: int, files: list[str]
    ) -> ChunkReport:
        t0 = time.monotonic()
        # rows_in rides the write job too: no count job per chunk
        obs_in = Observation(f"chunk_{cid}_in")
        df = spark.read.parquet(*files).observe(
            obs_in, F.count(F.lit(1)).alias("rows_in"))
        if self.source_adapter is not None:
            df = self.source_adapter(df)

        result = self.pipe.transform(df)
        out = self.pipe.multiplexed(result, keep=self.keep)

        # metrics piggy-back on the write action: no second scan
        metrics = [
            F.sum(F.when(F.col(SINK_COL) == name, 1).otherwise(0))
            .alias(f"sink:{name}")
            for name in self.pipe.sink_names()
        ]
        for reason in result.reasons:
            metrics.append(
                F.sum(
                    F.when(
                        (F.col(SINK_COL) == DEAD_SINK)
                        & (F.col(RENDERED_COL) == reason),
                        1,
                    ).otherwise(0)
                ).alias(f"drop:{reason}")
            )
        obs = Observation(f"chunk_{cid}")
        out = out.observe(obs, *metrics)

        data_dir = os.path.join(self.out_dir, "data", f"chunk={cid}")
        # write_sinks' 2-tasks-per-core sizing matters more here: its
        # per-task commit and per-file writer overhead recurs PER CHUNK
        self.pipe.write_sinks(out, data_dir)

        rows_in = int(obs_in.get.get("rows_in", 0) or 0)
        got = obs.get
        sink_counts = {
            n: int(got.get(f"sink:{n}", 0) or 0) for n in self.pipe.sink_names()
        }
        drop_counts = {
            r: int(got.get(f"drop:{r}", 0) or 0)
            for r in result.reasons
        }
        seconds = time.monotonic() - t0

        manifest = {
            "chunk_id": cid,
            "files": files,
            "fingerprint": [
                {"path": f, "bytes": os.path.getsize(f)}
                for f in files
                if os.path.exists(f)
            ],
            "rows_in": rows_in,
            "sink_counts": sink_counts,
            "drop_counts": drop_counts,
            "seconds": seconds,
            "output": data_dir,
        }
        tmp = self._manifest_path(cid) + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path(cid))  # atomic commit
        return ChunkReport(
            chunk_id=cid, files=files, rows_in=rows_in,
            sink_counts=sink_counts, drop_counts=drop_counts,
            seconds=seconds,
        )

    # ------------------------------------------------------------------
    def totals(self) -> dict:
        """Aggregate committed manifests into the run-level report."""
        sink_totals: dict[str, int] = {}
        drop_totals: dict[str, int] = {}
        rows_in = 0
        secs = 0.0
        manifests = self.committed_chunks()
        for m in manifests.values():
            rows_in += m["rows_in"]
            secs += m["seconds"]
            for k, v in m["sink_counts"].items():
                sink_totals[k] = sink_totals.get(k, 0) + v
            for k, v in m["drop_counts"].items():
                drop_totals[k] = drop_totals.get(k, 0) + v
        return {
            "chunks": len(manifests),
            "rows_in": rows_in,
            "sink_counts": sink_totals,
            "drop_counts": drop_totals,
            "seconds": secs,
        }

    def output_frame(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, "data"))
