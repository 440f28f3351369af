"""CLI entry point — the reference's `agent -f config.json` surface
(apps/agent/main.go:18-98), batch-native.

    python -m logagent_spark -f config.json --input /data/pages \\
        --out /data/out [--source pages|html|text|none] [--chunks 8]
        [--cpus 32] [--keep url,lang] [--grok]

Each task in the config compiles to a pipeline and runs through the
checkpointed runner. Every run skips the chunks a previous run into the
same --out committed, so re-running a killed command resumes it (the
reference's pidfile/offset lifecycle, done as data).
"""

from __future__ import annotations

import argparse
import json
import sys

from logagent_spark.config import PipelineSpec
from logagent_spark.plans.checkpoint import CheckpointedRunner
from logagent_spark.plans.pipeline import CompiledPipeline
from logagent_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="logagent_spark")
    ap.add_argument("-f", "--config", required=True)
    ap.add_argument("--input", required=True, help="input parquet dir")
    ap.add_argument("--out", required=True, help="output root dir")
    ap.add_argument("--source", default="pages",
                    choices=["pages", "html", "text", "none"],
                    help="envelope adapter for the input table; 'html' "
                         "extracts text scan-side from the binary html "
                         "column (CC-style corpora with no pre-extracted "
                         "text)")
    ap.add_argument("--chunks", type=int, default=8)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--keep", default=None,
                    help="comma-separated passthrough columns")
    ap.add_argument("--grok", action="store_true",
                    help="parse regex and grok modes with the Arrow "
                         "pandas-UDF kernel instead of native Column "
                         "expressions")
    args = ap.parse_args(argv)

    specs = PipelineSpec.load_config(args.config)
    spark = get_spark("logagent_spark", parallelism=args.cpus)

    if args.source == "pages":
        from logagent_spark.sources import from_pages as adapter
    elif args.source == "html":
        from logagent_spark.operators.web import extract_text_from_html
        from logagent_spark.sources import from_pages

        def adapter(df):
            return from_pages(
                extract_text_from_html(df.drop("text"), out_col="text")
            )
    elif args.source == "text":
        from pyspark.sql import functions as F

        def adapter(df):
            return df.withColumn("message", F.col("text"))
    else:
        adapter = None

    keep = args.keep.split(",") if args.keep else None
    summary = {}
    for spec in specs:
        pipe = CompiledPipeline(
            spec, regex_strategy="grok" if args.grok else "native"
        )
        runner = CheckpointedRunner(
            pipe, f"{args.out}/{spec.name}", n_chunks=args.chunks,
            source_adapter=adapter, keep=keep,
        )
        reports = runner.run(spark, args.input)
        summary[spec.name] = {
            "chunks_run": sum(1 for r in reports if not r.resumed),
            "chunks_resumed": sum(1 for r in reports if r.resumed),
            **runner.totals(),
        }
    print(json.dumps(summary, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
