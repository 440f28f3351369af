"""dir collector (whole-file), degradation sampling, CLI."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

from logagent_spark.sources import degradation_sample, read_whole_files


def test_read_whole_files(spark, tmp_path):
    d = tmp_path / "drop"
    d.mkdir()
    (d / "a.log").write_text("file a body\nwith lines")
    (d / "b.log").write_text("file b")
    (d / "skip.txt").write_text("not matched")
    df = read_whole_files(spark, str(d), "*.log")
    rows = {r["message"] for r in df.collect()}
    assert rows == {"file a body\nwith lines", "file b"}
    assert all(r["device_id"] for r in df.collect())


def test_degradation_sample(spark):
    df = spark.range(10_000)
    # below the limit: no shedding
    assert degradation_sample(df, 50.0, 80.0).count() == 10_000
    # above: survive with p = (100-cpu)/100
    n = degradation_sample(df, 90.0, 80.0).count()
    assert 700 <= n <= 1300  # ~10% of 10k, seeded


def _cli_config(tmp_path):
    from logagent_spark.datagen import WAF_REGEX

    cfg = tmp_path / "job.json"
    cfg.write_text(json.dumps({
        "tasks": [{
            "Parser": {"Mode": "regex", "Regex": WAF_REGEX},
            "Handlers": [
                {"Mode": "stream", "Name": "all", "Template": "${message}"},
            ],
        }],
    }))
    return str(cfg)


@pytest.mark.slow
def test_cli_end_to_end(spark, tmp_path):
    from logagent_spark.datagen import write_pages

    inp = str(tmp_path / "pages")
    write_pages(spark, inp, 500, seed=9, n_hosts=10, partitions=4)
    p = subprocess.run(
        [sys.executable, "-m", "logagent_spark", "-f", _cli_config(tmp_path),
         "--input", inp, "--out", str(tmp_path / "out"),
         "--chunks", "2", "--cpus", "4", "--keep", "url,lang"],
        capture_output=True, text=True,
        cwd=Path(__file__).resolve().parent.parent,
    )
    assert p.returncode == 0, p.stderr[-1500:]
    summary = json.loads(p.stdout[p.stdout.index("{"):])
    assert summary["task_0"]["rows_in"] == 500
    assert summary["task_0"]["sink_counts"]["all"] == 500


@pytest.mark.parametrize("keep", [" url, lang,", "url,lang, url,,"])
def test_cli_keep_strips_names(spark, tmp_path, monkeypatch, capsys, keep):
    """`--keep` names the columns url and lang: each name is stripped,
    and empty and repeated names are dropped."""
    from logagent_spark import __main__ as cli
    from logagent_spark.datagen import write_pages

    inp = str(tmp_path / "pages")
    write_pages(spark, inp, 200, seed=9, n_hosts=10, partitions=2)
    monkeypatch.setattr(cli, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    out = tmp_path / "out"
    assert cli.main(["-f", _cli_config(tmp_path), "--input", inp,
                     "--out", str(out), "--chunks", "1",
                     "--keep", keep]) == 0
    summary = json.loads(capsys.readouterr().out)
    assert summary["task_0"]["sink_counts"]["all"] == 200
    cols = spark.read.parquet(str(out / "task_0" / "data")).columns
    assert "url" in cols and "lang" in cols
    assert not [c for c in cols if c != c.strip() or not c]
