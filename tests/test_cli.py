"""CLI parity test: update -> get -> info -> archive -> get (identical),
mirroring the reference's end-to-end integration golden test
(LogServerSpecInt.scala:19-106: update, get, archive, get-after-archive)."""

import json
import os

import pytest

from log_server_spark.cli import main as cli_main
from log_server_spark.datagen import write_dataset

pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def env(tmp_path_factory, spark):
    # spark fixture keeps the session alive; cli reuses it via getOrCreate
    d = tmp_path_factory.mktemp("cli")
    data = str(d / "data")
    wh = str(d / "wh")
    write_dataset(data, seed=11, n=600, num_files=4)
    rc = cli_main(["update", "--warehouse", wh, "--pages-dir", os.path.join(data, "pages"), "--batch-files", "2"])
    assert rc == 0
    return wh


def _get_output(spark, wh, capsys):
    from pyspark.sql import functions as F

    records = spark.read.parquet(os.path.join(wh, "records"))
    sample = records.filter((F.col("status") == "ok") & (F.col("record_id") != "")).limit(1).collect()[0]
    cli_main(["get", "--warehouse", wh, "--table", sample["table"], "--id", sample["record_id"]])
    out = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    return sample, out


def test_update_then_get(spark, env, capsys):
    sample, out = _get_output(spark, env, capsys)
    assert out
    assert all(o["tableName"] == sample["table"] for o in out)
    assert all(str(o["id"]) == sample["record_id"] for o in out)
    ts = [o["timestamp"] for o in out]
    assert ts == sorted(ts)


def test_info_totals(spark, env, capsys):
    cli_main(["info", "--warehouse", env])
    out = capsys.readouterr().out.strip().splitlines()
    total = int(out[-1].split(":")[1])
    assert total == spark.read.parquet(os.path.join(env, "records")).count()


def test_archive_preserves_get(spark, env, capsys):
    before_sample, before = _get_output(spark, env, capsys)
    rc = cli_main(["archive", "--warehouse", env])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert stats["files_after"] <= stats["files_before"]
    # identical results after compaction (LogServerSpecInt :86-100)
    cli_main(["get", "--warehouse", env, "--table", before_sample["table"], "--id", before_sample["record_id"]])
    after = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    assert after == before


def test_fresh_warehouse_update_logs_no_stack_trace(tmp_path):
    """A first `update` into an empty warehouse is the normal case: it must
    not log a FileNotFoundException (the keys table LOCATION has to exist
    before the table is created). Neither may the first `archive`, whose
    keys compaction builds a second bucketed table in a new directory."""
    import subprocess
    import sys

    data = str(tmp_path / "data")
    write_dataset(data, seed=3, n=40, num_files=1)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wh = str(tmp_path / "wh")

    def cli(*args):
        return subprocess.run(
            [sys.executable, "-m", "log_server_spark.cli", "--master", "local[2]", *args],
            cwd=repo, capture_output=True, text=True, timeout=600,
        )

    proc = cli("update", "--warehouse", wh, "--pages-dir", os.path.join(data, "pages"))
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "b00000: added=" in proc.stdout
    assert "FileNotFoundException" not in proc.stderr
    proc = cli("archive", "--warehouse", wh)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["archived"] == ["b00000"]
    assert "FileNotFoundException" not in proc.stderr
