"""Archive and table rewrites: `archive`'s compaction (records, keys,
bookkeeping), the read-only flag it sets, the torn-batch sweep it runs
first, the bookkeeping rewrite behind batch drops, and crash recovery of
every build-check-swap."""

import glob
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from log_server_spark.catalog import Warehouse
from log_server_spark.datagen import write_dataset
from log_server_spark.plans.pipeline import (
    LINEAGE,
    RECORDS,
    RECORDS_KEYS,
    _drop_batch,
    run_pipeline,
)
from tests.pages_util import pages_table, write_pages


@pytest.fixture(scope="module")
def dataset(tmp_path_factory):
    d = tmp_path_factory.mktemp("arc_data")
    write_dataset(str(d), seed=11, n=400, num_files=4)
    return str(d)


@pytest.fixture()
def warehouse(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("arc_wide_data"))
    write_dataset(d, seed=7, n=900, num_files=6)
    whdir = str(tmp_path_factory.mktemp("arc_wide_wh"))
    run_pipeline(spark, os.path.join(d, "pages"), whdir, batch_files=2)
    return Warehouse(whdir, spark)


def _tiny_warehouse(spark, tmp_path):
    ok = "---- 2024-03-05 12:00:00 level:INFO table:users id:7 op:sync\nbody"
    pages = write_pages(str(tmp_path), pages_table([("https://c.example.com/1", ok)]))
    whdir = str(tmp_path / "wh")
    run_pipeline(spark, pages, whdir, batch_files=1)
    return Warehouse(whdir, spark)


def test_archive_on_empty_warehouse(spark, tmp_path, capsys):
    """`archive` on a warehouse with no records table (fresh, or after an
    update that routed nothing) exits 0 and reports nothing archived."""
    from log_server_spark.cli import main as cli_main

    capsys.readouterr()
    assert cli_main(["archive", "--warehouse", str(tmp_path / "wh")]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] == 0
    assert summary["archived"] == []
    assert summary["files_before"] == summary["files_after"] == 0


@pytest.mark.slow
def test_archive_row_mismatch_aborts_and_keeps_records(spark, tmp_path, capsys, monkeypatch):
    """A records rewrite whose row count differs is discarded: `archive`
    prints the ABORT line, exits 1, and leaves the live records and the
    read-only set as they were."""
    from pyspark.sql import DataFrameWriter

    from log_server_spark.cli import main as cli_main

    wh = _tiny_warehouse(spark, tmp_path)
    n = wh.read(RECORDS).count()
    real_parquet = DataFrameWriter.parquet

    def duplicating(self, path, *a, **k):
        real_parquet(self, path, *a, **k)
        if path.endswith(".rewrite"):
            for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
                shutil.copyfile(f, os.path.join(os.path.dirname(f), "dup-" + os.path.basename(f)))

    monkeypatch.setattr(DataFrameWriter, "parquet", duplicating)
    capsys.readouterr()
    assert cli_main(["archive", "--warehouse", wh.root]) == 1
    assert f"ABORT: row count mismatch {n} -> {2 * n}" in capsys.readouterr().err
    monkeypatch.undo()
    assert not os.path.isdir(wh.path(RECORDS) + ".rewrite")
    assert wh.read(RECORDS).count() == n
    assert wh.archived_batches() == set()


@pytest.mark.slow
def test_archive_crash_recovery(spark, warehouse):
    """records.old present without records => restore; with records => drop.

    Recovery happens on LOCK ACQUISITION (never unlocked, or it would race
    a live archive swap running under the lock in another process)."""
    records = warehouse.path(RECORDS)
    old = records + ".old"
    n = spark.read.parquet(records).count()
    wh2 = Warehouse(warehouse.root, spark)
    # crash between rename(records->old) and rename(compact->records)
    os.rename(records, old)
    with wh2.lock():
        pass
    assert os.path.isdir(records) and not os.path.isdir(old)
    assert spark.read.parquet(records).count() == n
    # crash after swap, before rmtree(old)
    shutil.copytree(records, old)
    with wh2.lock():
        pass
    assert os.path.isdir(records) and not os.path.isdir(old)
    assert wh2.read(RECORDS).count() == n


@pytest.mark.slow
def test_bookkeeping_rewrite_is_crash_recoverable(spark, dataset, tmp_path_factory):
    """ADVICE #5: a crash at ANY point of the legacy-row rewrite leaves the
    table restorable — recovery on lock acquisition finishes or rolls back
    the swap, never leaving a wiped table."""
    pages = os.path.join(dataset, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r3_swap_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=2)
    wh = Warehouse(wh_dir, spark)
    n = wh.read(LINEAGE).count()
    d = wh.path(LINEAGE)
    # crash window A: replacement built, old renamed away, swap unfinished
    shutil.copytree(d, d + ".rewrite")
    os.rename(d, d + ".old")
    with wh.lock():
        pass
    assert os.path.isdir(d) and not os.path.isdir(d + ".old")
    assert not os.path.isdir(d + ".rewrite")
    assert wh.read(LINEAGE).count() == n
    # crash window B: swap done, old copy not yet removed
    shutil.copytree(d, d + ".old")
    with wh.lock():
        pass
    assert not os.path.isdir(d + ".old")
    assert wh.read(LINEAGE).count() == n
    # crash window C: build dir exists, swap not started -> stale build dropped
    shutil.copytree(d, d + ".rewrite")
    with wh.lock():
        pass
    assert not os.path.isdir(d + ".rewrite")
    assert wh.read(LINEAGE).count() == n


@pytest.mark.slow
def test_archive_compacts_keys_and_bookkeeping(spark, tmp_path_factory, monkeypatch):
    from log_server_spark.cli import main as cli_main
    from log_server_spark.datagen import write_dataset
    from log_server_spark.operators.dedup import DEDUP_KEY, anti_join_committed
    from log_server_spark.plans.pipeline import (
        LINEAGE,
        METRICS_INGEST,
        METRICS_PARTIALS,
        _committed_batches,
        _committed_keys,
    )

    monkeypatch.setenv("LSS_KEYS_BUCKETS", "4")
    data = str(tmp_path_factory.mktemp("r4_arc_data"))
    write_dataset(data, seed=13, n=400, num_files=4)
    pages = os.path.join(data, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r4_arc_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=1)
    wh = Warehouse(wh_dir, spark)

    keys_cols = ["table", "record_id", "record_hash", "ts_millis", "day"]
    before_keys = {tuple(r) for r in wh.read(RECORDS_KEYS).select(*keys_cols).collect()}
    before_records = {
        tuple(r) for r in wh.read(RECORDS).select("url", "seq", "table", "record_id").collect()
    }
    before_lineage = _committed_batches(wh)
    expected_files = (
        wh.read(RECORDS_KEYS)
        .select("day", F.pmod(F.hash("record_hash"), F.lit(4)).alias("b"))
        .distinct()
        .count()
    )
    n_days = wh.read(RECORDS_KEYS).select("day").distinct().count()

    rc = cli_main(["archive", "--warehouse", wh_dir])
    assert rc == 0

    # keys: single batch=archived partition, one file per (day, bucket)
    batch_dirs = glob.glob(os.path.join(wh.path(RECORDS_KEYS), "batch=*"))
    assert [os.path.basename(d) for d in batch_dirs] == ["batch=archived"]
    files = glob.glob(os.path.join(wh.path(RECORDS_KEYS), "**", "*.parquet"), recursive=True)
    # exactly ONE file per populated (day, bucket) — i.e. days x buckets
    # once every bucket has data; empty (day, bucket) pairs write nothing
    assert len(files) == expected_files
    assert n_days < len(files) <= n_days * 4
    # keys rows byte-identical
    after_keys = {tuple(r) for r in wh.read(RECORDS_KEYS).select(*keys_cols).collect()}
    assert after_keys == before_keys
    # bookkeeping: one merged file per table, same lineage content
    for table in (LINEAGE, METRICS_INGEST, METRICS_PARTIALS):
        fs = glob.glob(os.path.join(wh.path(table), "*.parquet"))
        assert len(fs) == 1, (table, fs)
    assert _committed_batches(wh) == before_lineage

    # the anti-join stays Exchange-free on the compacted committed side
    lo, hi = (
        wh.read(RECORDS_KEYS).agg(F.min("ts_millis"), F.max("ts_millis")).collect()[0]
    )
    committed = _committed_keys(wh, (lo, hi))
    batch = wh.read(RECORDS).filter(F.col("status") == "ok").select(*DEDUP_KEY)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            anti_join_committed(batch, committed)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    assert "Bucketed: true" in plan
    assert plan.count("Exchange") == 1, plan

    # cross-batch dedup against ARCHIVED keys still works: a late-landing
    # unit that clones unit 0 must dedup 100% against the merged partition
    import shutil as _sh

    _sh.copyfile(
        os.path.join(pages, sorted(os.listdir(pages))[0]),
        os.path.join(pages, "part-99999.parquet"),
    )
    res = run_pipeline(spark, pages, wh_dir, batch_files=1)
    assert len(res) == 1
    assert res[0].added == 0, "every parseable record is an archived duplicate"
    assert res[0].duplicates > 0
    # records table content for the original batches unchanged
    after_records = {
        tuple(r)
        for r in wh.read(RECORDS)
        .filter(F.col("batch") != res[0].batch)
        .select("url", "seq", "table", "record_id")
        .collect()
    }
    assert after_records == before_records


@pytest.mark.slow
def test_archive_sweeps_torn_batches_before_compacting(spark, tmp_path_factory):
    """A torn (lineage-less) batch must be swept by `archive`, not folded
    into batch=archived or marked read-only — otherwise its orphaned keys
    would anti-join the reprocessed records away after the torn records are
    deleted (self-review finding, round 4)."""
    import shutil as _sh

    from log_server_spark.cli import main as cli_main
    from log_server_spark.datagen import write_dataset

    data = str(tmp_path_factory.mktemp("r4_torn_data"))
    write_dataset(data, seed=31, n=200, num_files=2)
    pages = os.path.join(data, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r4_torn_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=1)
    wh = Warehouse(wh_dir, spark)
    committed_keys = wh.read(RECORDS_KEYS).count()
    want_records = {
        tuple(r) for r in wh.read(RECORDS).select("url", "seq", "table", "record_id").collect()
    }

    # fabricate a torn batch: data + keys dirs, NO lineage row
    for table in (RECORDS, RECORDS_KEYS):
        src = os.path.join(wh.path(table), "batch=b00001")
        _sh.copytree(src, os.path.join(wh.path(table), "batch=b00099"))

    rc = cli_main(["archive", "--warehouse", wh_dir])
    assert rc == 0
    # torn batch swept, not archived, not folded into the merged keys
    assert "b00099" not in wh.archived_batches()
    assert not os.path.isdir(os.path.join(wh.path(RECORDS), "batch=b00099"))
    assert not os.path.isdir(os.path.join(wh.path(RECORDS_KEYS), "batch=b00099"))
    assert wh.read(RECORDS_KEYS).count() == committed_keys
    # and the warehouse contents are exactly the committed rows
    got = {
        tuple(r) for r in wh.read(RECORDS).select("url", "seq", "table", "record_id").collect()
    }
    assert got == want_records
    # a subsequent resume run has nothing to redo and loses nothing
    assert run_pipeline(spark, pages, wh_dir, batch_files=1) == []
    assert wh.read(RECORDS).count() == len(want_records)


@pytest.mark.slow
def test_archived_batches_are_read_only(spark, dataset, tmp_path_factory, capsys):
    """VERDICT round-2 'What's missing' #2: archive must flip compacted
    batches read-only — a later update whose remapped batch ids would
    rewrite them fails loudly (HeaderStorage.scala:242-275 semantics),
    and --unmark restores writability."""
    from log_server_spark.catalog import ArchivedBatchError
    from log_server_spark.cli import main as cli_main

    pages = os.path.join(dataset, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r3_ro_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=2)
    wh = Warehouse(wh_dir, spark)
    n = wh.read(RECORDS).count()
    n_ok = wh.read(RECORDS).filter(F.col("status") == "ok").count()

    rc = cli_main(["archive", "--warehouse", wh_dir])
    assert rc == 0
    assert wh.archived_batches() == {"b00000", "b00001"}

    # id remap (batch_files 2 -> 1) would drop+rebuild archived batches
    with pytest.raises(ArchivedBatchError, match="read-only"):
        run_pipeline(spark, pages, wh_dir, batch_files=1)
    # nothing was rewritten
    assert wh.read(RECORDS).count() == n
    # resume=False full rerun is a rewrite of history too
    with pytest.raises(ArchivedBatchError, match="read-only"):
        run_pipeline(spark, pages, wh_dir, batch_files=2, resume=False)
    assert wh.read(RECORDS).count() == n
    # matching-layout resume remains fine (no batch is dropped or rebuilt)
    assert run_pipeline(spark, pages, wh_dir, batch_files=2) == []

    capsys.readouterr()
    rc = cli_main(["archive", "--warehouse", wh_dir, "--unmark"])
    assert rc == 0
    assert wh.archived_batches() == set()
    r = run_pipeline(spark, pages, wh_dir, batch_files=1, resume=False)
    assert len(r) == 4  # rebuilt under the remapped layout
    # no record lost: the dropped batches' keys left batch=archived with them
    assert wh.read(RECORDS).filter(F.col("status") == "ok").count() == n_ok


@pytest.mark.slow
def test_drop_batch_rewrite_preserves_per_batch_files(spark, dataset, tmp_path_factory):
    """The legacy-row rewrite must NOT fold per-batch files into the merged
    rewrite file: a later overwrite of part-bNNNNN.parquet would then
    double-count the rows living on in the merged file."""
    pages = os.path.join(dataset, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r3_fold_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=2)
    wh = Warehouse(wh_dir, spark)
    # legacy rows for b00001 next to the per-batch files
    t = pq.read_table(os.path.join(wh.path(LINEAGE), "part-b00001.parquet"))
    pq.write_table(t, os.path.join(wh.path(LINEAGE), "part-00000000000000000009.parquet"))
    _drop_batch(wh, "b00001")
    # b00000's per-batch file survives under its own name, b00001 fully gone
    names = {os.path.basename(f) for f in glob.glob(os.path.join(wh.path(LINEAGE), "*.parquet"))}
    assert "part-b00000.parquet" in names
    assert "part-b00001.parquet" not in names
    batches = {r["batch"] for r in wh.read(LINEAGE).collect()}
    assert batches == {"b00000"}


@pytest.mark.slow
def test_drop_batch_sweeps_legacy_rows_even_with_per_batch_file(spark, dataset, tmp_path_factory):
    """ADVICE #3: a batch can have BOTH a per-batch bookkeeping file and
    leftover legacy (timestamp-named) rows; _drop_batch must remove both or
    the stale rows re-poison unit-list validation on every resume."""
    pages = os.path.join(dataset, "pages")
    wh_dir = str(tmp_path_factory.mktemp("r3_legacy_wh"))
    run_pipeline(spark, pages, wh_dir, batch_files=2)
    wh = Warehouse(wh_dir, spark)
    # plant legacy-named lineage rows for b00000 with a BOGUS unit set
    pq.write_table(
        pa.table(
            {
                "batch": pa.array(["b00000"]),
                "unit": pa.array(["/nonexistent/poison.parquet"]),
                "status": pa.array(["committed"]),
                "n_pages": pa.array([1], pa.int64()),
                "committed_at": pa.array([0.0], pa.float64()),
            }
        ),
        os.path.join(wh.path(LINEAGE), "part-00000000000000000001.parquet"),
    )
    # run 1: unit-set mismatch -> b00000 dropped (file AND legacy rows) + rebuilt
    r1 = run_pipeline(spark, pages, wh_dir, batch_files=2)
    assert [b.batch for b in r1] == ["b00000"]
    # run 2: if the legacy poison row survived, b00000 would reprocess forever
    r2 = run_pipeline(spark, pages, wh_dir, batch_files=2)
    assert r2 == []
    units = {r["unit"] for r in wh.read(LINEAGE).collect()}
    assert "/nonexistent/poison.parquet" not in units


def test_sweep_renames_torn_batch_to_hidden_dir(spark, tmp_path):
    import shutil

    from log_server_spark.plans.pipeline import sweep_torn_batches

    wh = _tiny_warehouse(spark, tmp_path)
    committed = wh.read(RECORDS).count()
    src = os.path.join(wh.path(RECORDS), "batch=b00000")
    shutil.copytree(src, os.path.join(wh.path(RECORDS), "batch=b00099"))
    with wh.lock():
        assert sweep_torn_batches(wh) == ["b00099"]
    # renamed to an underscore-prefixed sibling: invisible to scans,
    # hand-recoverable after an operator mistake
    torn = glob.glob(os.path.join(wh.path(RECORDS), "_torn-b00099-*"))
    assert len(torn) == 1
    assert not os.path.isdir(os.path.join(wh.path(RECORDS), "batch=b00099"))
    assert wh.read(RECORDS).count() == committed


def test_sweep_refuses_when_lineage_missing(spark, tmp_path):
    import shutil

    from log_server_spark.plans.pipeline import LINEAGE, sweep_torn_batches

    wh = _tiny_warehouse(spark, tmp_path)
    shutil.rmtree(wh.path(LINEAGE))
    with wh.lock():
        with pytest.raises(RuntimeError, match="refusing to sweep"):
            sweep_torn_batches(wh)
    # data untouched by the refused sweep
    assert os.path.isdir(os.path.join(wh.path(RECORDS), "batch=b00000"))
