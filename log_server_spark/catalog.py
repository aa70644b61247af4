"""Parquet-directory warehouse.

The production design point is an Iceberg catalog (atomic snapshot commits,
file-level stats pruning, ``rewrite_data_files`` compaction — see SURVEY.md
§1.5). This container ships no Iceberg runtime jar, so tables are plain
parquet directories behind the same narrow interface; swapping
``format="iceberg"`` in is a config change, not a redesign. Semantics we rely
on (append-only writes + idempotence via the lineage protocol in
plans/pipeline.py) hold for both backends.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


class WarehouseLockTimeout(TimeoutError):
    pass


class ArchivedBatchError(RuntimeError):
    """Write attempted against an archived (read-only) batch.

    The reference flips archived segments read-only and refuses subsequent
    writes (HeaderStorage readOnly byte, HeaderStorage.scala:242-275;
    enforcement BigStorage.scala:267-273). Anything that would rewrite an
    archived batch's history — id-remap reprocessing, resume=False sweeps —
    must fail loudly instead of silently rewriting compacted data."""


class RowCountMismatch(RuntimeError):
    """A rebuilt table's row count differs from the one it replaces; the
    build was discarded and the live table is untouched."""

    def __init__(self, name: str, want: int, got: int):
        super().__init__(f"{name} rebuild row count mismatch: {want} -> {got}; aborted")
        self.want, self.got = want, got


class Warehouse:
    def __init__(self, root: str, spark: SparkSession):
        # absolute: table LOCATIONs resolve a relative path against the
        # session's spark-warehouse dir, not the process cwd
        self.root = os.path.abspath(root)
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    def _recover_interrupted_rebuild(self) -> None:
        """Finish any crashed table swap (see ``rebuild``): the swap protocol
        is rename(T -> T.old); rename(T.rewrite -> T); rm(T.old) — a crash
        leaves either both T and T.old (drop the old copy) or only T.old
        (restore it). A stale ``T.rewrite`` next to a live table is an
        incomplete build and is discarded.

        Runs on LOCK ACQUISITION, never unlocked: an unlocked recovery could
        "finish" a swap another process is legitimately mid-way through
        under the lock (restoring T.old while the owner is about to
        rename the build dir into place)."""
        for old in glob.glob(os.path.join(self.root, "*.old")):
            base = old[: -len(".old")]
            if os.path.isdir(base):
                shutil.rmtree(old)
            else:
                os.rename(old, base)
        for tmp in glob.glob(os.path.join(self.root, "*.rewrite")):
            if os.path.isdir(tmp[: -len(".rewrite")]):
                shutil.rmtree(tmp)

    def rebuild(
        self, name: str, write: Callable[[str], None], want_rows: int | None = None,
        schema: str | None = None,
    ) -> None:
        """The only way a table is rewritten: ``write(build_dir)`` builds the
        replacement in ``<name>.rewrite``; with ``want_rows`` the build is
        counted (read with ``schema`` if given, skipping schema inference)
        and a mismatch discards it and raises ``RowCountMismatch``; then it
        is swapped in. ``name`` is never absent without ``name.old``, so a
        crash at any point is recovered on the next lock acquisition.
        Caller must hold the warehouse lock."""
        d = self.path(name)
        build = d + ".rewrite"
        shutil.rmtree(build, ignore_errors=True)
        write(build)
        if want_rows is not None:
            reader = self.spark.read.schema(schema) if schema else self.spark.read
            got = reader.parquet(build).count()
            if got != want_rows:
                shutil.rmtree(build)
                raise RowCountMismatch(name, want_rows, got)
        old = d + ".old"
        os.rename(d, old)
        os.rename(build, d)
        shutil.rmtree(old)

    @contextlib.contextmanager
    def lock(self, timeout: float = 60.0, poll: float = 0.25):
        """Advisory exclusive lock on the warehouse dir.

        The reference locks its db dir with a ``db.lock`` file and a 60 s
        wait timeout (Directory.scala:140-170; RecordStorage.scala:40;
        unlock shutdown hook BigStorage.scala:360-372). Two overlapping
        ``update`` runs would otherwise interleave torn-write cleanup with
        each other's in-flight writes. A lock whose owner pid is dead is
        stolen (the crashed-process case the reference's shutdown hook
        can't cover).
        """
        lock_path = os.path.join(self.root, "db.lock")
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                break
            except FileExistsError:
                owner = None
                alive = False
                try:
                    with open(lock_path) as f:
                        owner = int(f.read().strip() or "0")
                    os.kill(owner, 0)
                    alive = True
                except ProcessLookupError:
                    alive = False  # owner pid is gone: stale
                except PermissionError:
                    alive = True  # owner is alive under another uid
                except (OSError, ValueError):
                    alive = False  # unreadable/corrupt lock: stale
                if not alive:
                    # steal via rename: exactly ONE contender wins the
                    # rename (the loser gets FileNotFoundError and loops),
                    # closing the read-check-unlink TOCTOU where two
                    # waiters both "remove the stale lock" and both end up
                    # holding their own fresh one
                    stale = f"{lock_path}.stale-{os.getpid()}"
                    with contextlib.suppress(FileNotFoundError):
                        os.rename(lock_path, stale)
                        os.remove(stale)
                    continue
                if time.monotonic() >= deadline:
                    raise WarehouseLockTimeout(
                        f"{lock_path} held by pid {owner} after {timeout}s"
                    ) from None
                time.sleep(poll)
        try:
            self._recover_interrupted_rebuild()
            yield self
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(lock_path)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        if not os.path.isdir(p):
            return False
        for _dirpath, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def write_small(
        self, rows: list[tuple], schema_ddl: str, name: str, filename: str | None = None
    ) -> None:
        """Append a tiny table (lineage/metrics rows) driver-side via pyarrow.

        A 2-row bookkeeping append costs ~3 s as a Spark job in local mode
        (job scheduling + committer); pyarrow writes it in milliseconds. The
        files are plain parquet parts, so ``read`` sees them like any other.

        Pass ``filename`` (e.g. the batch id) to make the write idempotent:
        a reprocessed batch overwrites its own bookkeeping file instead of
        appending a duplicate row.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        _TYPES = {
            "string": pa.string(),
            "long": pa.int64(),
            "double": pa.float64(),
            "binary": pa.binary(),
            "date": pa.date32(),
            "timestamp": pa.timestamp("us", tz="UTC"),
        }
        fields = []
        for part in schema_ddl.split(","):
            col, typ = part.strip().rsplit(" ", 1)
            fields.append(pa.field(col, _TYPES[typ]))
        schema = pa.schema(fields)
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        tbl = pa.table({f.name: pa.array(list(c), f.type) for f, c in zip(schema, cols)})
        d = self.path(name)
        os.makedirs(d, exist_ok=True)
        tag = filename if filename is not None else f"{time.time_ns():020d}"
        pq.write_table(tbl, os.path.join(d, f"part-{tag}.parquet"))

    def drop(self, name: str) -> None:
        p = self.path(name)
        if os.path.isdir(p):
            shutil.rmtree(p)

    # -- archived (read-only) batches ------------------------------------
    # One id per line in <root>/archived_batches; `archive` marks every
    # compacted batch, and _drop_batch refuses to touch marked batches
    # (the parquet-dir stand-in for the reference's readOnly header byte,
    # HeaderStorage.scala:242-275).

    def archived_batches(self) -> set[str]:
        p = os.path.join(self.root, "archived_batches")
        if not os.path.isfile(p):
            return set()
        with open(p) as f:
            return {line.strip() for line in f if line.strip()}

    def mark_archived(self, batch_ids, unmark: bool = False) -> set[str]:
        """Add (or remove) batch ids in the read-only set; atomic replace."""
        ids = self.archived_batches()
        ids = ids - set(batch_ids) if unmark else ids | set(batch_ids)
        p = os.path.join(self.root, "archived_batches")
        tmp = f"{p}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            f.write("".join(f"{i}\n" for i in sorted(ids)))
        os.replace(tmp, p)
        return ids
