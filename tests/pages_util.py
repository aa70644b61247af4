"""Tiny hand-built pages tables for pipeline tests."""

import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

TS = datetime(2024, 3, 5, 12, 0, 0, tzinfo=timezone.utc)


def write_pages_unit(path: str, rows: list[tuple[str, datetime, str]]) -> None:
    """rows: (url, warc_ts, html_str)."""
    pa_rows = {
        "url": pa.array([r[0] for r in rows], pa.string()),
        "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
        "html": pa.array([r[2].encode() for r in rows], pa.binary()),
        "text": pa.array([r[2] for r in rows], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
    }
    pq.write_table(pa.table(pa_rows), path)


def pages_table(rows) -> pa.Table:
    """rows: (url, html_str), all captured at ``TS``."""
    return pa.table(
        {
            "url": pa.array([u for u, _ in rows], pa.string()),
            "warc_ts": pa.array([TS] * len(rows), pa.timestamp("us", tz="UTC")),
            "html": pa.array([h.encode() for _, h in rows], pa.binary()),
            "text": pa.array([h for _, h in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
        }
    )


def write_pages(base: str, tbl: pa.Table) -> str:
    """Write ``tbl`` as the one unit of ``<base>/pages``; returns that dir."""
    pages = os.path.join(base, "pages")
    os.makedirs(pages, exist_ok=True)
    pq.write_table(tbl, os.path.join(pages, "part-00000.parquet"))
    return pages
