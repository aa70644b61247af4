"""Independent output checks. None of this runs inside a timed phase or
inside ``setup_s``.

* ingest counters — recounted from ``parse_ref.parse_page`` (the
  pure-Python reference parser) over the generated page files;
* per-sink metrics and ``info`` — recounted from the ``records`` files with
  pyarrow;
* each ``get`` — a pyarrow filter of the ``records`` files;
* each query — its DuckDB ``oracle_sql()``, compared order-insensitively.

Every check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import re

import pyarrow.compute as pc
import pyarrow.parquet as pq

_INT = re.compile(r"[+-]?\d+")


def canonical_id(token) -> str:
    """RecordId.parse: a token that parses as an int32 is that int."""
    t = str(token)
    if _INT.fullmatch(t) and -(1 << 31) <= int(t) < (1 << 31):
        return str(int(t))
    return t


def parse_files(paths: list[str]) -> tuple[set, set, int]:
    """(ok keys, error rows, ok row count) of a batch, by the reference
    parser. An ok key is the record's full content identity (table, id,
    ts, text) — finer than the engine's 32-bit content hash."""
    from log_server_spark.parse_ref import OK, parse_page

    ok: set = set()
    errors: set = set()
    n_ok = 0
    for p in paths:
        t = pq.read_table(p, columns=["url", "warc_ts", "lang", "html"]).to_pydict()
        for url, ts, lang, html in zip(t["url"], t["warc_ts"], t["lang"], t["html"]):
            for r in parse_page(html):
                if r.status == OK:
                    n_ok += 1
                    ok.add((r.table, r.record_id or "", r.ts_millis, r.text))
                else:
                    errors.add((url, ts, lang, r.seq, r.status, r.table, r.record_id, r.ts_millis, r.text))
    return ok, errors, n_ok


def expected_batch(paths: list[str], committed: set) -> tuple[dict, set]:
    """Expected BatchResult counters for ``paths`` ingested on top of the
    ``committed`` ok keys, and the committed key set afterwards."""
    ok, errors, n_ok = parse_files(paths)
    added = ok - committed
    want = {"added": len(added), "duplicates": n_ok - len(added), "errors": len(errors)}
    return want, committed | ok


def check_batch(result, want: dict) -> list[str]:
    got = {"added": result.added, "duplicates": result.duplicates, "errors": result.errors}
    return [] if got == want else [f"{result.batch}: counters {got} != reference parser {want}"]


def read_records(records_dir: str):
    return pq.read_table(
        records_dir,
        columns=["table", "record_id", "record_hash", "ts_millis", "text", "url", "sink", "day", "status", "n_bytes"],
    )


def expected_get(records, table: str, record_id) -> list[tuple]:
    rid = canonical_id(record_id)
    hit = records.filter(pc.and_(pc.equal(records["table"], table), pc.equal(records["record_id"], rid)))
    cols = hit.select(["table", "record_id", "ts_millis", "text", "url"]).to_pydict()
    return sorted(zip(*cols.values()))


def check_get(rows: list, want: list[tuple]) -> list[str]:
    got = [(r["table"], r["record_id"], r["ts_millis"], r["text"], r["url"]) for r in rows]
    ts = [g[2] for g in got]
    if ts != sorted(ts):
        return ["get rows are not timestamp-ascending"]
    return [] if sorted(got) == want else [f"get returned {len(got)} rows, expected {len(want)}"]


def expected_info(records) -> dict:
    d = records.select(["sink", "day", "table", "record_id", "record_hash", "ts_millis"]).to_pydict()
    acc: dict = {}
    for sink, day, t, rid, h, ts in zip(*d.values()):
        a = acc.setdefault((str(sink), str(day)), [0, set(), None, None])
        a[0] += 1
        if None not in (t, rid, h):  # SQL count(DISTINCT ...) skips null keys
            a[1].add((t, rid, h))
        a[2] = ts if a[2] is None or (ts is not None and ts < a[2]) else a[2]
        a[3] = ts if a[3] is None or (ts is not None and ts > a[3]) else a[3]
    return {k: (n, len(h), lo, hi) for k, (n, h, lo, hi) in acc.items()}


def check_info(rows: list, want: dict) -> list[str]:
    got = {
        (r["sink"], str(r["day"])): (r["records"], r["hashes"], r["min_ts"], r["max_ts"])
        for r in rows
    }
    if got == want:
        return []
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return [f"info differs on {len(bad)} segments, e.g. {bad[:2]}"]


def check_sink_stats(stats_dir: str, records) -> list[str]:
    """metrics_sink_stats vs an exact recount of ``records`` (the HLL url
    estimate is approximate and not compared)."""
    got = {
        r["sink"]: (r["n_rows"], r["n_keys"], r["min_ts"], r["max_ts"], r["total_bytes"])
        for r in pq.read_table(stats_dir).to_pylist()
    }
    d = records.select(["sink", "status", "ts_millis", "n_bytes"]).to_pydict()
    acc: dict = {}
    for sink, status, ts, nb in zip(*d.values()):
        a = acc.setdefault(str(sink), [0, 0, None, None, 0])
        a[0] += 1
        a[1] += status == "ok"
        if ts is not None:
            a[2] = ts if a[2] is None else min(a[2], ts)
            a[3] = ts if a[3] is None else max(a[3], ts)
        a[4] += nb or 0
    want = {k: tuple(v) for k, v in acc.items()}
    if got == want:
        return []
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return [f"metrics_sink_stats differs from a recount on sinks {bad}"]


def _normalize(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(4)
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_connection(sf_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_query(name: str, got_pdf, con, sql: str) -> list[str]:
    import pandas as pd

    s = _normalize(got_pdf)
    d = _normalize(con.sql(sql).df())
    if list(s.columns) != list(d.columns):
        return [f"{name}: columns {list(s.columns)} != oracle {list(d.columns)}"]
    if len(s) != len(d):
        return [f"{name}: {len(s)} rows != oracle {len(d)}"]
    try:
        pd.testing.assert_frame_equal(s, d, check_dtype=False, atol=1e-4, rtol=0)
    except AssertionError as e:
        return [f"{name}: values differ from oracle ({str(e).splitlines()[0]})"]
    return []
