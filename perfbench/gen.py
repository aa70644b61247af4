"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``--seed``; the engine only ever receives
the files written here.

``ingest_replay``
  * ``base`` — ``datagen.gen_pages`` pages in ``BATCH_FILES`` parquet files:
    the committed history the set-up ingests (one batch at CLI defaults).
  * ``replay`` — ``BATCH_FILES`` more files that sort after the base files.
    About half of their pages are byte-identical re-deliveries of base pages
    drawn from the whole 30-day window; the rest are fresh pages.
  * the ``serve`` key list — Zipf-drawn committed (table, id) pairs, about
    10 % absent ids, and zero-padded or integer forms of numeric ids.

``query_suite``
  * ``documents``, ``events`` and ``embeddings`` tables in the registry's
    schema (``queries*.py`` read them as ``<sf_dir>/<name>.parquet``), with
    planted near-duplicate documents and vectors.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BATCH_FILES = 4  # cli update --batch-files default


def _write_files(tbl: pa.Table, pages_dir: str, first: int, n_files: int) -> list[str]:
    os.makedirs(pages_dir, exist_ok=True)
    per = -(-tbl.num_rows // n_files)
    paths = []
    for f in range(n_files):
        p = os.path.join(pages_dir, f"part-{first + f:05d}.parquet")
        pq.write_table(tbl.slice(f * per, per), p, compression="zstd")
        paths.append(p)
    return paths


def write_replay_inputs(root: str, seed: int, n_base: int, n_replay: int) -> dict:
    """Write ``root/pages`` (base files only) plus the lookup dims, and keep
    the replay files in ``root/replay`` until the workload drops them into
    ``root/pages``. Returns the file lists."""
    from log_server_spark.datagen import gen_domain_lookup, gen_lang_lookup, gen_pages

    base = gen_pages(seed=seed, n=n_base)
    rng = np.random.default_rng(seed + 1)
    n_redeliver = n_replay // 2
    redeliver = base.take(pa.array(np.sort(rng.choice(base.num_rows, n_redeliver, replace=False))))
    fresh = gen_pages(seed=seed + 7919, n=n_replay - n_redeliver)
    replay = pa.concat_tables([redeliver, fresh])
    replay = replay.take(pa.array(rng.permutation(replay.num_rows)))

    pq.write_table(gen_lang_lookup(), os.path.join(root, "lang_lookup.parquet"))
    pq.write_table(gen_domain_lookup(), os.path.join(root, "domain_lookup.parquet"))
    return {
        "base": _write_files(base, os.path.join(root, "pages"), 0, BATCH_FILES),
        "replay": _write_files(replay, os.path.join(root, "replay"), BATCH_FILES, BATCH_FILES),
        "n_redelivered": n_redeliver,
    }


def serve_keys(committed: list[tuple[str, str]], seed: int, n: int) -> list[tuple[str, str | int]]:
    """Closed-loop lookup keys: Zipf(1.2) ranks over a seeded order of the
    committed (table, record_id) pairs; ~10 % ids that were never ingested;
    numeric ids sometimes sent zero-padded or as an int (RecordId.parse
    coercion)."""
    rng = np.random.default_rng(seed + 2)
    order = [committed[i] for i in rng.permutation(len(committed))]
    tables = sorted({t for t, _ in committed})
    out: list[tuple[str, str | int]] = []
    for _ in range(n):
        if rng.random() < 0.10:
            out.append((tables[int(rng.integers(len(tables)))], str(2_000_000 + int(rng.integers(10**6)))))
            continue
        rank = min(int(rng.zipf(1.2)) - 1, len(order) - 1)
        table, rid = order[rank]
        form = rng.random()
        if rid.isdigit() and form < 0.15:
            out.append((table, rid.zfill(9)))
        elif rid.isdigit() and form < 0.30:
            out.append((table, int(rid)))
        else:
            out.append((table, rid))
    return out


_WORDS = (
    "the a fast slow big small key order sort table scan merge part window hash "
    "join batch stream spark data row column filter customer line value agg query "
    "vector group"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]


def write_query_tables(sf_dir: str, seed: int, n_docs: int, n_events: int, n_vecs: int) -> None:
    """documents / events / embeddings in the registry's schemas."""
    rng = np.random.default_rng(seed + 3)
    os.makedirs(sf_dir, exist_ok=True)

    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.08:
            # near-duplicate of an earlier document: one word replaced + tag
            words = texts[int(rng.integers(i))].split()
            words[int(rng.integers(len(words)))] = _WORDS[int(rng.integers(len(_WORDS)))]
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[k] for k in rng.choice(5, n_docs, p=[0.38, 0.16, 0.16, 0.15, 0.15])]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))

    t0 = datetime(2024, 1, 1)
    secs = np.sort(rng.integers(0, 30 * 86400, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array([t0 + timedelta(seconds=int(s), microseconds=int(u)) for s, u in zip(secs, rng.integers(0, 10**6, n_events))], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 200, n_events), pa.int64()),
        "event_type": pa.array([["click", "view", "purchase", "signup", "error"][k] for k in rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.random(n_events) * 200, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    pq.write_table(events, os.path.join(sf_dir, "events.parquet"))

    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    for i in range(0, n_vecs, 10):  # every 10th vector has a near twin
        j = (i + 1) % n_vecs
        vecs[j] = vecs[i] + rng.normal(scale=0.05, size=64).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
