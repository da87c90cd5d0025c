"""Seeded benchmark inputs, written as parquet tables the program reads.

Every table is generated from ``--seed`` with the repository's own corpus
generator (``corpus.gen_rows``, the rows ``corpus.write_corpus`` writes).

The doc MIX is pinned to the generator's own kind probabilities
(``STRATA``): rows are kept in generator order until each stratum's quota
is full. Without that, a 1,600-doc corpus swings ~15% in bytes from seed
to seed, because the 2% oversized html pages carry ~86% of the payload
bytes and their count is binomial. The seed still decides every byte of
every document; only the count per stratum is fixed.

Generation runs in ``GEN_PROCS`` spawned processes, one generator chunk
each (chunk k uses seed ``seed * 1000 + k``); urls carry the chunk so
they stay unique.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time
import zlib
from datetime import timedelta

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Kind probabilities of corpus.gen_rows (v21), merged to what a reader of
# its output can tell apart: expected format, plus the oversized html
# pages (> BIG_HTML_BYTES).
STRATA = {
    "unknown": 0.03,
    "html_big": 0.02,
    "html": 0.60,
    "pdf": 0.13,
    "text": 0.05,
    "csv": 0.03,
    "zip": 0.10,
    "pbm": 0.012,
    "image": 0.028,
}
BIG_HTML_BYTES = 100_000
POOL_FACTOR = 1.5  # rows generated per row kept, per round
GEN_PROCS = 4

# Rows per parquet row group. Spark splits a parquet scan only at row-group
# boundaries; 80 rows gives a 1,600-doc table 20 row groups, as many as
# write_corpus (1,000-row groups) gives the 20k-doc corpus, so the split
# plan can balance bytes across 4 cores.
ROW_GROUP = 80
DELTA_DAY_SHIFT = timedelta(days=7)  # delta lands on days the base never sealed


def quotas(n: int) -> dict[str, int]:
    """Per-stratum row counts for an ``n``-row corpus (largest remainder)."""
    raw = {k: n * p for k, p in STRATA.items()}
    out = {k: int(v) for k, v in raw.items()}
    rest = sorted(raw, key=lambda k: (out[k] - raw[k], k))
    for k in rest[: n - sum(out.values())]:
        out[k] += 1
    return out


def stratum(fmt: str, payload: bytes | None) -> str:
    if fmt == "html" and payload is not None and len(payload) > BIG_HTML_BYTES:
        return "html_big"
    return fmt


def _gen_chunk(args: tuple[int, int, int]) -> list[tuple]:
    """One generator chunk as plain tuples (picklable across processes)."""
    from multi_format_document_extractor_spark import corpus

    n, seed, k = args
    out = []
    for r in corpus.gen_rows(n, seed * 1000 + k):
        host, path = r.url.rsplit("/", 1)
        out.append(
            (f"{host}/c{k}{path}", r.warc_ts, r.html, r.text, r.lang,
             r.format, r.text_expected, r.n_blocks)
        )
    return out


def gen_stratified(n: int, seed: int) -> list[tuple]:
    """``n`` generator rows in generator order, with the pinned mix."""
    want = quotas(n)
    have = dict.fromkeys(want, 0)
    kept: list[tuple] = []
    chunk = -(-int(n * POOL_FACTOR) // GEN_PROCS)
    ctx = mp.get_context("spawn")
    k0 = 0
    with ctx.Pool(GEN_PROCS) as pool:
        while len(kept) < n:
            jobs = [(chunk, seed, k0 + i) for i in range(GEN_PROCS)]
            for rows in pool.map(_gen_chunk, jobs):
                for row in rows:
                    s = stratum(row[5], row[2])
                    if have[s] < want[s]:
                        have[s] += 1
                        kept.append(row)
            k0 += GEN_PROCS
        pool.close()
        pool.join()
    stop_resource_tracker()
    return kept


def stop_resource_tracker() -> None:
    """End the resource-tracker process a spawn-context pool starts. It
    ignores SIGTERM and would otherwise outlive this process until the
    interpreter exits, so stop it now (closing its pipe) and wait for it."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()


def _tables(rows: list[tuple]) -> tuple[pa.Table, pa.Table]:
    from multi_format_document_extractor_spark.corpus import (
        EXPECTED_SCHEMA,
        PAGES_SCHEMA,
    )

    cols = list(zip(*rows))
    pages = pa.Table.from_arrays(
        [pa.array(cols[i], type=PAGES_SCHEMA.field(i).type) for i in range(5)],
        schema=PAGES_SCHEMA,
    )
    expected = pa.Table.from_pydict(
        {
            "url": list(cols[0]),
            "format": list(cols[5]),
            "text_expected": list(cols[6]),
            "n_blocks": list(cols[7]),
            "checksum": [zlib.crc32(t) for t in cols[6]],
        },
        schema=EXPECTED_SCHEMA,
    )
    return pages, expected


def _write_clustered(pages: pa.Table, out_dir: str, n_files: int = 4) -> None:
    """The format-clustered layout (as scripts/layout_bench.py builds it):
    rows sorted by (sniffed format, url), in ``n_files`` single-row-group
    files, so every scan split is a solid run of one or two formats.
    ``oracle.sniff_format`` is the byte-for-byte mirror of the native
    ``sources.pages.format_col`` sniff."""
    from multi_format_document_extractor_spark.oracle import sniff_format

    fmt = pa.array([sniff_format(p) for p in pages["html"].to_pylist()])
    order = pc.sort_indices(
        pa.table({"f": fmt, "u": pages["url"]}),
        sort_keys=[("f", "ascending"), ("u", "ascending")],
    )
    srt = pages.take(order)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-srt.num_rows // n_files)
    for i in range(n_files):
        part = srt.slice(i * step, step)
        pq.write_table(
            part,
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
            row_group_size=max(1, part.num_rows),
        )


def build(workload: str, seed: int, n_docs: int, n_delta: int, out_dir: str) -> dict:
    """Write the workload's input tables under ``out_dir`` (once per seed:
    a finished ``out_dir`` is reused). Returns their paths and the time the
    generation took when it ran."""
    done = os.path.join(out_dir, "_DONE")
    paths = {
        "pages": os.path.join(out_dir, "pages.parquet"),
        "expected": os.path.join(out_dir, "expected.parquet"),
        "clustered": os.path.join(out_dir, "clustered"),
        "base": os.path.join(out_dir, "base.parquet"),
        "snapshot": os.path.join(out_dir, "snapshot.parquet"),
        "delta_expected": os.path.join(out_dir, "delta_expected.parquet"),
    }
    if os.path.exists(done):
        with open(done) as f:
            return {**paths, "gen_s": float(f.read())}
    t0 = time.perf_counter()
    os.makedirs(out_dir, exist_ok=True)
    rows = gen_stratified(n_docs + n_delta, seed)
    pages, expected = _tables(rows)
    pq.write_table(pages, paths["pages"], row_group_size=ROW_GROUP)
    pq.write_table(expected, paths["expected"])
    if workload == "crawl_clustered":
        _write_clustered(pages, paths["clustered"])
    if workload == "pipeline_incremental":
        base = pages.slice(0, n_docs)
        delta = pages.slice(n_docs)
        ts = pc.add(delta["warc_ts"], pa.scalar(DELTA_DAY_SHIFT, pa.duration("us")))
        delta = delta.set_column(1, "warc_ts", ts.cast(pages.schema.field(1).type))
        pq.write_table(base, paths["base"], row_group_size=ROW_GROUP)
        pq.write_table(
            pa.concat_tables([base, delta]), paths["snapshot"], row_group_size=ROW_GROUP
        )
        pq.write_table(expected.slice(n_docs), paths["delta_expected"])
    gen_s = time.perf_counter() - t0
    with open(done, "w") as f:
        f.write(repr(gen_s))
    return {**paths, "gen_s": gen_s}
