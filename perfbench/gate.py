"""Correctness gate: the program's outputs against the generator's
independent ``expected`` table. Pure Python over Arrow tables, so it runs
outside every timed window and tests need no Spark."""

from __future__ import annotations

import zlib

import pyarrow as pa


def check_extracted(got: pa.Table, expected: pa.Table) -> dict:
    """Per-url ``format``, ``text_out`` bytes and ``checksum`` must equal the
    expected row. Every expected url is one attempted doc; a missing,
    duplicated, extra or differing url is one failed doc."""
    want = {
        u: (f, t, c)
        for u, f, t, c in zip(
            expected["url"].to_pylist(),
            expected["format"].to_pylist(),
            expected["text_expected"].to_pylist(),
            expected["checksum"].to_pylist(),
        )
    }
    seen: dict[str, int] = {}
    bad: set[str] = set()
    extra = 0
    for u, f, t, c in zip(
        got["url"].to_pylist(),
        got["format"].to_pylist(),
        got["text_out"].to_pylist(),
        got["checksum"].to_pylist(),
    ):
        seen[u] = seen.get(u, 0) + 1
        if u not in want:
            extra += 1
        elif seen[u] > 1 or (f, t, c) != want[u]:
            bad.add(u)
    missing = [u for u in want if u not in seen]
    failed = len(bad) + len(missing) + extra
    reasons = []
    if bad:
        reasons.append(f"{len(bad)} urls differ, e.g. {sorted(bad)[0]}")
    if missing:
        reasons.append(f"{len(missing)} urls missing, e.g. {missing[0]}")
    if extra:
        reasons.append(f"{extra} unexpected rows")
    return {"attempted": len(want), "failed": min(failed, len(want)), "reasons": reasons}


def check_commit(
    record: dict,
    committed: pa.Table,
    lineage_checksums: list[int],
    scored_rows: int,
    n_base: int,
    delta_expected: pa.Table,
) -> dict:
    """The incremental run's commit: ``n_docs`` equals the delta size, the
    committed delta rows are byte-identical, Σ lineage checksum mod 2^32
    equals Σ crc32 of the expected text, and the scored table holds base +
    delta rows. A commit-level mismatch fails every delta doc."""
    out = check_extracted(committed, delta_expected)
    n = delta_expected.num_rows
    want_sum = sum(zlib.crc32(t) for t in delta_expected["text_expected"].to_pylist())
    whole = []
    if record.get("n_docs") != n:
        whole.append(f"commit n_docs {record.get('n_docs')} != delta {n}")
    if sum(lineage_checksums) % 2**32 != want_sum % 2**32:
        whole.append("lineage checksum sum differs from expected crc32 sum")
    if scored_rows != n_base + n:
        whole.append(f"scored rows {scored_rows} != base+delta {n_base + n}")
    if whole:
        out = {"attempted": n, "failed": n, "reasons": out["reasons"] + whole}
    return out
