"""Seeded input generators for the benchmark.

The program under test only reads what these functions write. Every
random draw comes from ``numpy.random.default_rng`` keyed by the seed
(and a fixed per-table salt), so the same seed writes byte-identical
parquet and a different seed moves every token, key and planted row.

Sequences mirror ``teleharvest_spark.datagen``'s distribution: ~50 % of
rows in the hot source ``src_00``, ``src_07`` drifted (n_tok x2, half
the vocabulary), n_tok = 16 + u1*u2*4000 (~1k tokens per row on
average), and each planted violation class at datagen's ~0.1 % rate.
Documents are word-salad texts with exact duplicates, near duplicates
and repetitive (quality-failing) docs, so every prep stage has work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MIN_N_TOK = 16  # CheckSuite().min_n_tok
MAX_N_TOK = 8192  # CheckSuite().max_n_tok
SOURCES = [f"src_{i:02d}" for i in range(8)]
DRIFTED_SOURCE = "src_07"
NEW_SOURCE = "src_08"  # the partition a resume_delta job picks up

# Planted classes and their per-row rates (datagen's modulo slots).
# Each class gets exactly round(rate x rows) rows, as datagen's slots
# do, so seeds move which rows are planted but not how many. Source
# shares and the multiset of lengths are fixed the same way: the seed
# changes which row gets what, and every token value and key.
_PLANTED = {
    "dup": 1 / 1000,
    "null_tokens": 1 / 1009,
    "empty_tokens": 1 / 1013,
    "too_short": 1 / 977,
    "too_long": 1 / 1021,
    "inconsistent": 1 / 997,
    "null_source": 1 / 1031,
    "empty_source": 1 / 1033,
    "rogue_source": 1 / 211,
    "banned": 1 / 503,
    "boundary_min": 1 / 1049,
    "boundary_under": 1 / 1051,
}

SEQ_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


def _exactly(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    """Boolean mask with exactly ``k`` of ``n`` rows set."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, min(k, n), replace=False)] = True
    return mask


def _base_lengths(n_rows: int) -> np.ndarray:
    """datagen's length law, n_tok = 16 + u1*u2*4000, as one fixed
    multiset per table size: seeds only permute it, so every seed
    decodes the same number of tokens."""
    u = np.random.default_rng([n_rows, 0x1E9]).integers(0, 1000, (2, n_rows)) / 1000.0
    return MIN_N_TOK + (u[0] * u[1] * 4000).astype(np.int64)


def sequences_table(
    seed: int,
    n_rows: int,
    first_id: int = 0,
    source: str | None = None,
    dup_pool: np.ndarray | None = None,
    dup_frac: float = 0.0,
) -> pa.Table:
    """One seeded sequences table.

    ``source`` pins every row to one partition value; otherwise the
    datagen source mix applies, with planted null/empty/rogue sources.
    ``dup_frac`` of the rows reuse a doc_id drawn from ``dup_pool``
    (keys of an already-validated table) to plant cross-partition
    duplicates.
    """
    rng = np.random.default_rng([seed, first_id, 0x5E0])
    ids = np.arange(first_id, first_id + n_rows)
    planted = {k: _exactly(rng, n_rows, round(p * n_rows)) for k, p in _PLANTED.items()}

    if source is None:
        pick = rng.permutation(np.arange(n_rows) % 16)
        src = np.where(
            pick < 8, SOURCES[0], np.array(SOURCES)[1 + pick % 7]
        ).astype(object)
        src[planted["rogue_source"]] = "src_rogue"
        src[planted["empty_source"]] = ""
        src[planted["null_source"]] = None
    else:
        src = np.full(n_rows, source, dtype=object)
    drifted = src == DRIFTED_SOURCE

    n_tok = rng.permutation(_base_lengths(n_rows))
    n_tok = np.where(drifted, n_tok * 2, n_tok)
    n_tok[planted["too_long"]] = MAX_N_TOK + 123
    n_tok[planted["boundary_under"]] = MIN_N_TOK - 1
    n_tok[planted["boundary_min"]] = MIN_N_TOK
    n_tok[planted["too_short"]] = max(1, MIN_N_TOK // 3)
    n_tok[planted["empty_tokens"]] = 0
    n_tok[planted["null_tokens"]] = 0

    banned = planted["banned"] & ~planted["null_tokens"]  # a NULL list holds nothing
    lengths = n_tok + banned
    offsets = np.zeros(n_rows + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    values = rng.integers(0, 49_000, int(offsets[-1]), dtype=np.int32)
    row_of = np.repeat(np.arange(n_rows), lengths)
    values = np.where(drifted[row_of], values % 24_500, values).astype(np.int32)
    banned_rows = np.flatnonzero(banned)
    values[offsets[banned_rows + 1] - 1] = 50_000
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values, pa.int32()),
        mask=pa.array(planted["null_tokens"]),
    )

    stored_n = lengths.astype(np.int64)
    stored_n[planted["inconsistent"]] += 1
    n_tok_col = pa.array(stored_n, pa.int32(), mask=planted["null_tokens"])

    doc_ids = np.array([f"doc_{i}" for i in ids], dtype=object)
    dup_rows = np.flatnonzero(planted["dup"][1:]) + 1
    doc_ids[dup_rows] = doc_ids[dup_rows - 1]
    if dup_pool is not None and dup_frac > 0:
        cross = np.flatnonzero(_exactly(rng, n_rows, round(dup_frac * n_rows)))
        doc_ids[cross] = rng.choice(dup_pool, len(cross), replace=False)

    return pa.Table.from_arrays(
        [pa.array(doc_ids, pa.string()), tokens, n_tok_col,
         pa.array(src, pa.string())],
        schema=SEQ_SCHEMA,
    )


def write_parts(table: pa.Table, out_dir: str, n_files: int, prefix: str) -> None:
    """Split ``table`` into ``n_files`` parquet files (Spark input splits)."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(out_dir, f"{prefix}-{i:03d}.parquet"),
        )


def write_validate_input(seed: int, n_rows: int, out_dir: str, n_files: int) -> None:
    write_parts(sequences_table(seed, n_rows), out_dir, n_files, "part")


def write_resume_input(
    seed: int, n_rows: int, new_frac: float, out_dir: str, n_files: int
) -> None:
    """``base/``: the table set-up validates. ``delta/``: the same files
    plus one new partition (``NEW_SOURCE``) of ``new_frac`` x rows, 2 %
    of whose keys duplicate base keys."""
    base = sequences_table(seed, n_rows)
    new = sequences_table(
        seed, max(1, int(n_rows * new_frac)), first_id=n_rows,
        source=NEW_SOURCE,
        dup_pool=base.column("doc_id").to_numpy(zero_copy_only=False),
        dup_frac=0.02,
    )
    base_dir, delta_dir = os.path.join(out_dir, "base"), os.path.join(out_dir, "delta")
    write_parts(base, base_dir, n_files, "part")
    os.makedirs(delta_dir, exist_ok=True)
    for name in sorted(os.listdir(base_dir)):
        os.link(os.path.join(base_dir, name), os.path.join(delta_dir, name))
    write_parts(new, delta_dir, 1, "new")


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """Seeded documents (doc_id, text, lang, source, n_chars).

    Vocabulary and word draws are seed-keyed; ~8 % of docs are exact
    copies and ~12 % near copies (5 % of words swapped) of an earlier
    doc, ~6 % repeat one short phrase (they fail the repetition gate).
    """
    rng = np.random.default_rng([seed, 0xD0C])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(
        ["".join(rng.choice(letters, rng.integers(2, 9))) for _ in range(3000)]
    )
    zipf = 1.0 / np.arange(1, len(vocab) + 1)
    zipf /= zipf.sum()
    kinds = rng.choice(4, n_docs, p=[0.74, 0.08, 0.12, 0.06])
    words_of: list[np.ndarray] = []
    texts: list[str] = []
    for i in range(n_docs):
        kind = kinds[i] if i > 0 else 0
        if kind == 1:  # exact copy
            w = words_of[rng.integers(0, i)]
        elif kind == 2:  # near copy
            w = words_of[rng.integers(0, i)].copy()
            swap = rng.random(len(w)) < 0.05
            w[swap] = rng.choice(vocab, int(swap.sum()), p=zipf)
        elif kind == 3:  # repetitive phrase
            w = np.tile(rng.choice(vocab, 3, p=zipf), int(rng.integers(8, 20)))
        else:
            w = rng.choice(vocab, int(rng.integers(20, 200)), p=zipf)
        words_of.append(w)
        texts.append(" ".join(w))
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n_docs)]
    srcs = np.array([f"src{i}" for i in range(8)])[rng.integers(0, 8, n_docs)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(srcs, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(seed: int, n_docs: int, out_dir: str, n_files: int) -> None:
    write_parts(documents_table(seed, n_docs), out_dir, n_files, "part")
