"""Seeded input generators. The program under test only ever sees the
parquet files written here; every value is a pure function of the seed
and the size arguments.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPLITS = (("train", 0.8), ("tuning", 0.1), ("held_out", 0.1))
CODE_PREFIXES = ("LAB", "VITAL", "DX", "RX", "PROC")
EPOCH_2000_US = 946_684_800 * 1_000_000
YEAR_US = 365 * 86_400 * 1_000_000


def _code_names(n_codes: int) -> np.ndarray:
    return np.array(
        [f"{CODE_PREFIXES[i % len(CODE_PREFIXES)]}//{i:05d}" for i in range(n_codes)],
        dtype=object,
    )


N_CODES = 5000


def meds_tables(seed: int, n_subjects: int, rows_per_subject: float):
    """One MEDS 0.4 event table as ``{split: pyarrow.Table}``.

    - codes are Zipf(1.1) over ``N_CODES`` codes with five prefixes;
    - timed rows per subject are log-normal around ``rows_per_subject``,
      summing to exactly ``n_subjects * rows_per_subject``,
      grouped ~2.5 rows per event timestamp;
    - each subject has 2 static (null ``time``) rows and one timed
      ``MEDS_BIRTH`` row;
    - ~40% of ``numeric_value`` is null; 0.5% of values are planted
      outliers 6-10 standard deviations from their code's mean; values
      are multiples of 1/16;
    - subjects are split 80/10/10; ``time`` is tz-naive ``timestamp[us]``.
    """
    rng = np.random.default_rng(seed)
    codes = _code_names(N_CODES)
    zipf = 1.0 / np.arange(1, N_CODES + 1) ** 1.1
    zipf /= zipf.sum()
    code_mu = rng.uniform(0.0, 100.0, N_CODES)
    code_sd = rng.uniform(1.0, 10.0, N_CODES)

    sigma = 0.8
    # log-normal shares of an exact total, so every seed gives the same
    # number of rows and a run's cost does not move with the seed
    target = int(round(n_subjects * rows_per_subject))
    draw = rng.lognormal(0.0, sigma, n_subjects)
    n_rows = np.maximum(3, np.floor(draw * (target / draw.sum()))).astype(np.int64)
    short = target - int(n_rows.sum())
    if short > 0:
        n_rows[rng.choice(n_subjects, short, replace=False)] += 1
    elif short < 0:
        n_rows[np.argsort(n_rows)[short:]] -= 1
    subj = np.repeat(np.arange(n_subjects, dtype=np.int64), n_rows)
    total = int(n_rows.sum())

    # Event timestamps: a per-subject start, then ~2.5 rows per event.
    n_events = np.maximum(1, np.ceil(n_rows / 2.5)).astype(np.int64)
    start = EPOCH_2000_US + rng.integers(0, 20 * YEAR_US, n_subjects)
    ev = (rng.random(total) * np.repeat(n_events, n_rows)).astype(np.int64)
    ev_gap_us = rng.integers(3_600, 30 * 86_400, total) * 1_000_000
    # event e of a subject sits at start + e * (mean gap); jitter keeps
    # distinct events distinct and rows of one event tied
    times = np.repeat(start, n_rows) + ev * 15 * 86_400 * 1_000_000 + ev_gap_us % 1_000_000
    order = np.lexsort((times, subj))
    subj, times = subj[order], times[order]

    code_idx = rng.choice(N_CODES, size=total, p=zipf)
    vals = code_mu[code_idx] + code_sd[code_idx] * rng.standard_normal(total)
    outlier = rng.random(total) < 0.005
    vals[outlier] = code_mu[code_idx[outlier]] + code_sd[code_idx[outlier]] * rng.uniform(
        6, 10, outlier.sum()
    )
    # multiples of 1/16 below 256: sums and squares stay exact in float32
    # and float64, so replays can compare bit-for-bit
    vals = np.clip(np.rint(vals * 16) / 16, -255.0, 255.0)
    null_val = rng.random(total) < 0.4

    birth = start - rng.integers(18 * YEAR_US, 90 * YEAR_US, n_subjects)
    ids = np.arange(n_subjects, dtype=np.int64)
    sex = np.where(rng.random(n_subjects) < 0.5, "STATIC//SEX//F", "STATIC//SEX//M")
    eth = np.array([f"STATIC//ETHNICITY//{k}" for k in rng.integers(0, 6, n_subjects)], dtype=object)

    subject_id = np.concatenate([ids, ids, ids, subj])
    time = np.concatenate(
        [np.zeros(n_subjects, np.int64), np.zeros(n_subjects, np.int64), birth, times]
    )
    time_null = np.concatenate(
        [np.ones(2 * n_subjects, bool), np.zeros(n_subjects + total, bool)]
    )
    code = np.concatenate([sex.astype(object), eth, np.full(n_subjects, "MEDS_BIRTH", object), codes[code_idx]])
    value = np.concatenate([np.zeros(3 * n_subjects), vals]).astype(np.float32)
    value_null = np.concatenate([np.ones(3 * n_subjects, bool), null_val])

    # canonical MEDS order: subject, time nulls first
    order = np.lexsort((np.where(time_null, np.iinfo(np.int64).min, time), subject_id))
    table = pa.table(
        {
            "subject_id": pa.array(subject_id[order], pa.int64()),
            "time": pa.array(time[order], pa.timestamp("us"), mask=time_null[order]),
            "code": pa.array(code[order], pa.string()),
            "numeric_value": pa.array(value[order], pa.float32(), mask=value_null[order]),
        }
    )
    perm = rng.permutation(n_subjects)
    bounds = np.cumsum([0] + [int(round(f * n_subjects)) for _, f in SPLITS])
    bounds[-1] = n_subjects
    out = {}
    sid = table.column("subject_id").to_numpy()
    for (name, _), lo, hi in zip(SPLITS, bounds[:-1], bounds[1:]):
        member = np.zeros(n_subjects, bool)
        member[perm[lo:hi]] = True
        out[name] = table.filter(pa.array(member[sid]))
    return out


def write_meds(root: str, tables: dict, shards: int, layout: str = "partitioned") -> None:
    """Write ``{split: table}`` under ``root/data``.

    ``partitioned`` is the library's own ``data/split={split}/{shard}``
    layout; ``reference`` is the MEDS reference ``data/{split}/{shard}``
    layout. Subjects are sharded whole, by contiguous id range.
    """
    for split, t in tables.items():
        sub = f"split={split}" if layout == "partitioned" else split
        d = os.path.join(root, "data", sub)
        os.makedirs(d, exist_ok=True)
        n = max(1, min(shards, t.num_rows))
        sid = t.column("subject_id").to_numpy()
        edges = np.searchsorted(sid, np.quantile(sid, np.linspace(0, 1, n + 1)[1:-1]))
        for i, (lo, hi) in enumerate(zip(np.r_[0, edges], np.r_[edges, t.num_rows])):
            pq.write_table(t.slice(lo, hi - lo), os.path.join(d, f"{i}.parquet"))


#: embedding width, and the planted shares of exact document copies,
#: one-word-changed document copies and scaled embedding copies
DIM, EXACT_SHARE, NEAR_SHARE, COPY_SHARE = 32, 0.1, 0.1, 0.1


def corpus_tables(seed: int, n_docs: int, n_vecs: int):
    """Documents and embeddings with planted duplicates.

    Documents: unrelated base texts are 60 words drawn uniformly from a
    ~50k-word vocabulary of random 4-9 letter strings, so two base texts
    share almost no 5-character shingles. ``EXACT_SHARE`` of all rows are
    exact copies of a base text (case and spacing perturbed, which the
    normalizing dedups ignore); ``NEAR_SHARE`` are copies with one word
    replaced (5-shingle Jaccard ~0.95). Planted rows take ids above every
    base id, so each dedup's min-id representative is the base row.

    Embeddings: base vectors are i.i.d. Gaussian (pairwise cosine ~0);
    ``COPY_SHARE`` of rows are their source scaled by 1.01 (cosine 1).

    Returns ``(docs, vecs, truth)``; ``truth`` holds the planted id sets.
    """
    rng = np.random.default_rng(seed)
    lens = rng.integers(4, 10, 50_000)
    raw = (rng.integers(0, 26, (50_000, 9), dtype=np.uint8) + ord("a")).tobytes()
    vocab = np.unique(
        np.array([raw[9 * i : 9 * i + n].decode() for i, n in enumerate(lens)], dtype=object)
    )

    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_base = n_docs - n_exact - n_near
    words = rng.integers(0, len(vocab), (n_base, 60))
    base = [" ".join(vocab[w]) for w in words]
    src_exact = rng.integers(0, n_base, n_exact)
    exact = [
        ("  " + base[s].upper() + " ") if i % 2 else base[s].replace(" ", "  ")
        for i, s in enumerate(src_exact)
    ]
    src_near = rng.integers(0, n_base, n_near)
    near = []
    shift = rng.integers(1, len(vocab), n_near)
    for s, slot, d in zip(src_near, rng.integers(0, 60, n_near), shift):
        ws = words[s].copy()
        ws[slot] = (ws[slot] + d) % len(vocab)  # always a different word
        near.append(" ".join(vocab[ws]))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(base + exact + near, pa.string()),
        }
    )

    n_copy = int(n_vecs * COPY_SHARE)
    n_vbase = n_vecs - n_copy
    v = rng.standard_normal((n_vbase, DIM))
    v = np.vstack([v, 1.01 * v[rng.integers(0, n_vbase, n_copy)]])
    vecs = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float64())),
        }
    )
    truth = {
        "n_base_docs": n_base,
        "exact_ids": np.arange(n_base, n_base + n_exact),
        "near_ids": np.arange(n_base + n_exact, n_docs),
        "n_base_vecs": n_vbase,
        "copy_ids": np.arange(n_vbase, n_vecs),
    }
    return docs, vecs, truth
