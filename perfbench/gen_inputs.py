"""Seeded inputs for the benchmark, made from the engine's own documents.

The base table is ``perfbench/data/documents.parquet``, a byte-for-byte
copy of the engine's sf0.001 ``documents.parquet`` test table (500
documents over a 31-word vocabulary, five languages, twenty sources;
see TESTDATA.md and FIXTURES.md). That table holds no duplicates: its
500 texts are distinct. The seed re-draws it:

* a seeded share of the rows is replaced by near-duplicate copies of
  other rows. A copy keeps its original's ``source`` and ``lang``, so it
  lands in its original's (source, lang) block, which is where the
  blocked near-dup operators compare documents;
* the rows are put in a seeded order and given dense new ``doc_id``s
  0..n-1 (several oracles slice on ``doc_id % k``); ``n_chars`` is
  recomputed.

Stream shards (for the workloads with a stream) are edited copies of
seeded base rows under fresh ids ``n + k * per_shard``; shard ``k`` depends
only on the seed and ``k``, so a run can land as many as it has passes.

The parameters below are choices of this benchmark, not measurements of
a real corpus: the base table's own near-duplicate share is 0. The share
range is narrow so that the work of a pass moves little from seed to
seed; ``generate`` reports the in-block pair counts it yields.
"""

from __future__ import annotations

import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")

# Described in perfbench/workloads.json ("generator"); change both together.
PARAMS = {
    "near_dup_share": (0.15, 0.25),
    "exact_copy_share_of_dups": 0.3,
    "edit_share_per_copy": 0.1,
    "stream_docs_per_shard": 40,
}


def _base() -> list[dict]:
    return pq.read_table(BASE).to_pylist()


def _edit(rng: random.Random, text: str, vocab: list[str]) -> str:
    """A near-duplicate of ``text``: an exact copy with probability
    ``exact_copy_share_of_dups``, else one with a tenth of its words
    replaced by words of the base table's vocabulary."""
    words = text.split()
    if rng.random() >= PARAMS["exact_copy_share_of_dups"]:
        for _ in range(max(1, int(len(words) * PARAMS["edit_share_per_copy"]))):
            words[rng.randrange(len(words))] = rng.choice(vocab)
    return " ".join(words)


def _vocab(rows: list[dict]) -> list[str]:
    return sorted({w for r in rows for w in r["text"].split()})


def _write(path: str, rows: list[dict], columns: tuple[str, ...]) -> int:
    table = pa.table(
        {c: pa.array([r[c] for r in rows], pa.int64() if c in ("doc_id", "n_chars") else pa.string())
         for c in columns}
    )
    pq.write_table(table, path)
    return os.path.getsize(path)


def _pair_counts(rows: list[dict], family: list[int]) -> tuple[int, int]:
    """(pairs inside (source, lang) blocks, of which pairs of one family:
    an original and its copies)."""
    blocks = Counter((r["source"], r["lang"]) for r in rows)
    fams = Counter((r["source"], r["lang"], f) for r, f in zip(rows, family))
    pairs = sum(b * (b - 1) // 2 for b in blocks.values())
    dup_pairs = sum(f * (f - 1) // 2 for f in fams.values())
    return pairs, dup_pairs


def generate(out_dir: str, seed: int) -> dict:
    """Write ``documents.parquet`` under ``out_dir``. Returns the drawn
    near-dup share, the number of copies, the in-block pair counts and
    the file bytes of the documents."""
    rng = random.Random(seed)
    base = _base()
    vocab = _vocab(base)
    n = len(base)
    lo, hi = PARAMS["near_dup_share"]
    share = lo + (hi - lo) * rng.random()
    n_copies = round(share * n)
    # the rows to overwrite, and the originals they copy, are disjoint
    picked = rng.sample(range(n), 2 * n_copies)
    victims, originals = picked[:n_copies], picked[n_copies:]
    rows = [dict(r) for r in base]
    family = list(range(n))
    for v in victims:
        o = rng.choice(originals)
        rows[v] = dict(base[o], text=_edit(rng, base[o]["text"], vocab))
        family[v] = o
    order = list(range(n))
    rng.shuffle(order)
    rows = [dict(rows[i], doc_id=new_id) for new_id, i in enumerate(order)]
    family = [family[i] for i in order]
    for r in rows:
        r["n_chars"] = len(r["text"])
    os.makedirs(out_dir, exist_ok=True)
    size = _write(
        os.path.join(out_dir, "documents.parquet"),
        rows,
        ("doc_id", "text", "lang", "source", "n_chars"),
    )
    pairs, dup_pairs = _pair_counts(rows, family)
    return {
        "near_dup_share": share,
        "copies": n_copies,
        "block_pairs": pairs,
        "block_dup_pairs": dup_pairs,
        "input_bytes": size,
        "n_docs": n,
    }


def write_shard(shard_dir: str, seed: int, k: int, n_docs: int) -> int:
    """Write stream shard ``k`` (edited copies of seeded base rows under
    fresh ids) into ``shard_dir``; returns its file bytes."""
    rng = random.Random(f"{seed}/shard/{k}")
    base = _base()
    vocab = _vocab(base)
    per = PARAMS["stream_docs_per_shard"]
    rows = [
        {"doc_id": n_docs + k * per + i, "text": _edit(rng, rng.choice(base)["text"], vocab)}
        for i in range(per)
    ]
    os.makedirs(shard_dir, exist_ok=True)
    # write beside the directory, then rename into it, so the streaming
    # source never lists a partial file
    tmp = f"{shard_dir}.shard-{k:04d}.tmp"
    size = _write(tmp, rows, ("doc_id", "text"))
    os.rename(tmp, os.path.join(shard_dir, f"shard-{k:04d}.parquet"))
    return size
