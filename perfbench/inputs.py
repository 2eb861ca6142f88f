"""Seeded benchmark inputs: corpora, query draws and delete sets.

Everything here is a pure function of the workload seed. Corpora are made
by the engine's own generator (``corpus.synth_transcripts``) and cached on
disk, keyed by (seed, turns, source digest), so generating them never
counts towards a measured figure, and a change to the generator is never
measured on a stale corpus.
"""

from __future__ import annotations

import json
import random
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

# Zipf bands of the generator's vocabulary (rank ranges, end exclusive).
# The head of ``corpus.vocabulary()`` holds the stopword-hot terms.
HOT = (0, 40)
MID = (40, 440)
RARE = (500, 4500)


def rng_for(seed: int, stream: str) -> random.Random:
    """An independent, reproducible random stream per (seed, purpose)."""
    return random.Random(f"{seed}/{stream}")


def draw_queries(rng: random.Random, vocab, n: int) -> list[str]:
    """n queries of 2-3 terms: one hot, one mid and, two times in three,
    one rare term."""
    out = []
    for _ in range(n):
        terms = [vocab[rng.randrange(*HOT)], vocab[rng.randrange(*MID)]]
        if rng.random() < 2 / 3:
            terms.append(vocab[rng.randrange(*RARE)])
        out.append(" ".join(terms))
    return out


def corpus_seed(seed: int) -> int:
    # synth_transcripts mixes the seed in as a uint64
    return seed % (1 << 63)


def _write_atomically(path: Path, write) -> dict:
    """Run ``write(tmp_dir) -> meta`` once and publish the directory under
    ``path``; later calls only read the stored meta."""
    meta_file = path / "meta.json"
    if meta_file.exists():
        return json.loads(meta_file.read_text())
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    meta = write(tmp)
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(path, ignore_errors=True)
    tmp.rename(path)
    return meta


class _KernelCapture:
    """Stands in for the SparkSession that ``synth_transcripts`` expects and
    hands back the generator's own pandas kernel instead of a DataFrame."""

    def range(self, start, end, step, parts):
        return self

    def mapInPandas(self, kernel, schema):
        return kernel


def generate_docs(seed: int, turns: int) -> pd.DataFrame:
    """The seeded corpus as (doc_id, text), with dense doc ids in
    (conv_id, turn_idx) order, the order ``docids.with_doc_ids(..., "dense")``
    assigns.

    Runs the engine's generator kernel (``corpus.synth_transcripts``) in
    this process, without Spark: every value it makes is a pure function of
    the global turn id, so one batch gives the rows Spark would. Keeping
    Spark out matters: generating in the measured JVM would warm it, and
    the first run of a seed would then set up faster than later ones."""
    from news_information_retrieval_system_spark.corpus import synth_transcripts

    kernel = synth_transcripts(_KernelCapture(), turns, seed=corpus_seed(seed), partitions=1)
    ids = pd.DataFrame({"id": np.arange(turns, dtype=np.int64)})
    docs = pd.concat(list(kernel(iter([ids]))), ignore_index=True)
    docs = docs.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    docs["doc_id"] = np.arange(len(docs), dtype=np.int64)
    return docs[["doc_id", "text"]]


def ensure_corpus(
    cache: Path, seed: int, turns: int, digest: str, n_files: int = 8
) -> tuple[Path, dict]:
    """The seeded corpus as doc_id-clustered parquet (doc_id, text): the
    engine's ingest layout, one contiguous doc range per file. ``digest``
    names the program that made it. Returns (parquet dir, meta) where meta
    holds the total UTF-8 text bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = cache / f"corpus-s{seed}-n{turns}-{digest}"

    def write(tmp: Path) -> dict:
        docs = generate_docs(seed, turns)
        data = tmp / "data"
        data.mkdir(parents=True)
        bounds = np.linspace(0, len(docs), n_files + 1).astype(int)
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            table = pa.Table.from_pandas(docs.iloc[lo:hi], preserve_index=False)
            pq.write_table(table, data / f"part-{i:05d}.parquet")
        text_bytes = int(docs["text"].map(lambda t: len(t.encode())).sum())
        return {"turns": len(docs), "text_bytes": text_bytes}

    meta = _write_atomically(path, write)
    return path / "data", meta


def pick_deletes(rng: random.Random, top_doc_ids: list[int], n: int) -> list[int]:
    """A seeded handful of doc ids out of a prior top-k."""
    pool = sorted(set(top_doc_ids))
    return sorted(rng.sample(pool, min(n, len(pool))))
