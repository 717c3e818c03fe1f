"""Seeded benchmark inputs, all derived from ``sparkbm25.fixtures`` under
the run's seed: transcript corpora with conv_seq doc ids, the query set,
marker turns for visibility probes, and planted near-duplicate turns with
their exact Jaccard ground truth."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from sparkbm25.analysis import tokenize_py
from sparkbm25.corpus import TURN_BITS
from sparkbm25.fixtures import VOCAB_SIZE, make_queries, make_transcripts_pdf, vocab
from sparkbm25.pipeline.dedup import NGRAM

# a token no fixture text contains: the maintain workload appends it to a
# few new turns and queries it to see when an append or a delete shows
MARKER = "zzmarker"


def transcripts(n_convs: int, seed: int) -> pd.DataFrame:
    """(doc_id, text) of conversations [0, n_convs), with
    doc_id = conv_seq << TURN_BITS | turn_idx (the conv_seq scheme)."""
    pdf = make_transcripts_pdf(n_convs, seed=seed)
    conv = pdf["conv_id"].str[5:].astype("int64")
    doc_id = conv * (1 << TURN_BITS) + pdf["turn_idx"]
    return pd.DataFrame({"doc_id": doc_id.to_numpy(np.int64),
                         "text": pdf["text"].to_numpy()})


def first_doc_id(conv: int) -> int:
    return conv << TURN_BITS


def queries(n: int, seed: int) -> list[str]:
    """Query texts from the fixture mix (head, mid, rare, absent and
    duplicate terms)."""
    return [q for _, q in make_queries(n, seed=seed)]


def shingles(text: str) -> set[str]:
    """The dedup layer's shingle set: distinct space-joined token n-grams."""
    t = tokenize_py(text)
    return {" ".join(t[i:i + NGRAM]) for i in range(len(t) - NGRAM + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def add_markers(df: pd.DataFrame, n: int, seed: int,
                avoid: set[int]) -> tuple[pd.DataFrame, list[int]]:
    """Append MARKER to `n` seeded turns whose ids are not in `avoid`;
    returns (df, their doc ids)."""
    rng = np.random.default_rng(seed + 101)
    free = np.flatnonzero(~df["doc_id"].isin(avoid).to_numpy())
    pick = np.sort(rng.choice(free, size=n, replace=False))
    df = df.copy()
    df.iloc[pick, df.columns.get_loc("text")] = (
        df["text"].iloc[pick] + " " + MARKER
    ).to_numpy()
    return df, df["doc_id"].iloc[pick].tolist()


def plant_near_dups(df: pd.DataFrame, share: float, first_conv: int,
                    seed: int) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """Add copies of a seeded `share` of the turns, each with one extra
    vocabulary token at the end, as one-turn conversations numbered from
    `first_conv`. Appending a token adds one shingle, so a copy of a turn
    with n >= NGRAM tokens has exact Jaccard (n-2)/(n-1) >= 0.5 to its
    source; every kept pair is verified here. Returns (df, [(src, copy)])."""
    rng = np.random.default_rng(seed + 202)
    words = vocab()
    n_src = max(1, int(len(df) * share))
    rows, pairs = [], []
    for i in np.sort(rng.choice(len(df), size=n_src, replace=False)):
        src_id, text = int(df["doc_id"].iloc[i]), df["text"].iloc[i]
        copy = f"{text} {words[int(rng.integers(0, VOCAB_SIZE))]}"
        if jaccard(text, copy) < 0.5:
            continue
        copy_id = first_doc_id(first_conv + len(rows))
        rows.append((copy_id, copy))
        pairs.append((src_id, copy_id))
    extra = pd.DataFrame(rows, columns=["doc_id", "text"])
    return pd.concat([df, extra], ignore_index=True), pairs


def write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
