"""Seeded benchmark inputs, written as multi-file parquet.

Every input derives from `data/documents.parquet` (the 5,000-document sf0.1
corpus: bags of words over a small vocabulary, with a language and a source
per document) and from the workload seed. The same seed gives byte-identical
files.

- `write_pages`: the pages table of `sparkcheck.sources.pages`, rendered by
  DuckDB from the same SQL template the program's oracle uses. The seed
  permutes the doc -> doc_id assignment, and the injected defects are keyed
  on rid = doc_id * replicas + i, so each seed puts the defects on different
  texts. Files hold contiguous rid ranges, in crawl order.
- `write_dedup_corpus`: mostly unique documents stitched from six-word
  "sentences" of the corpus, plus planted exact copies and planted near
  copies (a copy with one or two words replaced). Rows are shuffled so that
  duplicates are not adjacent in id order.
"""

from __future__ import annotations

import os
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

from sparkcheck.sources.pages import pages_cte

DOCS = Path(__file__).resolve().parent / "data" / "documents.parquet"
SENTENCE_WORDS = 6
DOC_SENTENCES = (10, 16)  # a dedup doc has 10-15 sentences: 60-90 words
NEAR_EDITS = (1, 2)       # a near copy replaces 1 or 2 words


def _docs(seed: int) -> pd.DataFrame:
    docs = pd.read_parquet(DOCS, columns=["doc_id", "text", "lang", "source"])
    perm = np.random.default_rng(seed).permutation(len(docs))
    return docs.assign(doc_id=perm[docs["doc_id"].to_numpy()].astype("int64"))


def write_pages(out_dir: str, seed: int, replicas: int,
                sizes: list[int]) -> list:
    """Write the first sum(sizes) rows of the seeded pages table, in rid
    order, as one parquet file per entry of `sizes` (its row count) under
    `out_dir`. Returns [(file name, rows)] in rid order."""
    os.makedirs(out_dir, exist_ok=True)
    docs = _docs(seed)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")  # row order inside a file is stable
        con.register("documents", docs)
        con.execute("CREATE TABLE pages AS SELECT *, "
                    "to_timestamp(warc_epoch) AS warc_ts FROM ("
                    f"{pages_cte('duckdb', replicas)})")
        files = []
        bounds = np.cumsum([0] + list(sizes))
        for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            name = f"part-{f:05d}.parquet"
            con.execute(
                f"COPY (SELECT * FROM pages WHERE rid >= {lo} AND rid < {hi} "
                f"ORDER BY rid) TO '{os.path.join(out_dir, name)}' "
                "(FORMAT parquet)")
            files.append((name, int(hi - lo)))
        return files
    finally:
        con.close()


def _sentences() -> list[list[str]]:
    texts = pd.read_parquet(DOCS, columns=["text"])["text"].dropna()
    out = []
    for t in texts:
        words = t.split(" ")
        out.extend(words[i:i + SENTENCE_WORDS]
                   for i in range(0, len(words) - SENTENCE_WORDS + 1,
                                  SENTENCE_WORDS))
    return out


def dedup_texts(seed: int, n_unique: int, n_exact: int,
                n_near: int) -> list[str]:
    """n_unique distinct texts + n_exact exact copies + n_near near copies,
    shuffled. A near copy replaces at most 2 of at least 60 words, so it
    keeps a 3-shingle Jaccard of at least 0.8 with its source."""
    rng = np.random.default_rng(seed)
    sents = _sentences()
    vocab = sorted({w for s in sents for w in s})
    seen: set[str] = set()
    unique: list[str] = []
    while len(unique) < n_unique:
        k = int(rng.integers(*DOC_SENTENCES))
        t = " ".join(w for i in rng.integers(0, len(sents), k)
                     for w in sents[i])
        if t not in seen:
            seen.add(t)
            unique.append(t)
    exact = [unique[i] for i in rng.integers(0, n_unique, n_exact)]
    near: list[str] = []
    while len(near) < n_near:
        words = unique[int(rng.integers(0, n_unique))].split(" ")
        n_edits = int(rng.integers(*NEAR_EDITS, endpoint=True))
        for pos in rng.choice(len(words), n_edits, replace=False):
            words[pos] = vocab[(vocab.index(words[pos]) + 1 +
                                int(rng.integers(0, len(vocab) - 1)))
                               % len(vocab)]
        t = " ".join(words)
        if t not in seen:  # an edit never recreates a planted text
            seen.add(t)
            near.append(t)
    texts = unique + exact + near
    return [texts[i] for i in rng.permutation(len(texts))]


def write_dedup_corpus(out_dir: str, seed: int, n_unique: int, n_exact: int,
                       n_near: int, n_files: int) -> int:
    """Write (id bigint, text string) as `n_files` parquet files. Returns
    the row count."""
    os.makedirs(out_dir, exist_ok=True)
    texts = dedup_texts(seed, n_unique, n_exact, n_near)
    df = pd.DataFrame({"id": np.arange(len(texts), dtype="int64"),
                       "text": texts})
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        df.iloc[lo:hi].to_parquet(
            os.path.join(out_dir, f"part-{f:05d}.parquet"), index=False)
    return len(df)
