"""Seeded inputs: the corpus, its doc-range splits, and ES request bodies.

The corpus comes from the engine's own generator
(``corpus.generate_webpages``), keyed on ``--seed``. Doc ``i`` is the
same whatever ``n_docs`` is (the generator's per-doc RNG is keyed on
``(seed, doc_id)``), so a run that needs extra docs for update batches
generates one longer corpus and splits it by ``warc_ts``, which the
generator ramps one second per doc id.

Query words are sampled from the generated text itself, so they are
always words the analyzer keeps; their document frequency in a text
sample sorts them into mid/tail and head classes.
"""

from __future__ import annotations

import json
import random
from collections import Counter

import pyarrow.dataset as pads

# vocabulary, Zipf skew and document length stay at the generator's
# defaults, the corpus shape the engine was sized on at 200k docs
VOCAB_SIZE = 2_000

# df share bounds of the mid/tail query-term class: rare enough that a
# 1-4 term match stays on the selective path, common enough to match
MID_DF_LO, MID_DF_HI = 0.001, 0.02
# near-stopwords: a dense body adds DENSE_COMMON of them to a head term,
# which puts it over the engine's dense-postings cutoff (50k postings)
# already at 10k docs, as one head term alone does at ~200k docs
COMMON_MIN_DF = 0.8
DENSE_COMMON = 6


def write_corpus(spark, path: str, n_docs: int, seed: int) -> None:
    from job_searchengine_project_spark.corpus import generate_webpages

    generate_webpages(spark, n_docs=n_docs, vocab_size=VOCAB_SIZE, seed=seed).write.mode(
        "overwrite"
    ).parquet(path)


def doc_range(spark, corpus_path: str, lo: int, hi: int):
    """Pages with doc id in [lo, hi), selected by ``warc_ts``."""
    from pyspark.sql import functions as F

    from job_searchengine_project_spark.corpus import EPOCH_S

    ts = F.col("warc_ts").cast("long") - F.lit(EPOCH_S)
    return spark.read.parquet(corpus_path).filter((ts >= lo) & (ts < hi))


def read_texts(corpus_path: str) -> list[tuple[str, str]]:
    """(url, text) of every doc, read driver-side, in doc-id order."""
    import pyarrow as pa

    tbl = pads.dataset(corpus_path).to_table(columns=["url", "text", "warc_ts"])
    # the stored timestamp unit depends on Spark's parquet settings:
    # cast to seconds, which order the docs as their ids do
    secs = tbl["warc_ts"].cast(pa.timestamp("s")).cast(pa.int64()).to_pylist()
    rows = sorted(zip(secs, tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    return [(u, t) for _, u, t in rows]


def tokens(text: str) -> list[str]:
    from job_searchengine_project_spark.functions.tokenize import tokenize_morph_py

    return tokenize_morph_py(text, dedup=True)


class Vocab:
    """Query-term classes measured on a text sample of the corpus."""

    def __init__(self, texts: list[str]):
        df = Counter()
        for t in texts:
            df.update(tokens(t))
        n = max(len(texts), 1)
        from job_searchengine_project_spark.corpus import HEAD_TERMS

        self.df = df
        self.mid = sorted(w for w, c in df.items() if MID_DF_LO <= c / n <= MID_DF_HI)
        self.common = sorted(w for w, c in df.items() if c / n >= COMMON_MIN_DF)
        self.head = sorted(w for w in HEAD_TERMS if df[w])
        if len(self.mid) < 4 or len(self.common) < DENSE_COMMON or not self.head:
            raise ValueError("corpus sample too small to classify query terms")

    def findable_body(self, docs: list[tuple[str, str]]) -> tuple[str, dict]:
        """(url, match body) of the shortest of ``docs`` on its six
        rarest terms: BM25 favours a short doc holding all six over any
        doc holding a few, so it ranks on the first page."""
        url, text = min(docs, key=lambda d: (len(tokens(d[1])), d[0]))
        words = sorted(tokens(text), key=lambda w: (self.df[w], w))
        return url, _match(words[:6])


def _match(words: list[str], frm: int = 0) -> dict:
    body = {"query": {"match": {"text": " ".join(words)}}, "size": 10}
    if frm:
        body["from"] = frm
    return body


def _bool(leaves: list[str], frm: int) -> dict:
    body = {
        "query": {
            "bool": {
                "should": [{"match": {"text": w}} for w in leaves],
                "minimum_should_match": 2,
            }
        },
        "size": 10,
    }
    if frm:
        body["from"] = frm
    return body


def query_bodies(vocab: Vocab, n: int, rng: random.Random) -> list[dict]:
    """``n`` distinct ES bodies: ~70% selective match on 1-4 mid/tail
    terms, ~20% dense match (a head term plus near-stopwords: the
    exhaustive path), ~10% bool should with minimum_should_match=2,
    sometimes on a head term, and a from page."""
    seen: set[str] = set()
    out: list[dict] = []
    while len(out) < n:
        r = rng.random()
        if r < 0.7:
            body = _match(rng.sample(vocab.mid, rng.randint(1, 4)))
        elif r < 0.9:
            words = [rng.choice(vocab.head)] + rng.sample(vocab.common, DENSE_COMMON)
            rng.shuffle(words)
            body = _match(words)
        else:
            leaves = rng.sample(vocab.mid, rng.randint(2, 4))
            if rng.random() < 0.3:
                leaves[0] = rng.choice(vocab.head)
            body = _bool(leaves, rng.choice((0, 10, 20)))
        key = json.dumps(body, sort_keys=True)
        if key not in seen:
            seen.add(key)
            out.append(body)
    return out


def analyzed_terms(body: dict) -> list[str]:
    """The analyzed terms of a plain match body (oracle-check input)."""
    ((_, spec),) = body["query"].items()
    return sorted(set(tokens(spec["text"])))


def arrow_text_sample(corpus_path: str, n: int):
    """The first ``n`` (url, text) rows as one Arrow record batch."""
    tbl = pads.dataset(corpus_path).head(n, columns=["url", "text"])
    return tbl.combine_chunks().to_batches()[0]
