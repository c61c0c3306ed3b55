"""Inputs for the benchmark, independent of the engine's own fixture
generators: a seeded zipf corpus and queries, and the reference corpus
read from ``perfbench/data``.

A corpus is held as token ids in CSR form (``offsets``, ``ids`` into
``vocab``) next to its rendered text, so the oracle scores the exact
token stream the engine will see without re-tokenizing. Every
vocabulary word is lowercase ``[a-z0-9]+``; the analysis step keeps
those verbatim and drops only the stop words, which the oracle drops
too.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Lucene's English stop set, as the engine's analyzer applies it
STOP_WORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)
_WORD = re.compile(r"[a-z0-9]+")

#: the paper's reference query set (copied so an edit to the engine's
#: copy cannot shift the workload)
REFERENCE_QUERIES: tuple[tuple[str, str], ...] = (
    ("q0000", "dup"), ("q0001", "spark"), ("q0002", "spark spark"),
    ("q0003", "a the"), ("q0004", "zzzunknown"), ("q0005", "dup spark"),
    ("q0006", "table spark merge query"),
    ("q0007", "window fast row merge table"), ("q0008", "value spark spark"),
    ("q0009", "filter"), ("q0010", "line customer line hash column merge"),
    ("q0011", "row table"), ("q0012", "sort"),
    ("q0013", "value merge fast order"), ("q0014", "merge line fast merge"),
    ("q0015", "slow window data scan order"), ("q0016", "part"),
    ("q0017", "customer batch filter"), ("q0018", "value part stream"),
    ("q0019", "sort fast spark sort"), ("q0020", "spark"),
    ("q0021", "column row customer"),
    ("q0022", "big vector window merge slow customer"),
    ("q0023", "merge order"), ("q0024", "column spark"),
    ("q0025", "key table sort"), ("q0026", "fast small"),
    ("q0027", "window group data fast"), ("q0028", "vector"),
    ("q0029", "column small batch"), ("q0030", "key scan"),
    ("q0031", "window slow big key"), ("q0032", "customer join slow"),
    ("q0033", "customer window query customer"),
    ("q0034", "vector hash agg key sort"), ("q0035", "small data table key"),
    ("q0036", "group group"), ("q0037", "sort"), ("q0038", "scan"),
    ("q0039", "big scan scan fast"), ("q0040", "part stream filter"),
    ("q0041", "row"), ("q0042", "query vector slow data column batch"),
    ("q0043", "join query query hash agg merge"), ("q0044", "big"),
    ("q0045", "window small"), ("q0046", "value"),
    ("q0047", "scan merge query row join"), ("q0048", "hash merge slow"),
    ("q0049", "batch merge row"),
)

@dataclass
class Corpus:
    vocab: list[str]
    offsets: np.ndarray  # int64[n_docs + 1]
    ids: np.ndarray      # int32[n_tokens], indexes into vocab
    text: pa.Array       # string[n_docs]

    @property
    def n_docs(self) -> int:
        return len(self.offsets) - 1

    def write(self, path: str) -> int:
        """Write (doc_id, text) parquet; returns the text byte count."""
        doc_id = pa.array(np.arange(self.n_docs, dtype=np.int64))
        pq.write_table(pa.table({"doc_id": doc_id, "text": self.text}), path)
        return int(pc.sum(pc.binary_length(self.text)).as_py())


def _check_vocab(vocab: list[str]) -> None:
    for w in vocab:
        if not _WORD.fullmatch(w):
            raise ValueError(f"vocabulary word {w!r} would not survive "
                             "analysis unchanged")


def _render(vocab: list[str], offsets: np.ndarray, ids: np.ndarray) -> pa.Array:
    words = pa.array(vocab, pa.string()).take(pa.array(ids))
    lists = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), words)
    return pc.binary_join(lists, " ")


def zipf_vocab(vocab_size: int) -> list[str]:
    """Rank r (0-based) is the word ``t<r in base 36>``."""
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"

    def b36(n: int) -> str:
        s = ""
        while True:
            n, r = divmod(n, 36)
            s = digits[r] + s
            if n == 0:
                return s

    return ["t" + b36(r) for r in range(vocab_size)]


def _zipf_ids(rng: np.random.Generator, n: int, vocab_size: int) -> np.ndarray:
    """n draws of rank r with probability proportional to 1/(r+1)."""
    cdf = np.cumsum(1.0 / np.arange(1, vocab_size + 1))
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"),
                      vocab_size - 1).astype(np.int32)


def zipf_corpus(seed: int, n_docs: int, vocab_size: int,
                min_tokens: int, max_tokens: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    lens = rng.integers(min_tokens, max_tokens + 1, n_docs)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    ids = _zipf_ids(rng, int(offsets[-1]), vocab_size)
    vocab = zipf_vocab(vocab_size)
    _check_vocab(vocab)
    return Corpus(vocab, offsets, ids, _render(vocab, offsets, ids))


def zipf_queries(seed: int, n_queries: int, vocab_size: int,
                 min_terms: int, max_terms: int,
                 stream: int = 2) -> list[tuple[str, str]]:
    """Bag-of-words queries drawn from the corpus's zipf distribution."""
    rng = np.random.default_rng([seed, stream])
    lens = rng.integers(min_terms, max_terms + 1, n_queries)
    ids = _zipf_ids(rng, int(lens.sum()), vocab_size)
    vocab = zipf_vocab(vocab_size)
    out, pos = [], 0
    for i, n in enumerate(lens):
        out.append((f"s{seed}q{i:05d}",
                    " ".join(vocab[j] for j in ids[pos:pos + n])))
        pos += n
    return out


def corpus_from_parquet(path: str) -> Corpus:
    """A fixed (doc_id, text) corpus whose doc ids are its row numbers,
    tokenized with the analyzer's pattern (stop words stay in the
    vocabulary; the oracle drops them)."""
    t = pq.read_table(path, columns=["doc_id", "text"])
    if not np.array_equal(t["doc_id"].to_numpy(), np.arange(t.num_rows)):
        raise ValueError(f"{path}: doc ids are not 0..n-1")
    text = t["text"].combine_chunks()
    docs = [_WORD.findall(x.lower()) for x in text.to_pylist()]
    vocab = sorted({w for d in docs for w in d})
    word_id = {w: i for i, w in enumerate(vocab)}
    offsets = np.concatenate([[0], np.cumsum([len(d) for d in docs])])
    ids = np.fromiter((word_id[w] for d in docs for w in d), np.int32,
                      int(offsets[-1]))
    return Corpus(vocab, offsets.astype(np.int64), ids, text)
