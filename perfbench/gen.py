"""Seeded input generators, one per workload.

Every generator takes the seed and returns Arrow tables (plus the
planted facts the output checks need). The program under test sees
only these tables, written to parquet by the caller. The same seed
gives byte-identical tables; :func:`digest` fingerprints them.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# dq size: orders, with 1-7 (~4) lines per order.
DQ_ORDERS = 6_000
# Defect rates planted into dq: NULLs, duplicate keys, negative prices.
DQ_NULL_RATE = 0.005
DQ_DUP_RATE = 0.002
DQ_NEG_RATE = 0.001

# ingest corpus: base docs, plus near-duplicate variants and exact
# copies grouped in Zipf-sized clusters (the k-th largest holds
# CORPUS_MAX_CLUSTER / k docs), so some LSH band keys are hot. The
# cluster sizes and the junk count do not depend on the seed, so every
# seed gives the same amount of dedup work.
CORPUS_BASE = 800
CORPUS_CLUSTERS = 80
CORPUS_MAX_CLUSTER = 40
CORPUS_JUNK = 24
# Id ranges tell the planted rows apart: a variant's or copy's id is
# always larger than its source's, so the min-id survivor rule keeps
# the source and drops every exact copy.
VARIANT_BASE = 1_000_000
COPY_BASE = 2_000_000
# Per-cycle probe batches against the minhash index of the corpus.
PROBE_BATCH = 300
PROBE_ID_BASE = 10_000_000

_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
_DAYS_1992_1998 = 2_405
_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def digest(*tables: pa.Table) -> str:
    """SHA-256 over the Arrow IPC stream of each table, in order."""
    h = hashlib.sha256()
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def _with_nulls(rng, values, rate):
    mask = rng.random(len(values)) < rate
    return pa.array(values, mask=mask)


def _timestamps(rng, n):
    days = rng.integers(0, _DAYS_1992_1998, n)
    return _EPOCH_1992 + days.astype("timedelta64[D]")


def _dup_rows(rng, table: pa.Table, rate: float) -> pa.Table:
    """Append copies of a random ``rate`` share of rows (duplicate keys)."""
    idx = rng.choice(table.num_rows, int(table.num_rows * rate), replace=False)
    return pa.concat_tables([table, table.take(np.sort(idx))])


def dq_tables(seed: int) -> dict[str, pa.Table]:
    """TPC-H-shaped ``orders`` and ``lineitem`` with planted defects."""
    rng = np.random.default_rng([seed, 1])
    okeys = np.arange(1, DQ_ORDERS + 1, dtype=np.int64) * 4
    totalprice = np.round(rng.uniform(900.0, 500_000.0, DQ_ORDERS), 2)
    totalprice[rng.random(DQ_ORDERS) < DQ_NEG_RATE] *= -1
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, DQ_ORDERS // 10 + 2, DQ_ORDERS),
        "o_orderstatus": _with_nulls(
            rng, rng.choice(["F", "O", "P"], DQ_ORDERS), DQ_NULL_RATE),
        "o_totalprice": _with_nulls(rng, totalprice, DQ_NULL_RATE),
        "o_orderdate": _timestamps(rng, DQ_ORDERS),
        "o_orderpriority": _with_nulls(rng, rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            DQ_ORDERS), DQ_NULL_RATE),
    })

    lines = rng.integers(1, 8, DQ_ORDERS)
    n = int(lines.sum())
    lkeys = np.repeat(okeys, lines)
    starts = np.cumsum(lines) - lines
    linenumber = (np.arange(n) - np.repeat(starts, lines) + 1).astype(np.int32)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(quantity * rng.uniform(900.0, 2_000.0, n), 2)
    price[rng.random(n) < DQ_NEG_RATE] *= -1
    lineitem = pa.table({
        "l_orderkey": lkeys,
        "l_partkey": rng.integers(1, 20_001, n),
        "l_suppkey": rng.integers(1, 1_001, n),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": _with_nulls(rng, price, DQ_NULL_RATE),
        "l_discount": _with_nulls(
            rng, np.round(rng.integers(0, 11, n) / 100.0, 2), DQ_NULL_RATE),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": _with_nulls(rng, rng.choice(["F", "O"], n), DQ_NULL_RATE),
        "l_shipdate": _with_nulls(rng, _timestamps(rng, n), DQ_NULL_RATE),
    })
    return {
        "orders": _dup_rows(rng, orders, DQ_DUP_RATE),
        "lineitem": _dup_rows(rng, lineitem, DQ_DUP_RATE),
    }


class _Words:
    """A seeded vocabulary with Zipf-like word frequencies, mixed with
    English stopwords so documents score as plausible prose."""

    def __init__(self, rng, size: int = 4_000):
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = rng.integers(3, 10, size)
        self.vocab = np.array(
            ["".join(rng.choice(letters, k)) for k in lens] + _STOPWORDS)
        p = 1.0 / np.arange(1, size + 1) ** 1.1
        p = np.concatenate([p / p.sum() * 0.8, np.full(10, 0.02)])
        self.p = p / p.sum()

    def doc(self, rng, n_words: int) -> list[str]:
        return list(self.vocab[rng.choice(len(self.vocab), n_words, p=self.p)])


def _docs(rng, words: _Words, n: int) -> list[str]:
    return [" ".join(words.doc(rng, int(k))) for k in rng.integers(40, 160, n)]


def _mutate(rng, text: str, n_edits: int) -> str:
    toks = text.split(" ")
    for _ in range(n_edits):
        toks[rng.integers(len(toks))] = "x" + toks[rng.integers(len(toks))]
    return " ".join(toks)


@dataclass
class IngestInputs:
    docs: pa.Table          # doc_id, text, lang, source, n_chars
    exact_copies: int       # rows with id >= COPY_BASE
    seed: int

    def probe_batch(self, cycle: int) -> tuple[pa.Table, dict[int, int]]:
        """Half copies of corpus docs under fresh ids, half new docs.
        Returns the batch and {fresh id: source id}."""
        rng = np.random.default_rng([self.seed, 4, cycle])
        half = PROBE_BATCH // 2
        src = self.docs.take(np.sort(
            rng.choice(self.docs.num_rows, half, replace=False)))
        base = PROBE_ID_BASE + cycle * PROBE_BATCH
        batch = pa.table({
            "doc_id": pa.array(range(base, base + PROBE_BATCH), pa.int64()),
            "text": src["text"].to_pylist()
            + _docs(rng, _Words(rng), PROBE_BATCH - half),
        })
        return batch, dict(zip(range(base, base + half),
                               src["doc_id"].to_pylist()))


def ingest_inputs(seed: int) -> IngestInputs:
    """Base docs plus Zipf-sized near-duplicate clusters.

    Each cluster takes one base doc as its source and adds exact copies
    and variants (a few words edited, Jaccard ~0.9) in turn. A few base
    docs are punctuation junk that the quality filter drops.
    """
    rng = np.random.default_rng([seed, 2])
    words = _Words(rng)
    texts = _docs(rng, words, CORPUS_BASE)
    for i in rng.choice(CORPUS_BASE, CORPUS_JUNK, replace=False):
        texts[i] = "!!! ?? " * 20
    ids = list(range(CORPUS_BASE))
    sources = rng.choice(CORPUS_BASE, CORPUS_CLUSTERS, replace=False)
    var_id, copy_id = VARIANT_BASE, COPY_BASE
    for k, src in enumerate(sources, 1):
        for j in range(max(1, CORPUS_MAX_CLUSTER // k)):
            if j % 2:
                texts.append(_mutate(rng, texts[src], 1 + int(rng.integers(2))))
                ids.append(var_id)
                var_id += 1
            else:
                texts.append(texts[src])
                ids.append(copy_id)
                copy_id += 1
    n = len(ids)
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es"], n, p=[0.7, 0.1, 0.1, 0.1]),
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return IngestInputs(docs, copy_id - COPY_BASE, seed)
