"""Seeded input generators for the benchmark's workloads.

Every table keeps the column names and types of the fixture schema in
``FIXTURES.md`` (TPC-H-ish star schema, ``events``, ``documents``,
``embeddings``), so the registered queries read them unchanged. Generation is pure NumPy/PyArrow: no Spark, no network.

The analytics tables do not depend on the run's seed; the CDC op stream
does. The correctness gates derive their expectations from these inputs
(DuckDB oracles over the tables, a per-key argmax over the op files).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMB_DIM = 64
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
N_SOURCES = 20


def write_parquet(path: str, table: pa.Table) -> None:
    # hidden temp name: a file source watching the directory skips it
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _ts(days_from: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + (seconds * 1_000_000).astype("timedelta64[us]"))


def _dates(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _token_soup(rng, n_docs: int, vocab=VOCAB) -> list[str]:
    """Space-separated token soup, 10-100 tokens, with the rare ``dup``
    token and planted near-duplicates (a copy of an earlier document with
    one token changed), as in the fixture corpus."""
    lens = rng.integers(10, 101, n_docs)
    words = np.array(vocab)
    texts: list[str] = []
    for i in range(n_docs):
        toks = list(words[rng.integers(0, len(words), lens[i])])
        if rng.random() < 0.05:
            toks[rng.integers(0, len(toks))] = "dup"
        if i > 10 and rng.random() < 0.02:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[rng.integers(0, len(toks))] = str(words[rng.integers(0, len(words))])
        texts.append(" ".join(toks))
    return texts


def documents_table(rng, n_docs: int) -> pa.Table:
    texts = _token_soup(rng, n_docs)
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def unit_vectors(rng, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), EMB_DIM)
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


# ---------------------------------------------------------------------------
# analytics: the star schema plus events/documents/embeddings at scale ``sf``
# ---------------------------------------------------------------------------


def make_analytics(out_dir: str, sf: float, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)
    n_users = max(int(15_000 * sf), 10)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"],
                    n_cust,
                ).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
    }
    adj = ["large", "hot", "blue", "small", "red", "cold", "green", "shiny"]
    noun = ["ring", "bolt", "nut", "screw", "gear", "pipe", "valve", "spring"]
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"], n_part
            ).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["O", "P", "F"], n_ord).tolist(),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ).tolist(),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
            "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    secs = np.sort(rng.uniform(0, 30 * 86400, n_evt))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": _ts(dt.datetime(2024, 1, 1), secs),
            "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
            "event_type": rng.choice(
                ["signup", "click", "error", "view", "purchase"], n_evt
            ).tolist(),
            "value": np.round(rng.exponential(60.0, n_evt).clip(0, 560), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    tables["documents"] = documents_table(rng, n_doc)
    tables["embeddings"] = embeddings_table(
        np.arange(n_vec, dtype=np.int64),
        unit_vectors(rng, n_vec),
        rng.integers(0, 10, n_vec).astype(np.int32),
    )
    for name, table in tables.items():
        write_parquet(os.path.join(out_dir, f"{name}.parquet"), table)


# ---------------------------------------------------------------------------
# cdc_stream: an op stream with Zipf keys, ~10 % deletes, out-of-order seqs
# ---------------------------------------------------------------------------

CDC_SCHEMA = pa.schema(
    [("k", pa.int64()), ("seq", pa.int64()), ("op", pa.string()), ("v", pa.float64())]
)


class CdcStream:
    """Seeded op stream over ``n_keys`` keys. ``base`` inserts every key
    once; each later file carries Zipf-keyed updates and ~10 % deletes,
    shuffled, with a tenth of its ops held back to the next file, so files
    arrive with seqs out of order. Seqs are unique, so the expected state
    is the per-key op with the highest seq over the files landed."""

    def __init__(self, seed: int, n_keys: int, ops_per_file: int):
        self.rng = np.random.default_rng(seed)
        self.n_keys, self.ops_per_file = n_keys, ops_per_file
        self.seq = 0
        self.held: list[tuple] = []

    def base(self) -> pa.Table:
        vals = np.round(self.rng.uniform(0, 1000, self.n_keys), 2)
        ops = [(k, k, "U", float(v)) for k, v in enumerate(vals)]
        self.seq = self.n_keys
        return self._table(ops)

    def next_file(self) -> pa.Table:
        n = self.ops_per_file
        ranks = np.minimum(self.rng.zipf(1.3, n) - 1, self.n_keys - 1)
        hot = np.random.default_rng(7).permutation(self.n_keys)  # hot keys spread out
        dels = self.rng.random(n) < 0.10
        vals = np.round(self.rng.uniform(0, 1000, n), 2)
        ops = [
            (int(k), self.seq + i, "D" if d else "U", None if d else float(v))
            for i, (k, d, v) in enumerate(zip(hot[ranks], dels, vals))
        ]
        self.seq += n
        ops = [ops[i] for i in self.rng.permutation(n)]
        # a tenth of the ops arrive late, in the next file, behind higher seqs
        hold = n // 10
        ops, self.held = self.held + ops[hold:], ops[:hold]
        return self._table(ops)

    @staticmethod
    def _table(ops: list[tuple]) -> pa.Table:
        k, s, o, v = zip(*ops)
        return pa.table(
            {"k": list(k), "seq": list(s), "op": list(o), "v": list(v)}, schema=CDC_SCHEMA
        )



