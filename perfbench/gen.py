"""Seeded input generation for the benchmark workloads.

Every table is a pure function of the seed (numpy ``default_rng``) and is
written as one parquet file.  Sizes are chosen so each table sits in a
definite size band of ``describe()`` at the machine's core count:

* tiny      0 < bytes < 1 MiB      (one-phase frequencies)
* small     4 MiB <= bytes < cores * 4 MiB and row groups < cores
            (fine chunks, wider job gate)
* standard  everything else         (8-job gate, two-phase frequencies)
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MiB = 1 << 20

# Row counts.  lineitem lands in the small band at 2 or more cores, wide in
# the standard band (between the tiny and small bands) and nation in the
# tiny band, each at least 10% away from the band's edges.
LINEITEM_ROWS = 60_000
WIDE_ROWS = 4_000
WIDE_NUMERIC = 51  # more than 50: correlation takes the ml.stat path
DOCUMENTS = 2_500
EMBEDDINGS = 1_000
EMBED_DIM = 64
KNN_QUERIES = 20

_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")


@dataclass
class TableInfo:
    """A generated table: where it is and the properties the profiler's
    behaviour depends on."""

    name: str
    path: str
    rows: int
    bytes: int
    row_groups: int
    type_counts: dict[str, int]
    distinct_min: int
    distinct_max: int
    intended_band: str | None = None

    def band(self, cores: int) -> str:
        if 0 < self.bytes < MiB:
            return "tiny"
        if 4 * MiB <= self.bytes < cores * 4 * MiB and self.row_groups < cores:
            return "small"
        return "standard"

    def describe(self, cores: int) -> str:
        kinds = " ".join(f"{k}={v}" for k, v in sorted(self.type_counts.items()))
        return (f"{self.name}: rows={self.rows} bytes={self.bytes} "
                f"row_groups={self.row_groups} cols[{kinds}] "
                f"band@{cores}={self.band(cores)} "
                f"distinct={self.distinct_min}..{self.distinct_max}")


def _type_class(t: pa.DataType) -> str:
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        return "numeric"
    if pa.types.is_string(t):
        return "string"
    if pa.types.is_temporal(t):
        return "temporal"
    if pa.types.is_boolean(t):
        return "bool"
    return "complex"


def _write(table: pa.Table, name: str, out_dir: str,
           compressed: bool = True, band: str | None = None) -> TableInfo:
    path = os.path.join(out_dir, f"{name}.parquet")
    # one row group per file, like the reference test data; TIMESTAMP(NANOS)
    # needs parquet format 2.6
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   version="2.6",
                   compression="snappy" if compressed else "none",
                   use_dictionary=compressed)
    distincts = [pa.compute.count_distinct(c).as_py()
                 for c, f in zip(table.columns, table.schema)
                 if not pa.types.is_list(f.type)]
    counts: dict[str, int] = {}
    for f in table.schema:
        counts[_type_class(f.type)] = counts.get(_type_class(f.type), 0) + 1
    return TableInfo(name, path, table.num_rows, os.path.getsize(path),
                     pq.ParquetFile(path).metadata.num_row_groups, counts,
                     min(distincts), max(distincts), band)


def _words(rng: np.random.Generator, n: int, lo: int = 3,
           hi: int = 9) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(["".join(rng.choice(letters, rng.integers(lo, hi)))
                     for _ in range(n)])


def _permute_columns(rng: np.random.Generator, t: pa.Table) -> pa.Table:
    return t.select(list(rng.permutation(t.column_names)))


def lineitem(rng: np.random.Generator, n: int = LINEITEM_ROWS) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    ship = _EPOCH_1992 + (rng.integers(0, 2526, n) * 86_400_000_000
                          ).astype("timedelta64[us]")
    t = pa.table({
        "l_orderkey": np.sort(rng.integers(1, n // 4 * 4 + 1, n)),
        "l_partkey": rng.integers(1, 20_001, n),
        "l_suppkey": rng.integers(1, 1001, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n, p=[0.25, 0.5, 0.25]),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    return _permute_columns(rng, t)


def nation(rng: np.random.Generator) -> pa.Table:
    """25 nations; ``n_updated`` is TIMESTAMP(NANOS)."""
    start = np.datetime64("2024-01-01T00:00:00", "ns")
    updated = start + rng.integers(0, 30 * 86_400 * 10 ** 9, 25
                                   ).astype("timedelta64[ns]")
    return pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": _words(rng, 25, 5, 12),
        "n_regionkey": rng.integers(0, 5, 25).astype(np.int32),
        "n_updated": pa.array(updated, pa.timestamp("ns")),
    })


def wide(rng: np.random.Generator, n: int = WIDE_ROWS,
         k: int = WIDE_NUMERIC) -> pa.Table:
    """A wide table: ``k`` numeric columns (normal, uniform integer,
    exponential, three 60%-null ones and one exact linear function of
    another, so one pair is rejected as correlated) and string columns of
    cardinality 50 and all-distinct, a constant one and a 70%-null one."""
    cols: dict[str, object] = {}
    n_int, n_exp, n_null = 8, 2, 3
    n_norm = k - n_int - n_exp - n_null - 1
    for i in range(n_norm):
        cols[f"x{i:02d}"] = rng.normal(rng.uniform(-50, 50),
                                       rng.uniform(0.5, 20), n)
    for i in range(n_int):
        cols[f"i{i:02d}"] = rng.integers(0, int(rng.integers(10, 100_000)), n)
    for i in range(n_exp):
        cols[f"e{i:02d}"] = np.round(rng.exponential(rng.uniform(1, 100), n), 3)
    for i in range(n_null):
        v = rng.normal(0, 1, n)
        cols[f"n{i:02d}"] = pa.array(v, mask=rng.random(n) < 0.6)
    cols["x00_lin"] = 2.5 * cols["x00"] - 7.0
    words = _words(rng, 50, 4, 10)
    cols.update({
        "s_card50": rng.choice(words, n),
        "s_unique": [f"id-{j:07d}" for j in rng.permutation(n)],
        "s_const": np.full(n, "constant"),
        "s_nullheavy": pa.array(rng.choice(words[:20], n),
                                mask=rng.random(n) < 0.7),
    })
    return _permute_columns(rng, pa.table(cols))


def documents(rng: np.random.Generator, n: int = DOCUMENTS) -> pa.Table:
    """Text corpus with exact duplicates (4%), near duplicates (6%, one or
    two words replaced) and a few docs too short to shingle."""
    vocab = _words(rng, 600, 2, 9)
    zipf = 1.0 / np.arange(1, len(vocab) + 1)
    zipf /= zipf.sum()
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.10:
            src = texts[rng.integers(0, i)].split(" ")
            for _ in range(1 if len(src) < 60 else 2):
                src[rng.integers(0, len(src))] = vocab[rng.integers(len(vocab))]
            texts.append(" ".join(src))
        else:
            k = 2 if r > 0.995 else int(rng.integers(10, 120))
            texts.append(" ".join(rng.choice(vocab, k, p=zipf)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int = EMBEDDINGS,
               dim: int = EMBED_DIM) -> pa.Table:
    centers = rng.normal(0, 1, (20, dim))
    label = rng.integers(0, 20, n)
    vec = (centers[label] + rng.normal(0, 0.6, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def catalog(seed: int, out_dir: str) -> dict[str, TableInfo]:
    """The profile_catalog tables, in a seed-shuffled order."""
    rng = np.random.default_rng(seed)
    tables = {
        # uncompressed: plain-encoded files reach their size bands with
        # few rows, as files from writers without compression do
        "lineitem": _write(lineitem(rng), "lineitem", out_dir,
                           compressed=False, band="small"),
        "wide": _write(wide(rng), "wide", out_dir, compressed=False,
                       band="standard"),
        "nation": _write(nation(rng), "nation", out_dir, band="tiny"),
    }
    return {name: tables[name] for name in rng.permutation(list(tables))}


def llm(seed: int, out_dir: str) -> tuple[dict[str, TableInfo], list[int]]:
    """The llm_dedup tables plus the seed-chosen kNN query ids."""
    rng = np.random.default_rng(seed)
    tables = {"documents": _write(documents(rng), "documents", out_dir),
              "embeddings": _write(embeddings(rng), "embeddings", out_dir)}
    queries = sorted(int(q) for q in
                     rng.choice(EMBEDDINGS, KNN_QUERIES, replace=False))
    return tables, queries
