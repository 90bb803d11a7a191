"""Seeded input generators. The same seed always gives byte-identical inputs.

- `nhanes_csv`: an NHANES-shaped survey table (12 numeric columns with
  nulls, one hash column of 7 values plus nulls) written as the CSV that
  EDFS `put` ingests, plus the parsed values the answer checks use.
- `corpus`: the documents and lineitem tables the text and graph queries
  read, in the schema of the engine's sf-corpus Parquet files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

#: hash-partition column: household size 1..7, about 5% null
HASH_COL = "DMDHHSIZ"

#: (name, kind, null share); kind "int:<lo>:<hi>" or "dec:<lo>:<hi>:<places>".
#: SEQN stays first: the range-partitioned `put` bins on the first column.
NHANES_COLUMNS = (
    ("SEQN", "seq", 0.0),
    ("RIAGENDR", "int:1:2", 0.0),
    ("RIDAGEYR", "int:0:80", 0.0),
    ("RIDRETH1", "int:1:5", 0.0),
    (HASH_COL, "int:1:7", 0.05),
    ("INDFMIN2", "int:1:15", 0.10),
    ("DMDYRSUS", "int:1:9", 0.80),
    ("WTINT2YR", "dec:13000:250000:2", 0.0),
    ("BMXWT", "dec:3:180:1", 0.08),
    ("BMXHT", "dec:80:200:1", 0.08),
    ("BMXARMC", "dec:10:50:1", 0.05),
    ("MGDCGSZ", "dec:5:80:1", 0.30),
)


@dataclass
class NhanesTable:
    columns: list[str]
    #: row-major parsed values, None for null, in CSV (ingest) order
    rows: list[tuple]
    size_bytes: int


def nhanes_csv(path: str, n_rows: int, seed: int) -> NhanesTable:
    """Write the survey CSV to `path` and return its parsed rows."""
    rng = np.random.default_rng([seed, 1])
    cols: list[list[str]] = []
    for name, kind, null_share in NHANES_COLUMNS:
        if kind == "seq":
            vals = [str(v) for v in 31127 + np.arange(n_rows)]
        else:
            parts = kind.split(":")
            lo, hi = int(parts[1]), int(parts[2])
            if parts[0] == "int":
                vals = [str(v) for v in rng.integers(lo, hi + 1, n_rows)]
            else:
                places = int(parts[3])
                raw = rng.uniform(lo, hi, n_rows)
                vals = [f"{v:.{places}f}" for v in raw]
        if null_share:
            for i in np.flatnonzero(rng.random(n_rows) < null_share):
                vals[i] = ""
        cols.append(vals)
    names = [c[0] for c in NHANES_COLUMNS]
    lines = [",".join(names)]
    lines += [",".join(r) for r in zip(*cols)]
    text = "\n".join(lines) + "\n"
    with open(path, "w") as fh:
        fh.write(text)
    rows = [tuple(float(v) if v else None for v in r) for r in zip(*cols)]
    return NhanesTable(names, rows, len(text.encode()))


# ------------------------------------------------------------------ corpus

#: the word list and the near-duplicate marker of the engine's documents
#: corpus; BM25 and the dedup family key on these tokens
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh", "en")


def _documents(n_docs: int, rng: np.random.Generator) -> dict:
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 0 and u < 0.05:
            # near duplicate: an earlier document plus the marker word
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i > 0 and u < 0.06:
            texts.append(texts[int(rng.integers(i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n)))
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _lineitem(n_orders: int, n_lines: int, n_parts: int, rng) -> dict:
    day = np.datetime64("1995-01-02")
    return {
        "l_orderkey": rng.integers(0, n_orders, n_lines).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, max(n_parts // 20, 1), n_lines).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": (day + rng.integers(0, 2500, n_lines).astype("timedelta64[D]")).astype(
            "datetime64[us]"
        ),
    }


#: corpus sizes: the documents and co-purchase shapes of the engine's
#: sf0.01 corpus
CORPUS_SIZES = {"n_docs": 500, "n_orders": 15000, "n_lines": 60000, "n_parts": 2000}
SMOKE_CORPUS_SIZES = {"n_docs": 120, "n_orders": 1500, "n_lines": 6000, "n_parts": 200}


def corpus(sf_dir: str, seed: int, sizes: dict) -> None:
    """Write documents.parquet and lineitem.parquet under `sf_dir`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    os.makedirs(sf_dir, exist_ok=True)
    tables = {
        "documents": _documents(sizes["n_docs"], rng),
        "lineitem": _lineitem(sizes["n_orders"], sizes["n_lines"], sizes["n_parts"], rng),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))
