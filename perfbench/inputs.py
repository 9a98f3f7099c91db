"""Seeded input generators, cached on disk outside the timed region.

Every generator is a pure function of ``(seed, size)``: the same seed
gives the same bytes. Inputs are written once per key under the cache
directory and read back by Spark as parquet.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FILES_PER_INPUT = 8  # two files per core of local[4], so every core scans


def _publish(path: str, write) -> str:
    """Run ``write(tmp_dir)`` once and rename the result to ``path``."""
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    os.rename(tmp, path)
    return path


def first_part(input_dir: str) -> str:
    """The first of an input's parquet files: 1/8 of its rows."""
    return os.path.join(input_dir, "part-00000.parquet")


def _write_parts(table: pa.Table, out_dir: str) -> None:
    bounds = np.linspace(0, table.num_rows, FILES_PER_INPUT + 1).astype(int)
    for i in range(FILES_PER_INPUT):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
        )


# ---------------------------------------------------------------------------
# fixture documents: the id span [seed*N, (seed+1)*N)
# ---------------------------------------------------------------------------


def docs_frame(seed: int, n: int) -> pd.DataFrame:
    from gipspark.sources.fixtures import docs_pdf

    return docs_pdf(np.arange(seed * n, (seed + 1) * n, dtype=np.int64))


def docs_table(pdf: pd.DataFrame) -> pa.Table:
    """Arrow table in the fixture's DOC_SCHEMA (timestamps in µs)."""
    schema = pa.schema(
        [
            pa.field("url", pa.string(), False),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
            pa.field("html", pa.binary(), False),
            pa.field("text", pa.string(), False),
            pa.field("lang", pa.string(), False),
        ]
    )
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC"))
    return pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)


def docs_input(cache: str, seed: int, n: int) -> str:
    """Parquet directory holding the fixture docs of the seed's id span."""
    path = os.path.join(cache, f"docs_s{seed}_n{n}")
    return _publish(path, lambda tmp: _write_parts(docs_table(docs_frame(seed, n)), tmp))


# ---------------------------------------------------------------------------
# registry_mix: the sf0.1 test tables' generator, measured and re-run at
# a smaller scale factor
# ---------------------------------------------------------------------------

# Measured on the sf0.1 tables the registry queries are tested on. Every
# table is generated independently and uniformly: row counts are fixed
# multiples of the scale factor, keys are dense 0..n-1, foreign keys are
# uniform draws over the referenced keys (so lines per order are
# Poisson(4): 1.8% of orders have none, the busiest of 150,000 has 17 of
# 600,000 lines, far below the salted join's 0.1% hot threshold), and
# documents hold 10..100 words from a 31-word vocabulary.
ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "orders": 1_500_000,
               "lineitem": 6_000_000, "documents": 50_000}
_WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window".split(),
    dtype=object,
)
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
_LANGS = np.array(["en", "de", "es", "fr", "zh"], dtype=object)
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _dense_keys(seed: int, n: int) -> np.ndarray:
    """The keys ``seed*n .. seed*n + n-1``: dense like sf0.1's ``0..n-1``,
    moved by the seed so the key-derived coordinates move with it."""
    return np.arange(seed * n, (seed + 1) * n, dtype=np.int64)


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    """Midnight timestamps drawn uniformly from the days ``first..last``."""
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int)) + 1
    return pa.array((lo + rng.integers(0, span, n).astype("timedelta64[D]")).astype("datetime64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def registry_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The six tables the registry_mix queries read, at scale factor
    ``sf``, in the sf0.1 tables' schema and distributions."""
    rng = np.random.default_rng([seed, 3])
    n = {t: int(round(r * sf)) for t, r in ROWS_PER_SF.items()}
    cust = _dense_keys(seed, n["customer"])
    supp = _dense_keys(seed, n["supplier"])
    orders = _dense_keys(seed, n["orders"])
    docs = _dense_keys(seed, n["documents"])
    n_li = n["lineitem"]
    t: dict[str, pa.Table] = {}
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(cust, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in cust]),
            "c_nationkey": pa.array(rng.integers(0, 25, len(cust)), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(cust))),
            "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, len(cust))]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(supp, pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in supp]),
            "s_nationkey": pa.array(rng.integers(0, 25, len(supp)), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(supp))),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(orders, pa.int64()),
            "o_custkey": pa.array(rng.choice(cust, len(orders)), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, len(orders))]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, len(orders))),
            "o_orderdate": _days(rng, len(orders), "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, len(orders))]),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.choice(orders, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20 * n["supplier"], n_li), pa.int64()),
            "l_suppkey": pa.array(rng.choice(supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)]),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    text = [" ".join(_WORDS[rng.integers(0, len(_WORDS), k)]) for k in rng.integers(10, 101, len(docs))]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(docs, pa.int64()),
            "text": pa.array(text),
            "lang": pa.array(rng.choice(_LANGS, len(docs), p=_LANG_P)),
            "source": pa.array([f"src{k % 20}" for k in docs]),
            "n_chars": pa.array([len(x) for x in text], pa.int64()),
        }
    )
    return t


def registry_input(cache: str, seed: int, sf: float) -> str:
    """Directory of ``<table>.parquet`` files, laid out like an sf dir."""
    path = os.path.join(cache, f"tables_s{seed}_sf{sf:g}")

    def write(tmp: str) -> None:
        for name, table in registry_tables(seed, sf).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))

    return _publish(path, write)
