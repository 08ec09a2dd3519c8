"""Seeded input tables for the benchmark workloads.

The row generators are the engine repository's own ``tools/gen_sf1.py``
``gen_*`` functions. They read their sizes from module constants, so each
table is generated with those constants set to this benchmark's scale.
Two inputs of that module read the engine's test fixtures (the document
vocabulary and the nation/region dimensions); the benchmark derives both
itself, because it reads nothing outside its checkout.

Tables land in ``<cache>/<workload>-s<seed>/`` and are reused when a run
with the same workload and seed finds them complete.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

# Rows per table. lineitem's part and supplier keys are drawn from the
# generator's fixed 200k / 10k key spaces, so part and supplier keep those
# sizes and every lineitem row joins; orders matches lineitem's n/4 order
# keys. Documents and embeddings share one id space (semantic_search joins
# vec_id to doc_id).
SCALE = {
    "relational": {
        "N_LINEITEM": 100_000,
        "N_ORDERS": 25_000,
        "N_CUSTOMER": 2_500,
        "N_SUPPLIER": 10_000,
        "N_PART": 200_000,
        "N_DOCS": 500,
    },
    "retrieval_mixed": {"N_DOCS": 1_000, "N_VECS": 1_000},
}

TABLES = {
    "relational": (
        "lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents",
    ),
    "retrieval_mixed": ("documents", "embeddings"),
}

VOCAB_SIZE = 400
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """Distinct lowercase a-z words, so the engine tokenizer keeps each
    word whole and the term list of a request is a list of index terms."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rng.choice(letters, size=int(rng.integers(3, 10)))))
    return sorted(words)


def _nation(_rng: np.random.Generator):
    import pyarrow as pa

    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _region(_rng: np.random.Generator):
    import pyarrow as pa

    return pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )


# The generator converts day-unit datetime64 arrays straight to
# timestamp[us]; under pyarrow 16 every other value then reads 1970-01-01
# (the others are the first half of the drawn days). These columns are
# redrawn uniformly over the generator's documented day ranges, converted
# through datetime64[us].
DAY_COLUMNS = {
    "lineitem": ("l_shipdate", "1995-01-02", "2001-11-04"),
    "orders": ("o_orderdate", "1995-01-01", "2001-08-01"),
}


def _redraw_days(tbl, column: str, first: str, last: str, rng: np.random.Generator):
    import pyarrow as pa

    start = np.datetime64(first)
    days = int((np.datetime64(last) - start) / np.timedelta64(1, "D"))
    drawn = start + rng.integers(0, days + 1, size=tbl.num_rows).astype("timedelta64[D]")
    col = pa.array(drawn.astype("datetime64[us]"), pa.timestamp("us"))
    return tbl.set_column(tbl.schema.get_field_index(column), column, col)


def vocabulary(data_dir: str) -> list[str]:
    """The corpus vocabulary written beside the tables."""
    with open(os.path.join(data_dir, "vocabulary.txt")) as f:
        return f.read().split()


def generate(cache_dir: str, workload: str, seed: int) -> str:
    """Write (or reuse) the workload's tables for ``seed``; return the dir."""
    import sys

    import pyarrow.parquet as pq

    # the generator module prepends its own checkout path on import; keep
    # the engine imported from this checkout
    saved_path = list(sys.path)
    from tools import gen_sf1

    sys.path[:] = saved_path

    out = os.path.join(cache_dir, f"{workload}-s{seed}")
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, value in SCALE[workload].items():
        setattr(gen_sf1, name, value)
    vocab = _vocabulary(np.random.default_rng([seed, 0]))
    gen_sf1._vocab_from_sf01 = lambda: vocab
    with open(os.path.join(out, "vocabulary.txt"), "w") as f:
        f.write("\n".join(vocab))
    gens = {"nation": _nation, "region": _region}
    for i, table in enumerate(TABLES[workload], start=1):
        gen = gens.get(table) or getattr(gen_sf1, f"gen_{table}")
        tbl = gen(np.random.default_rng([seed, i]))
        if table in DAY_COLUMNS:
            tbl = _redraw_days(tbl, *DAY_COLUMNS[table], np.random.default_rng([seed, i, 1]))
        pq.write_table(tbl, os.path.join(out, f"{table}.parquet"))
    open(os.path.join(out, "_COMPLETE"), "w").close()
    return out
