"""The benchmark's workloads: which engine calls each operation makes, the
DuckDB oracle that checks its answer, and the standing assets it needs.

Every operation is a closed-loop call: construct the DataFrame through the
engine's public operator functions, then ``collect()`` it.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

# The star-schema family, one query per plan shape: scan+filter count,
# semi-join top-k, 3- and 4-way joins, grouped aggregate, join top-k, anti
# join, RFM quintile scoring, quartile window, multi-aggregate profile.
# q5, top_suppliers_by_revenue, nation_market_share, promo_revenue_share
# and top_return_customers repeat shapes already here; they are left out
# so that a cold priming pass and a timed pass fit a one-minute run.
RELATIONAL_QUERIES = (
    "q1_count_shipped",
    "q2_orders_semijoin_topk",
    "q3_lineitem_part_supplier",
    "q4_shipments_by_nation",
    "q6_pricing_summary",
    "q7_top_revenue_orders",
    "customers_without_orders",
    "customer_rfm",
    "order_quartiles",
    "profile_lineitem",
)

# retrieval_mixed request kinds and their shares of the request stream
REQUEST_MIX = (
    ("boolean", 0.30),
    ("bm25", 0.25),
    ("ivf", 0.20),
    ("lsh", 0.15),
    ("semantic", 0.10),
)
REQUESTS_PER_PASS = 20  # the smallest pass that holds the mix exactly


@dataclass(frozen=True)
class Op:
    kind: str  # query name (relational) or request kind (retrieval)
    label: str  # the operation with its parameters
    build: Callable  # (spark, data_dir) -> DataFrame
    oracle: str  # DuckDB SQL over the same tables

    @property
    def oracle_key(self) -> str:
        return hashlib.sha1(self.oracle.encode()).hexdigest()


@dataclass(frozen=True)
class Workload:
    clients: int
    ops: tuple[Op, ...]  # one pass, in the order the clients take them
    warmup: Op  # one cheap operation run in every setup
    ensure_assets: Callable  # (spark, data_dir) -> None


def _registered(name: str) -> tuple[Callable, str]:
    from bigdata_infra_cs489_spark.plans import registry

    return registry.queries()[name], registry.oracle_sql()[name]


def relational() -> Workload:
    ops = []
    for name in RELATIONAL_QUERIES:
        fn, sql = _registered(name)
        ops.append(Op(name, name, fn, sql))
    return Workload(1, tuple(ops), ops[0], lambda s, d: None)


def _fill(sql: str, old: str, new: str) -> str:
    if old not in sql:
        raise ValueError(f"registered oracle no longer contains {old!r}")
    return sql.replace(old, new)


def _request(kind: str, rng: np.random.Generator, vocab: list[str], n_vecs: int) -> Op:
    from bigdata_infra_cs489_spark.operators import index as I
    from bigdata_infra_cs489_spark.operators import similarity as S
    from bigdata_infra_cs489_spark.operators import vector_index as VI

    if kind == "boolean":
        # postfix (t1 AND t2) OR t3, the registered query's shape
        t1, t2, t3 = (str(t) for t in rng.choice(vocab, size=3, replace=False))
        query = f"{t1} {t2} AND {t3} OR"
        sql = _registered("boolean_retrieval")[1]
        for old, new in (("'fast'", t1), ("'table'", t2), ("'slow'", t3)):
            sql = _fill(sql, old, f"'{new}'")
        return Op(kind, f"boolean:{query}", lambda s, d: I.boolean_retrieval(s, d, query), sql)
    if kind == "bm25":
        terms = [str(t) for t in rng.choice(vocab, size=3, replace=False)]
        query = " ".join(terms)
        sql = _fill(
            _registered("bm25_retrieval")[1],
            "('fast', 'data', 'table')",
            "(" + ", ".join(f"'{t}'" for t in terms) + ")",
        )
        return Op(kind, f"bm25:{query}", lambda s, d: I.bm25_retrieval(s, d, query, k=10), sql)
    vec = int(rng.integers(0, n_vecs))
    name, fn = {
        "ivf": ("ivf_topk_indexed", VI.ivf_topk_indexed),
        "lsh": ("lsh_topk_indexed", VI.lsh_topk_indexed),
        "semantic": ("semantic_search", S.semantic_search),
    }[kind]
    sql = _fill(
        _registered(name)[1], f"vec_id = {S.QUERY_VEC_ID}", f"vec_id = {vec}"
    )
    return Op(kind, f"{kind}:{vec}", lambda s, d: fn(s, d, query_vec_id=vec), sql)


def retrieval_mixed(seed: int, vocab: list[str], n_vecs: int) -> Workload:
    from bigdata_infra_cs489_spark.operators import vector_index as VI

    rng = np.random.default_rng([seed, 100])
    # The seed draws each request's parameters. The kinds keep exact shares
    # and one fixed interleaved order, so which requests overlap under the
    # four clients does not change with the seed.
    slots = sorted(
        ((j + 0.5) / n, i, kind)
        for i, (kind, share) in enumerate(REQUEST_MIX)
        for n in [round(share * REQUESTS_PER_PASS)]
        for j in range(n)
    )
    ops = tuple(_request(kind, rng, vocab, n_vecs) for _, _, kind in slots)
    warmup = _request("boolean", rng, vocab, n_vecs)
    return Workload(4, ops, warmup, lambda s, d: VI.ensure_vector_index(s, d))
