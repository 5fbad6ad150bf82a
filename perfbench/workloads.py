"""Workload definitions: op lists, the seeded op order and the seeded DML
sequence, plus the DuckDB replay that checks the DML table.

Pure Python (no Spark import), so the unit tests can check that one seed
always yields one sequence.
"""

from __future__ import annotations

import random

#: Registered queries of the finance read path (EOD bars, as-of join,
#: streaming drain). Time goes to scans, shuffles and execution.
MARKET_READ_OPS = [
    "flagship_eod_pipeline",
    "asof_enrichment",
    "streaming_latest_state",
]

#: Registered corpus operators: SimHash near-duplicate detection (plan
#: build and a ``session.barrier`` dominate), IVF top-k, and JPEG feature
#: decoding (Python-worker bound).
CORPUS_OPS = [
    "simhash_near_dups",
    "embedding_ivf_topk",
    "multimodal_jpeg_features",
]

#: One DML round on the `orders`-derived ParquetTable, in call order.
DML_OPS = ["insert_ignore", "update", "delete", "dedup", "count"]

#: ``stored``: the input tables of a read-only workload; its
#: stored_bytes_per_row is the checkpoint bytes its builds keep per input row
#: (a DML workload reports its table's bytes per live row instead).
WORKLOADS = {
    "market_etl": {"reads": MARKET_READ_OPS, "dml": True},
    "corpus_curation": {"reads": CORPUS_OPS, "dml": False, "stored": ["documents", "embeddings"]},
}

#: Keys per insert batch; even keys start in the table, odd keys are new,
#: so every batch is half ignored and half inserted.
INSERT_BATCH = 2000
#: Customers matched by each UPDATE / DELETE predicate.
KEYS_PER_PREDICATE = 12


def pass_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """Op order of one pass. The DML round (market_etl) stays one block in
    call order; the block is placed among the reads by the seed."""
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}:{pass_no}")
    ops = list(spec["reads"])
    rng.shuffle(ops)
    if spec["dml"]:
        at = rng.randrange(len(ops) + 1)
        ops = ops[:at] + [f"dml.{op}" for op in DML_OPS] + ops[at:]
    return ops


def dml_round(seed: int, round_no: int, n_orders: int, n_customers: int) -> list[dict]:
    """The seeded DML calls of one round. Insert windows never repeat within
    a run (one slot per round from a seeded permutation of all slots)."""
    slots = list(range(n_orders // INSERT_BATCH))
    random.Random(f"dml-slots:{seed}").shuffle(slots)
    rng = random.Random(f"dml:{seed}:{round_no}")
    lo = slots[round_no % len(slots)] * INSERT_BATCH
    upd = sorted(rng.sample(range(n_customers), KEYS_PER_PREDICATE))
    dele = sorted(rng.sample(range(n_customers), KEYS_PER_PREDICATE))
    return [
        {"op": "insert_ignore", "lo": lo, "hi": lo + INSERT_BATCH},
        {"op": "update", "custkeys": upd, "priority": f"U-{round_no:04d}"},
        {"op": "delete", "custkeys": dele},
        {"op": "dedup"},
        {"op": "count"},
    ]


def duckdb_replay(con, orders_path: str, rounds: list[list[dict]]) -> list[list[int]]:
    """Apply the DML rounds to a DuckDB table ``t`` built from the same
    initial rows; returns, per round, the expected result of each call:
    rows inserted / matched / deleted / removed as duplicates / counted."""
    con.execute(
        f"CREATE OR REPLACE TABLE t AS SELECT * FROM read_parquet('{orders_path}') "
        "WHERE o_orderkey % 2 = 0"
    )
    out = []
    for ops in rounds:
        res = []
        for op in ops:
            n0 = con.execute("SELECT count(*) FROM t").fetchone()[0]
            kind = op["op"]
            if kind == "insert_ignore":
                con.execute(
                    "INSERT INTO t SELECT o_orderkey, o_custkey, o_orderstatus, "
                    "o_totalprice, o_orderdate, '9-INSERTED' AS o_orderpriority "
                    f"FROM read_parquet('{orders_path}') "
                    f"WHERE o_orderkey >= {op['lo']} AND o_orderkey < {op['hi']} "
                    "AND o_orderkey NOT IN (SELECT o_orderkey FROM t)"
                )
                res.append(con.execute("SELECT count(*) FROM t").fetchone()[0] - n0)
            elif kind == "update":
                keys = ",".join(map(str, op["custkeys"]))
                res.append(con.execute(
                    f"SELECT count(*) FROM t WHERE o_custkey IN ({keys})"
                ).fetchone()[0])
                con.execute(
                    f"UPDATE t SET o_orderpriority = '{op['priority']}' "
                    f"WHERE o_custkey IN ({keys})"
                )
            elif kind == "delete":
                keys = ",".join(map(str, op["custkeys"]))
                con.execute(f"DELETE FROM t WHERE o_custkey IN ({keys})")
                res.append(n0 - con.execute("SELECT count(*) FROM t").fetchone()[0])
            elif kind == "dedup":
                con.execute("CREATE OR REPLACE TABLE t AS SELECT DISTINCT * FROM t")
                res.append(n0 - con.execute("SELECT count(*) FROM t").fetchone()[0])
            else:
                res.append(n0)
        out.append(res)
    return out
