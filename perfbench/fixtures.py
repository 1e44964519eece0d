"""Seeded inputs for the benchmark and the independent expectations the
outputs are checked against.

Every input is generated here from ``--seed`` with NumPy and written as
files; the library under test only ever reads those files. The
expectations come from DuckDB over the same files (for the sync job) or
from the registry's own oracle SQL over the same tables (for the stream
folds and the graph loops), so a check never asks Spark to grade itself.

Shapes follow the repository's fixture derivations: a TPC-H-like star
(``part``, ``orders``, ``lineitem``) plus an ``embeddings`` table, from
which the related-items job root is built in the reference layout
(batch-inference JSONL, user-item CSV, item-metadata JSONL).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_RECS = 5
EMB_DIM = 64
ERROR_SHARE = 0.10  # share of query items whose inference row is an error
META_MISS_EVERY = 7  # every 7th item has no metadata row
CONNECTOR = "braze"
META_FIELDS = ("name", "category", "price")
ATTR_PREFIX = "recs_"
OTHER_ATTRIBUTES = {"source": "perfbench"}

_WORDS = ("red", "blue", "small", "large", "steel", "oak", "bolt", "ring", "widget", "lamp")
_TYPES = ("ECONOMY", "SMALL", "LARGE", "PROMO", "STANDARD")


@dataclass(frozen=True)
class Scale:
    """Table cardinalities; ``lines_per_order`` and ``orders_per_user``
    keep the TPC-H fan-outs (4 and 10) at every size."""

    parts: int
    orders: int
    embeddings: int
    lines_per_order: int = 4
    orders_per_user: int = 10

    @property
    def users(self) -> int:
        return max(1, self.orders // self.orders_per_user)


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------


def write_tables(out_dir: str, seed: int, scale: Scale) -> None:
    """Write ``part``, ``orders``, ``lineitem`` and ``embeddings`` as
    parquet files named like the repository's test data, so registry
    queries and their oracle SQL run on them unchanged."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    p = np.arange(scale.parts, dtype=np.int64)
    part = pa.table({
        "p_partkey": p,
        "p_name": [f"{_WORDS[a]} {_WORDS[b]}" for a, b in rng.integers(0, len(_WORDS), (scale.parts, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, scale.parts)],
        "p_type": [_TYPES[t] for t in rng.integers(0, len(_TYPES), scale.parts)],
        "p_size": rng.integers(1, 51, scale.parts).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 2000.0, scale.parts), 2),
    })
    o = np.arange(scale.orders, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": o,
        "o_custkey": rng.integers(0, scale.users, scale.orders).astype(np.int64),
    })
    n_lines = rng.integers(1, 2 * scale.lines_per_order, scale.orders)
    lineitem = pa.table({
        "l_orderkey": np.repeat(o, n_lines),
        "l_partkey": rng.integers(0, scale.parts, int(n_lines.sum())).astype(np.int64),
    })
    vecs = rng.standard_normal((scale.embeddings, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(scale.embeddings, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, scale.embeddings).astype(np.int32),
    })
    for name, table in (("part", part), ("orders", orders), ("lineitem", lineitem),
                        ("embeddings", embeddings)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def duck(tables_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for name in ("part", "orders", "lineitem", "embeddings"):
        path = os.path.join(tables_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


# ---------------------------------------------------------------------------
# related-items job root
# ---------------------------------------------------------------------------


def write_job_inputs(root: str, tables_dir: str, seed: int, changed_share: float = 0.0) -> list[str]:
    """Write a related-items job root from the tables: one inference row
    per part (a seeded 10% are error rows, the rest carry 5 seeded
    recommendations), the distinct (customer, part) pairs of
    orders ⋈ lineitem as the CSV mapping, and part metadata with every
    7th key missing.

    ``changed_share`` > 0 gives a later day's batch: that share of the
    successful query items, picked by the seed, get a different list.
    Returns the changed query item ids (empty for a first day)."""
    con = duck(tables_dir)
    n_items = con.execute("SELECT count(*) FROM part").fetchone()[0]
    rng = np.random.default_rng(seed)
    is_error = rng.random(n_items) < ERROR_SHARE
    recs = rng.integers(0, n_items, (n_items, N_RECS))
    changed = np.zeros(n_items, dtype=bool)
    if changed_share > 0:
        day2 = np.random.default_rng([seed, 2])
        ok_ids = np.flatnonzero(~is_error)
        pick = day2.choice(ok_ids, max(1, round(changed_share * len(ok_ids))), replace=False)
        changed[pick] = True
        # rotate the list and replace its head: never equal to day 1
        recs[pick] = np.roll(recs[pick], 1, axis=1)
        recs[pick, 0] = (recs[pick, 0] + 1 + day2.integers(0, n_items - 1, len(pick))) % n_items

    bi_dir = os.path.join(root, "batch_inference")
    os.makedirs(bi_dir, exist_ok=True)
    n_files = 8
    files = [open(os.path.join(bi_dir, f"part-{k:05d}.json"), "w") for k in range(n_files)]
    try:
        for item in range(n_items):
            if is_error[item]:
                row = {"input": {"itemId": str(item)}, "error": "ITEM_NOT_IN_DATASET"}
            else:
                row = {"input": {"itemId": str(item)},
                       "output": {"recommendedItems": [str(r) for r in recs[item]]}}
            files[item % n_files].write(json.dumps(row) + "\n")
    finally:
        for f in files:
            f.close()

    map_dir = os.path.join(root, "user_item_mapping")
    os.makedirs(map_dir, exist_ok=True)
    con.execute(f"""
        COPY (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS USER_ID,
                              CAST(l_partkey AS VARCHAR) AS ITEM_ID
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        TO '{map_dir}/mapping.csv' (HEADER, DELIMITER ',')""")

    meta_dir = os.path.join(root, "item_metadata")
    os.makedirs(meta_dir, exist_ok=True)
    rows = con.execute(f"""
        SELECT CAST(p_partkey AS VARCHAR), p_name, p_type, p_retailprice, CAST(p_size AS BIGINT)
        FROM part WHERE p_partkey % {META_MISS_EVERY} <> 0 ORDER BY p_partkey""").fetchall()
    with open(os.path.join(meta_dir, "items.json"), "w") as f:
        for id_, name, category, price, stock in rows:
            f.write(json.dumps({"id": id_, "name": name, "category": category,
                                "price": price, "current_stock": stock}) + "\n")
    con.close()
    return [str(i) for i in np.flatnonzero(changed)]


@dataclass(frozen=True)
class Expected:
    """Row count and order-independent digest of an output multiset."""

    rows: int
    digest: int


def expected_payloads(root: str, only_items: list[str] | None = None) -> tuple[Expected, int]:
    """DuckDB's reading of the job root: the user-track payload each
    (user, query item) pair should produce, digested, plus the number of
    error rows. ``only_items`` restricts the expectation to those query
    items (the records a delta re-sync must deliver)."""
    con = duckdb.connect()
    fields = ", ".join(f"list(m.{f} ORDER BY x.pos) AS {f}" for f in META_FIELDS)
    only = ""
    if only_items is not None:
        con.execute("CREATE TABLE only_items (q VARCHAR)")
        con.executemany("INSERT INTO only_items VALUES (?)", [(q,) for q in only_items])
        only = "WHERE ok.q IN (SELECT q FROM only_items)"
    rows = con.execute(f"""
        WITH b AS (
          SELECT * FROM read_json('{root}/batch_inference/*.json', format='newline_delimited',
            columns={{input: 'STRUCT(itemId VARCHAR)',
                      output: 'STRUCT(recommendedItems VARCHAR[])', error: 'VARCHAR'}})),
        ok AS (SELECT input.itemId AS q, output.recommendedItems AS recs FROM b WHERE error IS NULL),
        x AS (SELECT q, unnest(recs) AS item, generate_subscripts(recs, 1) AS pos FROM ok {only}),
        m AS (SELECT * FROM read_json('{root}/item_metadata/*.json', format='newline_delimited',
            columns={{id: 'VARCHAR', name: 'VARCHAR', category: 'VARCHAR',
                      price: 'DOUBLE', current_stock: 'BIGINT'}})),
        per_item AS (
          SELECT x.q, list(x.item ORDER BY x.pos) AS itemId, {fields}
          FROM x LEFT JOIN m ON x.item = m.id GROUP BY x.q),
        u AS (SELECT DISTINCT USER_ID, ITEM_ID FROM read_csv('{root}/user_item_mapping/*.csv',
                header=true, all_varchar=true))
        SELECT u.USER_ID, p.itemId, {", ".join(f"p.{f}" for f in META_FIELDS)}
        FROM per_item p JOIN u ON u.ITEM_ID = p.q""").fetchall()
    n_errors = con.execute(f"""
        SELECT count(*) FROM read_json('{root}/batch_inference/*.json', format='newline_delimited',
          columns={{input: 'STRUCT(itemId VARCHAR)', error: 'VARCHAR'}}) WHERE error IS NOT NULL
        """).fetchone()[0]
    con.close()
    recs = []
    for user, item_ids, *meta in rows:
        rec = {"external_id": user, f"{ATTR_PREFIX}itemId": item_ids, **OTHER_ATTRIBUTES}
        rec.update({f"{ATTR_PREFIX}{f}": v for f, v in zip(META_FIELDS, meta)})
        recs.append(rec)
    return multiset_digest(recs), n_errors


def multiset_digest(items) -> Expected:
    """Count and order-independent 64-bit digest of JSON-able items
    (dict keys sorted)."""
    n = digest = 0
    for item in items:
        raw = json.dumps(item, sort_keys=True, default=str, separators=(",", ":")).encode()
        digest = (digest + int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "big")) % 2**64
        n += 1
    return Expected(n, digest)


def rows_digest(rows, columns: list[str]) -> Expected:
    """Digest of result rows, columns taken by name in sorted order;
    floats are compared to 9 significant digits so Spark and DuckDB
    agree on the last bits of a double."""
    order = sorted(range(len(columns)), key=lambda k: columns[k])

    def canon(v):
        return float(f"{v:.9g}") if isinstance(v, float) and math.isfinite(v) else v

    return multiset_digest([canon(row[k]) for k in order] for row in rows)


def oracle_digests(tables_dir: str, sql: dict[str, str], names) -> dict[str, Expected]:
    """Digest of each named registry oracle query, run by DuckDB over the
    generated tables."""
    con = duck(tables_dir)
    out = {}
    for n in names:
        cur = con.execute(sql[n])
        out[n] = rows_digest(cur.fetchall(), [d[0] for d in cur.description])
    con.close()
    return out


# ---------------------------------------------------------------------------
# stream landings
# ---------------------------------------------------------------------------


def land_stream_files(tables_dir: str, landing: str, seed: int, n_files: int) -> None:
    """Split the stream inputs into ``n_files`` parquet files each, rows
    assigned to files by the seed: interactions (u, i) as the registry's
    model-refresh query derives them (a quarter of the customers), and
    the embeddings."""
    con = duck(tables_dir)
    inter = con.execute("""
        SELECT CAST(o_custkey AS BIGINT) AS u, CAST(l_partkey AS BIGINT) AS i
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey % 4 = 0 ORDER BY o_orderkey, l_partkey""").arrow()
    emb = pq.read_table(os.path.join(tables_dir, "embeddings.parquet"),
                        columns=["vec_id", "embedding"])
    con.close()
    rng = np.random.default_rng([seed, 3])
    for name, table in (("interactions", inter), ("embeddings", emb)):
        out = os.path.join(landing, name)
        os.makedirs(out, exist_ok=True)
        which = rng.integers(0, n_files, table.num_rows)
        for k in range(n_files):
            pq.write_table(table.filter(pa.array(which == k)),
                           os.path.join(out, f"part-{k:05d}.parquet"))
