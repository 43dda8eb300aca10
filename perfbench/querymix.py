"""``query_mix``: registry queries over seeded star-schema tables.

Set-up writes the ten input tables (TPC-H-like star schema, an event
stream, a document corpus and an embedding table, one single-row-group
parquet file each, the same layout and vocabularies as the package's
test data) from the seed, and computes every query's registry DuckDB
oracle on them once. One pass runs the queries one at a time, in an
order drawn from the seed and the pass number: build the DataFrame
(``query.construct``, which includes any job the package fires while
building), ``collect()`` it (``query.execute``), then compare it with
the oracle outside the clock by row count, column names and the
order-insensitive multiset of values rounded to 6 decimals, with the
repository's own comparator (``tests/oracle_diff.py``).
``queries.release_caches()`` runs between queries. The op latency is
construct plus execute. After the queries, each pass runs the
streaming leg of ``perfbench/stream.py``.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench.harness import median
from perfbench.stream import StreamLeg

# The fixed costs the package is bound by at this scale, in as few
# queries as show them (the run budget also pays for the streaming
# leg): many small jobs for little work (pricing_summary), and schema
# inference and other jobs fired while the DataFrame is built
# (local_supplier_volume). The raster NDVI family is measured on its
# product path in scene_pipeline.
QUERIES = (
    "pricing_summary",
    "local_supplier_volume",
)

# rows per table: the size of the package's sf0.01 test data
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _days(rng, n: int, start: str, end: str):
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float):
    return np.round(rng.uniform(lo, hi, n), 2)


def synth_tables(seed: int) -> dict:
    """All ten input tables as pyarrow Tables, a pure function of seed."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 7])
    i32, i64 = pa.int32(), pa.int64()
    t: dict = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": list(rng.choice(SEGMENTS, n))})
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = ROWS["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": list(rng.choice(names, n)),
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
        "p_type": list(rng.choice(PART_TYPES, n)),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)})
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": list(rng.choice(PRIORITIES, n))})
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": list(rng.choice(["F", "O"], n)),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")})
    n = ROWS["events"]
    gaps = rng.exponential(259.0, n) * 1e6
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, 150, n), i64),
        "event_type": list(rng.choice(EVENT_TYPES, n)),
        "value": np.round(np.minimum(rng.exponential(20.0, n), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(i))].split()
            for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = WORDS[int(rng.integers(len(WORDS)))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), i64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n)),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(s) for s in texts], i64)})
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    centers *= 1.1 / np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[labels] + rng.normal(0, 0.125, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


class QueryMix:
    OP = "query"

    def __init__(self, spark, tracer, failures, work: str, seed: int) -> None:
        self.spark, self.tracer, self.failures = spark, tracer, failures
        self.data = os.path.join(work, "querymix")
        self.seed = seed
        self.op_ms: list[float] = []
        self.stream = StreamLeg(spark, tracer, failures, work, seed)

    def setup(self) -> None:
        import pyarrow.parquet as pq

        from biggis_landuse_spark.queries import bench_queries
        from tests.oracle_diff import _rowset, duck_connection

        os.makedirs(self.data)
        for name, table in synth_tables(self.seed).items():
            pq.write_table(
                table, os.path.join(self.data, f"{name}.parquet"),
                row_group_size=len(table) + 1,
            )
        self.specs = {q: bench_queries()[q] for q in QUERIES}
        con = duck_connection(self.data)
        try:
            self.oracle = {}
            for q, spec in self.specs.items():
                rel = con.sql(spec.oracle)
                cols = [c.lower() for c in rel.columns]
                self.oracle[q] = (sorted(cols), _rowset(rel.fetchall(), cols))
        finally:
            con.close()
        self.stream.setup()

    def run_pass(self, pass_id: int) -> float:
        from biggis_landuse_spark.queries import release_caches
        from tests.oracle_diff import _rowset

        fl, tr = self.failures, self.tracer
        order = np.random.default_rng([self.seed, 8, pass_id]).permutation(len(QUERIES))
        timed = 0.0
        for i in order:
            q = QUERIES[i]
            with fl.op(q) as st, tr.span("query", query=q) as sp:
                with tr.span("query.construct", query=q):
                    df = self.specs[q].spark(self.spark, self.data)
                with tr.span("query.execute", query=q):
                    rows = df.collect()
            dt_s = sp["end"] - sp["start"]
            timed += dt_s
            self.op_ms.append(dt_s * 1e3)
            if st["ok"]:
                cols = [c.lower() for c in df.columns]
                want_cols, want = self.oracle[q]
                got = _rowset(rows, cols)
                fl.check(
                    q, sorted(cols) == want_cols and got == want,
                    f"{len(got)} rows {sorted(cols)} vs oracle {len(want)} rows {want_cols}",
                )
            release_caches()
        return timed + self.stream.run_pass(pass_id)

    def detail(self) -> dict:
        return {
            "queries": len(QUERIES),
            "query_s": {q: median(self.tracer.per_pass("query", query=q)) for q in QUERIES},
            "cold_query_s": {
                s["query"]: s["end"] - s["start"]
                for s in self.tracer.by_name("query") if s["op"] == 0
            },
            **self.stream.detail(),
        }

    def layer_extras(self) -> dict:
        return self.stream.layer_extras()
