"""The operator layers neither the crawl nor the corpus job run —
``functions.robotstxt``, ``operators.similarity``, ``operators.linkrank``
— measured through the ``oracle_queries.QUERIES`` entries that exercise
them, plus the window and aggregation shapes the crawl's wave selection
and rate accounting are built from. Each workload's traced run probes
the queries nearest its own layers (``ORACLE_QUERIES`` in its module).

The tables are generated from the seed at the sf0.1 shape (600k
lineitem, 150k orders, 15k customers, 5k documents, 2k embeddings) with
the columns the queries read. Each query runs once, timed from plan
build to collected rows, and its rows must equal its DuckDB oracle SQL
(the ``tools/check_oracle.py`` comparison). Like the passes, the run is
not warmed up: its code generation is part of its time.
"""

from __future__ import annotations

import importlib.util
import os

ROWS = dict(customer=15_000, orders=150_000, lineitem=600_000,
            documents=5_000, embeddings=2_000)
WORDS = ("key agg row scan slow fast table value part hash merge batch "
         "spark the line sort window data column join small customer "
         "query order group filter stream big").split()
DAY_US = 86_400 * 1_000_000
EPOCH_1992_US = 694_224_000 * 1_000_000


def _check_oracle():
    """tools/check_oracle.py, loaded by path (tools/ is not a package)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def make_tables(seed: int, out_dir: str, rows: dict = ROWS) -> None:
    """One ``<table>.parquet`` per table the queries read."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def cents(lo, hi, n):
        return rng.integers(lo * 100, hi * 100, n) / 100

    def days(lo, hi, n):
        return pa.array(EPOCH_1992_US + rng.integers(lo, hi, n) * DAY_US,
                        pa.timestamp("us"))

    def pick(options, n):
        return pa.array(np.array(options)[rng.integers(0, len(options), n)])

    nc, no, nl = rows["customer"], rows["orders"], rows["lineitem"]
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(20, 80, rows["documents"])]
    emb = rng.normal(0.0, 0.15, (rows["embeddings"], 64)).astype(np.float32)
    tables = {
        "customer": {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(cents(-999, 9999, nc)),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], nc),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": pick(["F", "O", "P"], no),
            "o_totalprice": pa.array(cents(1000, 500_000, no)),
            "o_orderdate": days(0, 2400, no),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], no),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, no, nl)),
            "l_partkey": pa.array(rng.integers(0, 20_000, nl)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(cents(900, 100_000, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100),
            "l_returnflag": pick(["A", "N", "R"], nl),
            "l_linestatus": pick(["F", "O"], nl),
            "l_shipdate": days(1096, 3600, nl),
        },
        "documents": {
            "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pick(["en", "de", "fr", "zh"], len(texts)),
            "source": pa.array([f"src{i % 7}" for i in range(len(texts))]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        "embeddings": {
            "vec_id": pa.array(np.arange(len(emb), dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, len(emb)).astype(np.int32)),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def oracle_frames(sf_dir: str, queries) -> dict:
    """The DuckDB oracle result of each query, as pandas frames."""
    import duckdb

    from go_scrapper_spark.oracle_queries import QUERIES as ALL

    con = duckdb.connect()
    for name in ROWS:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, name)}.parquet'")
    try:
        return {q: con.sql(ALL[q][1]).df() for q in queries}
    finally:
        con.close()


def rows_errors(columns, rows, duck_pdf, norm_cell) -> str | None:
    """check_oracle.compare on rows already collected: same column
    names, same multiset of rows with type-tagged cells."""
    cols = sorted(columns)
    if cols != sorted(duck_pdf.columns):
        return f"columns {sorted(columns)} != oracle {sorted(duck_pdf.columns)}"
    idx = [list(columns).index(c) for c in cols]
    got = sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)
    want = sorted(tuple(norm_cell(v) for v in rec)
                  for rec in duck_pdf[cols].itertuples(index=False, name=None))
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    diff = next(((a, b) for a, b in zip(got, want) if a != b), None)
    return None if diff is None else f"first differing row {diff[0]!r} != {diff[1]!r}"


def layers(spark, tracer, seed: int, work: str, queries) -> dict:
    """``oracle.<query>_s`` for each of ``queries``; raises if any
    result differs from its oracle."""
    from go_scrapper_spark.oracle_queries import QUERIES as ALL

    sf_dir = os.path.join(work, "oracle-tables")
    make_tables(seed, sf_dir)
    expected = oracle_frames(sf_dir, queries)
    norm_cell = _check_oracle().norm_cell
    out, errs = {}, []
    for q in queries:
        with tracer.span(f"probe.oracle.{q}") as sp:
            df = ALL[q][0](spark, sf_dir)
            rows = df.collect()
        out[f"oracle.{q}_s"] = sp["end"] - sp["start"]
        err = rows_errors(df.columns, rows, expected[q], norm_cell)
        if err:
            errs.append(f"oracle.{q}: {err}")
    if errs:
        raise AssertionError("; ".join(errs))
    return out
