"""The operators_hot tables and the oracle comparison, without Spark."""

import pyarrow.parquet as pq

from oracle_probe import _check_oracle, make_tables, oracle_frames, rows_errors

TINY = dict(customer=40, orders=300, lineitem=900, documents=20, embeddings=30)


def test_tables_are_a_function_of_the_seed(tmp_path):
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        make_tables(seed, str(tmp_path / d), TINY)
    read = lambda d: pq.read_table(tmp_path / d / "lineitem.parquet")  # noqa: E731
    assert read("a").equals(read("b")) and not read("a").equals(read("c"))


def test_rows_check_matches_the_oracle_and_catches_type_and_row_changes(tmp_path):
    make_tables(1, str(tmp_path), TINY)
    pdf = oracle_frames(str(tmp_path), ["a1_pricing_summary"])["a1_pricing_summary"]
    norm = _check_oracle().norm_cell
    cols = list(pdf.columns)
    rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    assert rows_errors(cols, list(reversed(rows)), pdf, norm) is None
    assert "rows" in rows_errors(cols, rows[1:], pdf, norm)
    i = cols.index("count_order")
    as_float = [r[:i] + (float(r[i]),) + r[i + 1:] for r in rows]
    assert "differing" in rows_errors(cols, as_float, pdf, norm)
