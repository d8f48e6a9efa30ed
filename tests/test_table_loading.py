"""``tables.load_table`` reuses a file's inferred schema: a repeat load of
an unchanged file plans without the footer-inference job, and a file
rewritten at the same path is inferred again."""

import pyarrow as pa
import pyarrow.parquet as pq

from apache_iceberg_lakehouse_workshop_spark.tables import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_repeat_load_reuses_the_inferred_schema(spark, tmp_path, count_jobs):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["x", "y", "z"]}),
                   str(tmp_path / "t.parquet"))
    jobs, first = count_jobs(lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs >= 1  # the footer read that infers the schema
    jobs, again = count_jobs(lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert again.schema == first.schema
    assert _rows(again) == _rows(first) == [(1, "x"), (2, "y"), (3, "z")]


def test_rewritten_file_is_inferred_again(spark, tmp_path, count_jobs):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [3], "w": [4.5], "note": ["n"]}), path)
    jobs, df = count_jobs(lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs >= 1
    assert df.columns == ["k", "w", "note"]
    assert _rows(df) == [(3, 4.5, "n")]
