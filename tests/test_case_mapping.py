"""The tokenizers read the same tokens whichever case mapping the JVM
uses: ICU's (``spark.sql.icu.caseMappings.enabled=true``) or the JVM's
own, which the engine's sessions select (it skips ICU's title-case table
initialisation, seconds of start-up in every fresh JVM)."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from apache_iceberg_lakehouse_workshop_spark.operators import textstats as TS
from apache_iceberg_lakehouse_workshop_spark.operators.text_index import _postings_of

ICU = "spark.sql.icu.caseMappings.enabled"

# strings whose case mapping depends on context or expands
CONTEXT = ["ΑΣ", "ΌΣΟΣ ΑΣ.", "İstanbul", "ǅemal", "straße", "ﬁne ﬂow", "ΣΑΣ σ", "Ǳ ǲ ǳ", "ŉ Ⅻ ⓐ"]


def test_sessions_use_jvm_case_mapping(spark):
    assert spark.conf.get(ICU) == "false"


def test_tokenizers_ignore_icu_case_mapping(spark, tmp_path):
    texts = [chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF] + CONTEXT
    table = pa.table({"id": pa.array(range(len(texts)), pa.int64()), "s": texts})
    src = tmp_path / "codepoints"
    src.mkdir()
    step = -(-len(texts) // 8)  # eight files: eight scan tasks, not one
    for i in range(8):
        pq.write_table(table.slice(i * step, step), str(src / f"part-{i}.parquet"))
    docs = spark.read.parquet(str(src))
    out = {}
    try:
        for icu in ("true", "false"):
            spark.conf.set(ICU, icu)
            path = str(tmp_path / f"icu_{icu}")
            docs.select(
                "id",
                F.lower("s").alias("lower"),
                F.upper("s").alias("upper"),
                TS.normalized_text(F.col("s")).alias("norm"),
                TS.tokens(F.col("s")).alias("toks"),
            ).write.parquet(path + "_rows")
            _postings_of(docs, "id", "s").write.parquet(path + "_postings")
            out[icu] = (spark.read.parquet(path + "_rows"), spark.read.parquet(path + "_postings"))
    finally:
        spark.conf.set(ICU, "false")
    (icu_rows, icu_post), (jvm_rows, jvm_post) = out["true"], out["false"]
    pair = icu_rows.alias("i").join(jvm_rows.alias("j"), "id")
    cols = ("lower", "upper", "norm", "toks")
    differ = pair.agg(
        F.count("*").alias("rows"),
        *(F.sum((~F.col(f"i.{c}").eqNullSafe(F.col(f"j.{c}"))).cast("long")).alias(c)
          for c in cols),
    ).collect()[0].asDict()
    assert differ["rows"] == len(texts)
    # the setting took effect: the two mappings disagree on some code points
    assert differ["lower"] > 0 and differ["upper"] > 0, differ
    assert differ["norm"] == 0 and differ["toks"] == 0, differ
    assert icu_post.exceptAll(jvm_post).count() == 0
    assert jvm_post.exceptAll(icu_post).count() == 0
