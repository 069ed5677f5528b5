"""Round-5 operators: context-window chunking and text normalization.

Covers the plan pins the operator docstrings promise (chunking and
normalization are MAP-ONLY: zero Exchange) plus the value semantics the
DuckDB oracles can't see alone (chunk reconstruction, null and short
content)."""

import contextlib
import io
import re

import pytest
from pyspark.sql import Row, functions as F

from datatest_spark.operators import packing


def _plan(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _exchanges(plan_text):
    return len(re.findall(r"\(\d+\) Exchange", plan_text))


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(sf_dir + "/documents.parquet")


class TestChunkDocuments:
    def test_hand_example_overlapping(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="abcdefghij")])
        rows = {
            r["chunk_index"]: r
            for r in packing.chunk_documents(
                df, size=4, stride=3, min_len=2
            ).collect()
        }
        # starts 0,3,6,9; the start-9 tail "j" has len 1 < min_len=2
        assert sorted(rows) == [0, 1, 2]
        assert rows[0]["chunk"] == "abcd" and rows[0]["chunk_start"] == 0
        assert rows[1]["chunk"] == "defg" and rows[1]["chunk_start"] == 3
        assert rows[2]["chunk"] == "ghij" and rows[2]["chunk_len"] == 4

    def test_non_overlapping_default_stride(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="abcdefghij")])
        chunks = [
            r["chunk"]
            for r in packing.chunk_documents(df, size=4)
            .orderBy("chunk_index")
            .collect()
        ]
        assert chunks == ["abcd", "efgh", "ij"]

    def test_reconstruction_covers_text(self, docs):
        # non-overlapping chunks concatenate back to the original text
        got = (
            packing.chunk_documents(docs.limit(50), size=100)
            .groupBy("doc_id")
            .agg(
                F.concat_ws(
                    "", F.array_sort(F.collect_list(F.struct("chunk_index", "chunk")))
                    .getField("chunk")
                ).alias("rebuilt")
            )
        )
        joined = got.join(docs.select("doc_id", "text"), "doc_id")
        bad = joined.where(F.col("rebuilt") != F.col("text")).count()
        assert bad == 0

    def test_token_array_column(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, toks=[10, 11, 12, 13, 14])]
        )
        rows = (
            packing.chunk_documents(df, content_col="toks", size=2)
            .orderBy("chunk_index")
            .collect()
        )
        assert [r["chunk"] for r in rows] == [[10, 11], [12, 13], [14]]
        assert [r["chunk_len"] for r in rows] == [2, 2, 1]

    def test_null_and_short_content_dropped(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, text=None), Row(doc_id=2, text="a")]
        )
        assert packing.chunk_documents(df, size=4, min_len=2).count() == 0

    def test_passthrough_and_validation(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="abcd", src="web")])
        out = packing.chunk_documents(df, size=2, passthrough=("src",))
        assert out.select("src").distinct().collect()[0][0] == "web"
        for bad in (
            dict(size=0),
            dict(size=4, stride=0),
            dict(size=4, min_len=0),
        ):
            with pytest.raises(ValueError):
                packing.chunk_documents(df, **bad)

    def test_plan_is_map_only(self, docs):
        p = _plan(packing.chunk_documents(docs, size=120, stride=80))
        assert _exchanges(p) == 0


class TestNormalizeText:
    def test_variants_collapse_to_one_hash(self, spark):
        from datatest_spark.operators import dedup, text

        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="Hello, World!  42"),
                Row(doc_id=2, text="hello world 42"),
                Row(doc_id=3, text="HELLO\tworld...\n42"),
                Row(doc_id=4, text="something else"),
            ]
        )
        groups = dedup.exact_duplicates(
            df, text_col=text.normalize_text()
        ).collect()
        assert len(groups) == 1
        assert groups[0]["doc_ids"] == [1, 2, 3]

    def test_flags(self, spark):
        from datatest_spark.operators.text import normalize_text

        df = spark.createDataFrame([Row(text="Ab, 12  x")])
        got = df.select(
            normalize_text("text").alias("full"),
            normalize_text("text", strip_digits=True).alias("nodigit"),
            normalize_text("text", lowercase=False).alias("case"),
            normalize_text(
                "text", strip_punct=False, collapse_ws=False
            ).alias("raw_ws"),
        ).collect()[0]
        assert got["full"] == "ab 12 x"
        assert got["nodigit"] == "ab x"
        assert got["case"] == "Ab 12 x"
        assert got["raw_ws"] == "ab, 12  x"

    def test_map_only_plan(self, docs):
        from datatest_spark.operators.text import normalize_text

        p = _plan(docs.select(normalize_text().alias("n")))
        assert _exchanges(p) == 0
