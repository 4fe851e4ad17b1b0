from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proto_to_avro_ql_spark.functions import text as TX


def one(spark, text, col_fn):
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(col_fn(F.col("t")).alias("v")).first().v


class TestTokens:
    def test_ws_count(self, spark):
        assert one(spark, "a  b\tc", TX.token_count_ws) == 3
        assert one(spark, "", TX.token_count_ws) == 0
        assert one(spark, "   ", TX.token_count_ws) == 0

    def test_word_count(self, spark):
        assert one(spark, "don't stop-me now", TX.token_count_word) == 5

    def test_punct_ratio_empty(self, spark):
        assert one(spark, "", TX.punct_ratio) == 0.0

    def test_punct_ratio(self, spark):
        assert one(spark, "ab!?", TX.punct_ratio) == 0.5


class TestLangId:
    def test_english(self, spark):
        assert one(spark, "the cat and the dog of the house", TX.lang_id) == "en"

    def test_german(self, spark):
        assert one(spark, "der hund und die katze ist nicht da", TX.lang_id) == "de"

    def test_chinese(self, spark):
        assert one(spark, "这是一个中文句子", TX.lang_id) == "zh"

    def test_undetermined(self, spark):
        assert one(spark, "xyzzy plugh 42", TX.lang_id) == "und"


class TestFingerprint:
    def test_normalization_invariance(self, spark):
        a = one(spark, "Hello   World", TX.fingerprint)
        b = one(spark, "hello world", TX.fingerprint)
        c = one(spark, "hello worlds", TX.fingerprint)
        assert a == b
        assert a != c


class TestQuality:
    def test_good_doc(self, spark):
        text = "the quick brown fox jumps over the lazy dog " * 3
        assert one(spark, text, TX.quality_score) == 1.0

    def test_short_junk(self, spark):
        assert one(spark, "!!!", TX.quality_score) == 0.0


class TestBM25:
    def test_ranking_semantics(self, spark):
        from proto_to_avro_ql_spark.operators.lexical import bm25_search

        docs = spark.createDataFrame(
            [
                (1, "join join join filter stream"),  # all terms, high tf
                (2, "join filter padding padding padding"),
                (3, "join padding padding padding padding"),
                (4, "padding words only no match"),
            ],
            "doc_id long, text string",
        )
        out = bm25_search(docs, ["join", "filter", "stream"], top_k=10).collect()
        ranked = [r.doc_id for r in out]
        assert ranked == [1, 2, 3]  # 4 has no query terms → absent
        scores = {r.doc_id: r.bm25 for r in out}
        assert scores[1] > scores[2] > scores[3] > 0


class TestDsirWeights:
    def test_target_lang_scores_higher(self, spark, sf_dir):
        """DSIR semantics: with target = the English slice, English
        documents must dominate the per-token importance score — the
        mean normalized weight (dsir_micro / n_toks) of 'en' docs must
        exceed that of every other language, and the top-20 selection
        must be majority-English."""
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        top = QUERIES["ext_dsir_weights"](spark, sf_dir).collect()
        assert len(top) == 20
        en = sum(1 for r in top if r["lang"] == "en")
        assert en > 10, f"top-20 should be majority target-lang, got {en}"
        # weights are integer micros: exact, no float noise
        assert all(isinstance(r["dsir_micro"], int) for r in top)

    def test_deterministic(self, spark, sf_dir):
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        a = [tuple(r) for r in QUERIES["ext_dsir_weights"](spark, sf_dir).collect()]
        b = [tuple(r) for r in QUERIES["ext_dsir_weights"](spark, sf_dir).collect()]
        assert a == b


class TestTokenizerFertility:
    def test_fertility_semantics(self, spark, sf_dir):
        """Every whitespace word yields >=1 BPE-ish token (the regex
        partitions non-space text), so per-language fertility is
        >= 1.0; byte cost per token is positive; one row per lang."""
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        rows = QUERIES["ext_tokenizer_fertility"](spark, sf_dir).collect()
        langs = [r["lang"] for r in rows]
        assert langs == sorted(langs) and len(set(langs)) == len(langs)
        for r in rows:
            assert r["sum_bpe"] >= r["sum_ws"], r
            assert r["fertility_micro"] >= 1_000_000, r
            assert r["bytes_per_bpe_micro"] > 0, r


class TestTokenizeMatchesOracle:
    """The Spark tokenizer against the oracles' DuckDB spelling, on the
    edge inputs: blank, NULL, mixed whitespace, a vertical tab (Java's
    \\s matches it, RE2's does not), one token, two tokens and a
    no-break space (Python's \\s matches it, RE2's does not)."""

    CASES = ["", "   ", None, "a\tb\nc", "a\x0bb", "Word", "two  Words", "c\xa0d"]
    ORACLE = (
        r"SELECT list_filter(string_split(trim(regexp_replace(lower(?),"
        r" '\s+', ' ', 'g')), ' '), x -> x <> '')"
    )

    def _docs(self, spark):
        return spark.createDataFrame(list(enumerate(self.CASES)), "doc_id long, text string")

    def test_nonempty_tokens_match_duckdb(self, spark):
        import duckdb

        rows = self._docs(spark).select("doc_id", TX.nonempty_tokens(F.col("text")).alias("a"))
        got = {r.doc_id: r.a for r in rows.collect()}
        con = duckdb.connect()
        for i, text in enumerate(self.CASES):
            want = con.execute(self.ORACLE, [text]).fetchone()[0]
            assert got[i] == want, (text, got[i], want)

    def test_short_documents_produce_no_pairs(self, spark):
        from proto_to_avro_ql_spark.operators import lm as LM

        arrs = LM.token_arrays(self._docs(spark), "doc_id")
        pairs = LM.ngrams(arrs, "doc_id").collect()
        sizes = {r.doc_id: len(r.a or []) for r in arrs.collect()}
        assert sorted(r.doc_id for r in pairs) == sorted(
            i for i, n in sizes.items() for _ in range(n - 1)
        )
        assert {r.doc_id for r in pairs} == {3, 6}
        assert [(r.v, r.w) for r in pairs if r.doc_id == 6] == [("two", "words")]

    @pytest.mark.parametrize("name", ["ext_udtf_tokens", "ext_udtf_polymorphic"])
    def test_python_udtf_tokenizers_match_oracle(self, spark, tmp_path, name):
        """The Python UDTF entries tokenize the edge cases as their
        DuckDB oracles do."""
        import duckdb
        import pandas as pd

        from proto_to_avro_ql_spark.entry_queries import ORACLES, QUERIES
        from tests.oracle_check import value_hash

        pd.DataFrame({"doc_id": range(len(self.CASES)), "text": self.CASES}).to_parquet(
            tmp_path / "documents.parquet"
        )
        got = QUERIES[name](spark, str(tmp_path)).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
        )
        want = con.execute(ORACLES[name]).fetchdf()
        assert value_hash(got) == value_hash(want), (got, want)
