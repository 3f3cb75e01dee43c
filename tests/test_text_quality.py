"""Text-quality functions."""

from pyspark.sql import functions as F

from kgcompass_spark.functions.text_quality import (
    bpe_ish_token_count,
    detect_language,
    fingerprint,
    quality_score,
    token_count,
)


def one(spark, text, col_builder):
    df = spark.createDataFrame([(text,)], "t string")
    return df.select(col_builder(F.col("t")).alias("v")).first()["v"]


def test_token_count(spark):
    assert one(spark, "a b  c\nd", token_count) == 4
    assert one(spark, "", token_count) == 0


def test_bpe_ish_token_count(spark):
    assert one(spark, "hello, world 42", bpe_ish_token_count) == 4  # hello | , | world | 42


def test_quality_score_ordering(spark):
    good = "The quick brown fox jumps over the lazy dog and it is a fine day in the park."
    bad = "xxxxx xxxxx xxxxx xxxxx !!!! 1234"
    assert one(spark, good, quality_score) > one(spark, bad, quality_score)
    assert 0.0 <= one(spark, bad, quality_score) <= 1.0


def test_detect_language(spark):
    assert one(spark, "the cat is in the house and it is warm", detect_language) == "en"
    assert one(spark, "der Hund ist nicht in das Haus und die Katze", detect_language) == "de"
    assert one(spark, "zzz qqq www", detect_language) == "und"


def test_fingerprint_whitespace_stable(spark):
    a = one(spark, "alpha beta gamma delta epsilon", fingerprint)
    b = one(spark, "alpha   beta\tgamma  delta epsilon", fingerprint)
    c = one(spark, "different words entirely here now", fingerprint)
    assert a == b
    assert a != c


def test_repetition_signals(spark):
    """Gopher-style repetition gate: duplicate-line fractions and top
    n-gram character fractions, all per-row Catalyst (no shuffle)."""
    from kgcompass_spark.functions.text_quality import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "a b\nc d\na b\n\n  \ne f"),
            (2, "x y x y x y x y"),
            (3, ""),
            (4, "one two"),
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", repetition_signals(F.col("text")).alias("s")
        ).select("doc_id", "s.*").collect()
    }
    r1 = rows[1]
    assert r1["n_lines"] == 4
    assert r1["dup_line_frac"] == 0.25          # one of four lines repeats
    assert r1["dup_line_char_frac"] == 0.5      # 6 of 12 line chars
    r2 = rows[2]
    assert r2["top2_char_frac"] == 0.8          # "x y" x4 x3 chars / 15
    # overlapping repeats can push the published formula past 1.0 — same
    # behavior as the reference implementations (count * len / text_len)
    assert r2["top4_char_frac"] > 1.0
    assert rows[3]["n_lines"] == 0 and rows[3]["top3_char_frac"] == 0.0
    assert rows[4]["top4_char_frac"] == 1.0     # degenerate whole-text gram


def test_gopher_quality_filter(spark):
    """Composite Gopher gate: first-violation reason in fixed rule order."""
    from kgcompass_spark.functions.text_quality import gopher_quality_filter

    long_good = (
        " ".join(f"alpha{i} beta{i}" for i in range(30)) + " the of and that"
    )  # 64 words, all distinct except the stopword tail — low repetition
    df = spark.createDataFrame(
        [
            (1, "too short"),                              # word_count
            (2, " ".join(f"word{i}" for i in range(60))),  # no stopwords
            (3, long_good),                                # passes
            (4, " ".join(["the office and"] * 30)),        # repetition trips
        ],
        "id int, text string",
    )
    rows = {
        r["id"]: r
        for r in df.select("id", gopher_quality_filter(F.col("text")).alias("g"))
        .select("id", "g.*")
        .collect()
    }
    assert rows[1]["reason"] == "word_count"
    assert rows[2]["reason"] == "stopwords"
    assert rows[3]["keep"] is True and rows[3]["reason"] is None
    assert rows[4]["keep"] is False and rows[4]["reason"].endswith("char_frac")
