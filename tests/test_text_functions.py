"""Text analysis: token counts, lang-id, quality, fingerprints."""

import pytest


@pytest.fixture(scope="module")
def tdf(spark):
    rows = [
        (1, "the cat and the dog sat on the mat with grace"),
        (2, "der hund und die katze ist von den nicht zu"),
        (3, "el perro y la casa de los que en las"),
        (4, "漢字漢字漢字漢字漢字"),
        (5, ""),
        (6, "zzz qqq vvv"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count(tdf):
    from gitnexus_spark.functions.text import with_token_count

    got = {r["doc_id"]: r["n_tokens"] for r in with_token_count(tdf).collect()}
    assert got[1] == 11
    assert got[5] == 0
    assert got[6] == 3


def test_lang_id(tdf):
    from gitnexus_spark.functions.text import with_lang_id

    got = {r["doc_id"]: r["lang_pred"] for r in with_lang_id(tdf).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "es"
    assert got[4] == "zh"
    assert got[6] == "und"


def test_quality_monotone_in_stopwords(tdf):
    from gitnexus_spark.functions.text import with_quality_score

    got = {r["doc_id"]: r["quality"] for r in with_quality_score(tdf).collect()}
    assert got[1] > got[6]          # real prose beats gibberish
    assert 0.0 <= got[6] <= 1.0


def test_boilerplate_flag(spark):
    from gitnexus_spark.functions.text import with_quality_score

    long_first_line = "x" * 600
    df = spark.createDataFrame(
        [(1, long_first_line), (2, "short line\nmore text")], ["doc_id", "text"])
    got = {r["doc_id"]: r["is_boilerplate"] for r in with_quality_score(df).collect()}
    assert got[1] == 1 and got[2] == 0


def test_fingerprint_stable_and_discriminative(spark):
    from gitnexus_spark.functions.text import fingerprint_agg

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l"), (2, "a b c d e f g h i j k l"),
         (3, "totally different words here now")],
        ["doc_id", "text"])
    got = {r["doc_id"]: tuple(r["fingerprint"]) for r in fingerprint_agg(df).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]
    assert len(got[1]) <= 8


def test_repetition_stats(spark):
    from gitnexus_spark.functions.text import repetition_stats

    rows = [
        # 4 lines, one duplicated ("nav bar") -> dup_line_frac = 1 - 3/4
        (1, "nav bar\nreal content here\nnav bar\nfooter text"),
        # "spam spam spam spam" -> bigrams: 3x "spam spam" -> top 3/3
        (2, "spam spam spam spam"),
        # all-distinct words, no repeated line
        (3, "alpha beta gamma delta"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert got[1]["dup_line_frac"] == 0.25
    assert got[2]["top_gram_frac"] == 1.0
    assert got[2]["dup_line_frac"] == 0.0
    assert got[3]["top_gram_frac"] == round(1.0 / 3.0, 6)
    assert got[3]["n_words"] == 4
