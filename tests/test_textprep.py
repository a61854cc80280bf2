"""M0: text layer — golden values from the reference's own docstrings, the
reference PorterStemmer run as a live oracle, and the per-url byte-identity
invariant (driver result == distributed Arrow-UDF result, byte for byte)."""

import importlib.util

import pytest

from gensim_spark.functions import textref
from tests.refload import REFERENCE_ROOT, requires_reference


def _load_reference_porter():
    spec = importlib.util.spec_from_file_location(
        "ref_porter", f"{REFERENCE_ROOT}/parsing/porter.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.PorterStemmer()


# --- golden values (reference docstrings, gensim/parsing/preprocessing.py) --

def test_remove_stopwords_golden():
    assert textref.remove_stopwords(
        "Better late than never, but better never late."
    ) == "Better late never, better late."


def test_preprocess_string_golden():
    assert textref.preprocess_string(
        "<i>Hel 9lo</i> <b>Wo9 rld</b>! Th3     weather_is really g00d today,"
        " isn't it?"
    ) == ["hel", "rld", "weather", "todai", "isn"]


def test_strip_punctuation_golden():
    assert textref.strip_punctuation(
        "A semicolon is a stronger break than a comma, but not as much as a"
        " full stop!"
    ) == "A semicolon is a stronger break than a comma  but not as much as a full stop "


def test_strip_tags_golden():
    assert textref.strip_tags("<i>Hello</i> <b>World</b>!") == "Hello World!"


def test_strip_short_golden():
    assert textref.strip_short("salut les amis du 59") == "salut les amis"
    assert textref.strip_short(
        "one two three four five six seven eight nine ten", minsize=5
    ) == "three seven eight"


def test_strip_numeric_golden():
    assert textref.strip_numeric("0text24gensim365test") == "textgensimtest"


def test_strip_non_alphanum_golden():
    assert textref.strip_non_alphanum(
        "if-you#can%read$this&then@this#method^works"
    ) == "if you can read this then this method works"


def test_strip_multiple_whitespaces_golden():
    assert textref.strip_multiple_whitespaces(
        "salut\r les\n         loulous!"
    ) == "salut les loulous!"


def test_split_alphanum_golden():
    assert textref.split_alphanum(
        "24.0hours7 days365 a1b2c3"
    ) == "24.0 hours 7 days 365 a 1 b 2 c 3"


def test_stem_text_golden():
    assert textref.stem_text(
        "While it is quite useful to be able to search a large collection of"
        " documents almost instantly."
    ) == ("while it is quit us to be abl to search a larg collect of document"
          " almost instantly.")


def test_deaccent_golden():
    # gensim/utils.py deaccent docstring
    assert textref.deaccent(
        "Šéf chomutovských komunistů dostal poštou bílý prášek"
    ) == "Sef chomutovskych komunistu dostal postou bily prasek"


def test_tokenize_deacc_golden():
    # gensim/utils.py tokenize docstring
    assert list(textref.tokenize(
        "Nic nemůže letět rychlostí vyšší, než 300 tisíc kilometrů za"
        " sekundu!", deacc=True
    )) == ["Nic", "nemuze", "letet", "rychlosti", "vyssi", "nez", "tisic",
           "kilometru", "za", "sekundu"]


def test_simple_preprocess_rules():
    # 2 <= len <= 15, drop '_'-prefixed, lowercase, digit-led runs split
    toks = textref.simple_preprocess("A _tag VeryLongToken" + "x" * 20 +
                                     " ab 12three")
    assert "a" not in toks and all(not t.startswith("_") for t in toks)
    assert "ab" in toks and "three" in toks


def test_decode_htmlentities():
    assert textref.decode_htmlentities("M&amp;M&#39;s &#x41; &bogus;") == \
        "M&M's A &bogus;"


# --- reference Porter as live oracle ----------------------------------------

@requires_reference("parsing/porter.py")
def test_porter_matches_reference_oracle():
    ref = _load_reference_porter()
    from gensim_spark.functions.porter import porter_stem
    from gensim_spark.functions.stopwords import STOPWORDS

    words = sorted(STOPWORDS) + [
        "conformabli", "vietnamization", "electriciti", "defensible",
        "adjustable", "irritant", "replacement", "adoption", "bowdlerize",
        "caresses", "ponies", "agreed", "plastered", "motoring", "hopping",
        "happy", "relational", "rational", "useful", "today", "sky", "die",
        "feed", "trees", "ties", "controll", "roll", "cease",
    ]
    for w in words:
        assert porter_stem(w) == ref.stem(w), w


# --- byte-identity invariant (distributed == driver) -------------------------

HTML_SAMPLES = [
    b"<html><!-- c --><body><b>M&amp;M&#39;s</b>  <i>caf\xc3\xa9</i></body></html>",
    b"<p>plain text</p>",
    b"<script>var x = '<b>not text</b>';</script>Visible &lt;tag&gt;",
    b"<style>.x{}</style>Hello\r\n\tWorld &#x263A;",
    "řeřicha a čížek".encode("utf-8"),
    b"",
]


def test_extraction_byte_identity_distributed(spark):
    from pyspark.sql import functions as F

    from gensim_spark.functions import textprep

    df = spark.createDataFrame(
        [(i, bytearray(h)) for i, h in enumerate(HTML_SAMPLES)],
        "doc_id long, html binary",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in textprep.extract_pages(df).select("doc_id", "text").collect()
    }
    for i, h in enumerate(HTML_SAMPLES):
        assert got[i] == textref.extract_html_text(h), i


def test_tokenize_udf_parity(spark):
    from pyspark.sql import functions as F

    from gensim_spark.functions import textprep

    texts = [
        "The quick brown fox",
        "Šéf žluťoučký 123abc _private toolongtokenxxxxxxxxxx",
        "M&M's and café",
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {
        r["doc_id"]: r["tokens"]
        for r in df.select(
            "doc_id", textprep.simple_preprocess_udf("text").alias("tokens")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == textref.simple_preprocess(t), t


def test_ascii_fast_path_equals_udf_path(spark):
    from pyspark.sql import functions as F

    from gensim_spark.functions import textprep

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = textprep.tokenize_pages(docs, ascii_fast_path=True).select(
        "doc_id", "tokens")
    b = textprep.tokenize_pages(docs, ascii_fast_path=False).select(
        "doc_id", F.col("tokens").alias("tokens_udf"))
    diff = a.join(b, "doc_id").filter(
        F.col("tokens") != F.col("tokens_udf")).count()
    assert diff == 0


def test_bow_counts_udf_matches_counter(spark):
    from gensim_spark.functions.textprep import bow_counts_udf

    df = spark.createDataFrame(
        [(0, ["b", "a", "b", "c", "a", "b"])], "doc_id long, tokens array<string>"
    )
    row = df.select(bow_counts_udf("tokens").alias("bow")).collect()[0]
    assert [(e["token"], e["tf"]) for e in row["bow"]] == [
        ("a", 2), ("b", 3), ("c", 1)
    ]
