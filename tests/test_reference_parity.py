"""Parity with the reference's OWN unit-test cases and Python semantics.

Sources (cited per test):
  - content-type cases: reference test_utils.py test_determine_content_type
  - filename cases: reference test_api_client.py test_create_file_name_for_upload
  - trim/upload property corpus: checked against a verbatim Python
    transcription of api_client.py:120 _create_file_name_for_upload

Property-style coverage uses a seeded adversarial corpus (multi-byte
chars straddling every chop boundary, boundary lengths, emoji,
combining marks) evaluated in ONE Spark job against the Python model —
same power as per-example hypothesis here, without a Spark job per
example.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from navigator_data_ingest_spark.functions.content import (
    detect_content_type,
    trimmed_name_col,
    upload_file_name,
)
from navigator_data_ingest_spark.functions.text import slugify_col
from navigator_data_ingest_spark.operators.ingest import fetch_url_col

# --- reference test_utils.py::test_determine_content_type cases ---------

PDF = "application/pdf"
HTML = "text/html"
DOC = "application/msword"
DOCX = "application/vnd.openxmlformats-officedocument.wordprocessingml.document"

OLE2 = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 8

CONTENT_TYPE_CASES = [
    (b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n", "https://example.com/document", "", PDF),
    (b"%PDF-1.7\n1 0 obj\n", "https://example.com/file.html", "text/html", PDF),
    (b"", "https://example.com/document.pdf", "", PDF),
    (b"<!DOCTYPE html>\n<html></html>", "https://example.com/page.html", "", HTML),
    (b"<html><head></head></html>", "https://example.com/document.html", "", HTML),
    (b"Plain content", "https://example.com/document.docx", "", DOCX),
    (OLE2 + b">\x00\x03\x00", "https://example.com/document.doc", "", DOC),
    (b"", "https://example.com/document", "application/pdf", PDF),
    (b"<!DOCTYPE html>\n<html><body></body></html>", "https://example.com/page", "text/html", HTML),
    (b"Plain text", "https://example.com/file", "text/html", HTML),
    (OLE2, "https://example.com/file", "application/msword", DOC),
    (b"", "https://example.com/page", "text/html; charset=utf-8", HTML),
    (b"Just some text", "https://example.com/file", "", ""),
    (b"Plain text", "https://example.com/file.xyz", "", ""),
]


def test_content_type_matches_reference_cases(spark):
    rows = [
        (i, content.hex().upper(), url, header)
        for i, (content, url, header, _) in enumerate(CONTENT_TYPE_CASES)
    ]
    df = spark.createDataFrame(rows, "i int, head_hex string, source_url string, header string")
    got = {
        r.i: r.ct
        for r in df.select(
            "i",
            detect_content_type(
                F.col("head_hex"), F.col("source_url"), F.col("header")
            ).alias("ct"),
        ).collect()
    }
    for i, (_, url, header, want) in enumerate(CONTENT_TYPE_CASES):
        assert got[i] == want, f"case {i} ({url!r}, {header!r}): {got[i]!r} != {want!r}"


# --- reference test_api_client.py::test_create_file_name_for_upload -----

LONG_NAME = (
    "National_Climate_Change_Adaptation_Strategy_and_Implementation_Plan_for_"
    "Sustainable_Development_Goals_Integration_and_Resilience_Building_Across_"
    "Multiple_Sectors_Including_Agriculture_Water_Energy"
)

FILENAME_CASES = [
    ("abc123def456", "test_document", "files/2024",
     "files/2024/test_document_abc123def456.pdf"),
    ("def456ghi789", "a" * 250, "PROD/2025",
     f"PROD/2025/{'a' * 200}_def456ghi789.pdf"),
    ("789xyz123abc", LONG_NAME, "files/2023/Q4",
     f"files/2023/Q4/{LONG_NAME}_789xyz123abc.pdf"),
    ("1234567890abcdef1234567890abcdef", "B" * 200,
     "very/long/prefix/path/" + "A" * 800,
     f"very/long/prefix/path/{'A' * 800}/{'B' * 164}_1234567890abcdef1234567890abcdef.pdf"),
]


def test_upload_file_name_matches_reference_cases(spark):
    rows = [(i, h, n, p) for i, (h, n, p, _) in enumerate(FILENAME_CASES)]
    df = spark.createDataFrame(rows, "i int, h string, n string, p string")
    got = {
        r.i: r.fn
        for r in df.select(
            "i",
            upload_file_name(
                F.col("p"), F.col("n"), F.col("h"), F.lit(".pdf")
            ).alias("fn"),
        ).collect()
    }
    for i, (_, _, _, want) in enumerate(FILENAME_CASES):
        assert got[i] == want, f"case {i}"
        assert len(got[i].encode()) <= 1024


# --- fetch URL (new_document_actions.py:35-48) --------------------------

# (download_url, source_url, the URL fetched): an empty string is unset
FETCH_URL_CASES = [
    ("", "https://example.com/s1", "https://example.com/s1"),
    ("https://example.com/d2", "https://example.com/s2", "https://example.com/d2"),
    ("https://example.com/d3", "", "https://example.com/d3"),
    (None, "https://example.com/s4", "https://example.com/s4"),
    ("", "", None),
    ("", None, None),
    (None, None, None),
]


def test_fetch_url_treats_empty_download_url_as_unset(spark):
    """An empty download_url falls through to source_url, in the Spark
    rule and in the DuckDB form the watermark, report, e2e and URL-dedup
    oracles use."""
    import duckdb

    rows = [(i, d, s) for i, (d, s, _) in enumerate(FETCH_URL_CASES)]
    want = {i: u for i, (_, _, u) in enumerate(FETCH_URL_CASES)}
    df = spark.createDataFrame(rows, "i int, download_url string, source_url string")
    got = {r.i: r.u for r in df.select("i", fetch_url_col().alias("u")).collect()}
    assert got == want
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, download_url VARCHAR, source_url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    oracle = con.execute(
        "SELECT i, coalesce(nullif(download_url, ''), nullif(source_url, '')) FROM t"
    ).fetchall()
    assert dict(oracle) == want


# --- property corpus vs verbatim Python model (api_client.py:120) -------


def _ref_trim(name: str, max_bytes: int = 200) -> str:
    out = name[:max_bytes]
    while len(out.encode("utf-8")) > max_bytes:
        out = out[:-5]
    return out


def _ref_upload_name(file_hash: str, name: str, suffix: str, prefix: str) -> str:
    fs = _ref_trim(name)
    budget = 1024 - len(prefix) - len(suffix) - len(file_hash) - len("_.")
    return f"{prefix}/{fs[:budget]}_{file_hash}{suffix}"


def _corpus() -> list[str]:
    rng = random.Random(42)
    alphabet = "ab é中\U0001f600́-_.!"  # 1..4-byte chars + combining
    out = [
        "", "a", "-", "a" * 199, "a" * 200, "a" * 201, "a" * 250,
        "é" * 100, "é" * 101,       # 2-byte chars around the boundary
        "中" * 66, "中" * 67, "中" * 200,   # 3-byte chars
        "\U0001f600" * 50, "\U0001f600" * 51, # 4-byte chars
        "a" * 195 + "中" * 5,             # boundary straddle
        "don't STOP! Élève  -- café",
    ]
    for _ in range(200):
        out.append("".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 260))))
    return out


def test_trim_property_corpus(spark):
    corpus = _corpus()
    df = spark.createDataFrame([(i, s) for i, s in enumerate(corpus)], "i int, s string")
    got = {
        r.i: r.t
        for r in df.select("i", trimmed_name_col(F.col("s")).alias("t")).collect()
    }
    for i, s in enumerate(corpus):
        want = _ref_trim(s)
        assert got[i] == want, f"corpus[{i}]={s!r}: {got[i]!r} != {want!r}"


def test_upload_name_property_corpus(spark):
    corpus = _corpus()
    rows = [(i, s, f"GEO/{1990 + i % 35}", "d41d8cd98f00b204e9800998ecf8427e")
            for i, s in enumerate(corpus)]
    df = spark.createDataFrame(rows, "i int, s string, p string, h string")
    got = {
        r.i: r.fn
        for r in df.select(
            "i",
            upload_file_name(F.col("p"), F.col("s"), F.col("h"), F.lit(".pdf")).alias("fn"),
        ).collect()
    }
    for i, s in enumerate(corpus):
        want = _ref_upload_name("d41d8cd98f00b204e9800998ecf8427e", s, ".pdf", f"GEO/{1990 + i % 35}")
        assert got[i] == want, f"corpus[{i}]={s!r}"


def test_slugify_python_slugify_parity(spark):
    """Pin python-slugify behaviour (the reference's slugifier) on its
    own documented examples plus accent/quote/number cases: ASCII
    apostrophes become separators, smart quotes vanish, Latin accents
    transliterate, commas inside numbers drop. Remaining divergence:
    non-Latin scripts are dropped, not romanized (unidecode tables)."""
    cases = [
        ("C'est déjà l'été.", "c-est-deja-l-ete"),        # python-slugify README
        ("jaja---lol-méméméoo--a", "jaja-lol-mememeoo-a"),  # python-slugify README
        ("Côte d'Ivoire", "cote-d-ivoire"),
        ("don’t stop", "dont-stop"),
        ("Über Straße", "uber-strasse"),
        ("1,000 reasons", "1000-reasons"),
        ("1,2,3,4,5", "12345"),
        ("Æon Œuvre Þing", "aeon-oeuvre-thing"),
        # Cyrillic (unidecode x004 table): digraphs, Ь removal, Ъ separator
        ("Москва и Санкт-Петербург", "moskva-i-sankt-peterburg"),
        ("Щедрість", "shchedrist"),
        ("весь съезд", "ves-s-ezd"),
        ("Ёлка хорошая", "iolka-khoroshaia"),
        # Greek (unidecode x003 table): eta->e, digraphs, tonos accents
        ("Ελληνική Δημοκρατία", "ellenike-demokratia"),
        ("Ψυχή και φιλοσοφία", "psukhe-kai-philosophia"),
        # CJK fold (functions/translit_cjk.py): pinyin for curated Han,
        # full kana romaji, algorithmic Hangul jamo decomposition
        ("中国政策 plan", "zhong-guo-zheng-ce-plan"),
        ("中国气候变化政策", "zhong-guo-qi-hou-bian-hua-zheng-ce"),
        ("気候変動対策", "qi-hou-bian-dong-dui-ce"),
        ("こんにちは セカイ", "konnichiha-sekai"),
        ("한국의 기후 정책", "hangugui-gihu-jeongchaeg"),
        ("대한민국", "daehanmingug"),
        # unmapped ideographs still fold to separators, mapped ones keep
        # their trailing-space syllable split
        ("中鰢国", "zhong-guo"),
        # Arabic (Buckwalter-flavoured): tashkil drops, ayn/hamza become
        # separators, Arabic-Indic digits map to ASCII
        ("سياسة المناخ", "syash-almnakh"),
        ("محمد", "mhmd"),
        ("العربية", "al-rbyh"),
        ("قانون الطاقة ٢٠٢٣", "qanwn-altaqh-2023"),
        # Devanagari: per-char ISO-ish fold (consonants carry inherent
        # 'a', matras append, virama drops), Devanagari digits to ASCII
        ("भारत", "bhaaarata"),
        ("जलवायु नीति", "jalavaaayau-naiitai"),
        ("पर्यावरण संरक्षण अधिनियम १९८६",
         "parayaaavarana-sanrakashana-adhainaiyama-1986"),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i int, s string"
    )
    got = {r.i: r.slug for r in df.select("i", slugify_col(F.col("s")).alias("slug")).collect()}
    for i, (inp, want) in enumerate(cases):
        assert got[i] == want, f"{inp!r}: {got[i]!r} != {want!r}"


def test_slugify_properties(spark):
    """slugify invariants: charset, no edge dashes, idempotence."""
    corpus = [s for s in _corpus() if s] + ["Hello,  World!", "A--B", "1 2 3"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(corpus)], "i int, s string")
    out = df.select(
        "i",
        slugify_col(F.col("s")).alias("slug"),
    ).withColumn("slug2", slugify_col(F.col("slug")))
    for r in out.collect():
        assert r.slug == r.slug2, f"not idempotent: {r.slug!r}"
        if r.slug:
            assert not r.slug.startswith("-") and not r.slug.endswith("-")
            assert all(c.islower() or c.isdigit() or c == "-" for c in r.slug)
