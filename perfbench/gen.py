"""Seeded input generators for the ingest benchmark.

Every generator takes a ``random.Random``-compatible seed and writes only
under the directory it is given. The same seed always yields the same
bytes, so two runs with one seed see identical inputs.

* ``write_pipeline_updates`` - one PipelineUpdates JSON object (the
  batch input of ``main.run_batch``): new BackendDocuments plus
  ``updated_documents`` carrying 1-4 updates each.
* ``write_query_tables`` - the TPC-H-ish star schema, ``events``,
  ``documents`` (the work list source of
  ``operators.fetch.ingest_download_fetch``) and ``embeddings``, with
  the sf0.1 schemas, for the query suite.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UPDATE_TYPES = (
    "name", "description", "source_url", "metadata", "slug", "reprocess",
    "reparse",
)
METADATA_KEYS = ("hazards", "frameworks", "instruments", "keywords", "sectors", "topics")
GEOGRAPHIES = ("IDN", "USA", "GBR", "FRA", "DEU", "BRA", "IND", "CHN", "JPN", "KOR")
CATEGORIES = ("Executive", "Legislative", "Litigation")

# Title vocabulary: plain ASCII words plus the token classes slugify_col
# treats specially (Latin accents, apostrophes, smart quotes, numbers
# with thousands separators, CJK).
_ASCII_WORDS = (
    "climate act policy energy law framework national adaptation carbon "
    "emissions transport water forest plan strategy decree order report "
    "review budget tax green resilience agriculture coastal urban"
).split()
_SPECIAL_WORDS = (
    "Énergie", "Société", "développement", "Umweltschutz", "Größe",
    "año", "ação", "naïve", "O'Brien", "l'environnement", "Parties'",
    "Ministry’s", "1,000,000", "2,500", "气候变化", "能源", "法律",
    "エネルギー", "기후", "Öko", "Ærø", "Łódź",
)
_LANGS = ("en", "zh", "de", "fr", "es")


def _title(rng: random.Random, n_words: int) -> str:
    words = []
    for _ in range(n_words):
        pool = _SPECIAL_WORDS if rng.random() < 0.2 else _ASCII_WORDS
        words.append(rng.choice(pool))
    return " ".join(words)


def _source_url(rng: random.Random, i: int) -> str | None:
    """Null, invalid (ftp://) or valid http(s) source url, 15/10/75%."""
    r = rng.random()
    if r < 0.15:
        return None
    if r < 0.25:
        return f"ftp://files.example.org/doc{i}.pdf"
    scheme = "https" if rng.random() < 0.8 else "http"
    host = rng.choice(("www.gov.example", "laws.example.org", "cdn.example.net"))
    ext = rng.choice((".pdf", ".html", ".docx", ".doc", ""))
    return f"{scheme}://{host}/docs/{i}{ext}"


def _backend_document(rng: random.Random, i: int) -> dict:
    geo = rng.choice(GEOGRAPHIES)
    cat = rng.choice(CATEGORIES)
    name = _title(rng, rng.randint(3, 9))
    ts = dt.datetime(1990, 1, 1) + dt.timedelta(days=rng.randrange(12000))
    return {
        "publication_ts": ts.isoformat(),
        "name": name,
        "description": _title(rng, rng.randint(8, 30)),
        "source_url": _source_url(rng, i),
        "download_url": None if rng.random() < 0.5 else f"https://cdn.example.net/dl/{i}.pdf",
        "url": None,
        "md5_sum": None,
        "type": rng.choice(("Law", "Policy", "Decree", "Litigation")),
        "source": "CCLW",
        "import_id": f"CCLW.{cat.lower()}.{i}.{i % 97}",
        "family_import_id": f"CCLW.family.{i}.0",
        "category": cat,
        "geography": geo,
        "languages": rng.sample(("English", "French", "Spanish", "Chinese"), rng.randint(0, 2)),
        "metadata": {
            k: rng.sample(_ASCII_WORDS, rng.randint(0, 3)) for k in METADATA_KEYS
        },
        "slug": f"{geo.lower()}-{i}",
        "family_slug": f"family-{i}",
    }


def _update_value(rng: random.Random, utype: str, i: int, side: str):
    """s3_value/db_value: a string, or (for ~1 in 4) a whole object."""
    if utype == "metadata" or rng.random() < 0.25:
        return {
            "field": utype,
            "side": side,
            "values": rng.sample(_ASCII_WORDS, rng.randint(1, 4)),
            "rev": i,
        }
    return f"{side}-{utype}-{i}-{rng.randrange(10**6)}"


def pipeline_updates(seed: int, n_new: int, n_updated: int) -> dict:
    """The PipelineUpdates object for one batch, as plain Python data."""
    rng = random.Random(seed)
    new_documents = [_backend_document(rng, i) for i in range(n_new)]
    updated_documents = {}
    for j in range(n_updated):
        doc_id = f"CCLW.executive.{n_new + j}.{j % 89}"
        updated_documents[doc_id] = [
            {
                "type": utype,
                "s3_value": _update_value(rng, utype, j, "s3"),
                "db_value": _update_value(rng, utype, j, "db"),
            }
            for utype in (rng.choice(UPDATE_TYPES) for _ in range(rng.randint(1, 4)))
        ]
    return {"new_documents": new_documents, "updated_documents": updated_documents}


def write_pipeline_updates(path: str, payload: dict) -> int:
    """Write ``payload`` as one pretty-printed JSON object; returns bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(payload, f, ensure_ascii=False, indent=1)
    return os.path.getsize(path)


def _doc_texts(rng: random.Random, n: int) -> list[str]:
    return [_title(rng, rng.randint(10, 70)) for _ in range(n)]


def documents_table(seed: int, n: int) -> pa.Table:
    """``documents`` with the sf0.1 schema (doc_id, text, lang, source, n_chars)."""
    rng = random.Random(seed)
    texts = _doc_texts(rng, n)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(_LANGS) for _ in range(n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


_PART_ADJ = ("blue", "red", "hot", "cold", "new", "old", "small", "large")
_PART_NOUN = ("bolt", "gear", "anvil", "ring", "rod", "plate", "widget", "gizmo")
_P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def query_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten tables of the sf schema at ``scale`` (1.0 = sf1 row counts).

    Column names, types and value domains follow the sf0.x testdata
    (``TESTDATA.md``); values are drawn independently per column.
    """
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 5)
    n_part = max(int(200_000 * scale), 10)
    n_ord = max(int(1_500_000 * scale), 10)
    n_li = max(int(6_000_000 * scale), 10)
    n_ev = max(int(1_000_000 * scale), 10)
    n_users = max(n_ev // 60, 5)
    n_docs = max(int(150_000 * scale), 10)
    n_emb = max(int(500_000 * scale), 10)

    def pick(options, n):
        return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)], pa.string())

    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pick(_P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(("O", "F", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(
                _EPOCH_1995 + rng.integers(0, 2405, n_ord) * np.timedelta64(1, "D"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": pick(_PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 100000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pick(("A", "N", "R"), n_li),
            "l_linestatus": pick(("O", "F"), n_li),
            "l_shipdate": pa.array(
                _EPOCH_1995 + rng.integers(1, 2500, n_li) * np.timedelta64(1, "D"),
                pa.timestamp("us"),
            ),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(_EPOCH_2024 + ev_ts.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pick(_EVENT_TYPES, n_ev),
            "value": pa.array(_money(rng, 0.01, 500.0, n_ev)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": documents_table(int(rng.integers(0, 2**31)), n_docs),
        "embeddings": pa.table({
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }),
    }


def write_query_tables(out_dir: str, seed: int, scale: float) -> None:
    """One ``<name>.parquet`` file per table under ``out_dir``.

    ``documents`` is split into small row groups: DuckDB parallelises a
    scan by row group, and the fetch oracle costs ~30 ms per document.
    """
    os.makedirs(out_dir, exist_ok=True)
    for name, table in query_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=64 if name == "documents" else None)
