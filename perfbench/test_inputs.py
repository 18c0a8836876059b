"""Checks of the benchmark's seeded input generators and batch replay.

Run from the repository root:
    python3 -m pytest perfbench/test_inputs.py -q -p no:cacheprovider
"""

from __future__ import annotations

import collections
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402

N_NEW, N_UPDATED = 400, 400


@pytest.fixture(scope="module")
def payload() -> dict:
    return gen.pipeline_updates(3, N_NEW, N_UPDATED)


def test_same_seed_same_inputs(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.json", "b.json", "c.json"))
    gen.write_pipeline_updates(a, gen.pipeline_updates(7, 50, 50))
    gen.write_pipeline_updates(b, gen.pipeline_updates(7, 50, 50))
    gen.write_pipeline_updates(c, gen.pipeline_updates(8, 50, 50))
    read = lambda p: open(p, "rb").read()  # noqa: E731
    assert read(a) == read(b) != read(c)
    assert gen.query_tables(5, 0.0005) == gen.query_tables(5, 0.0005)


def test_update_mix(payload):
    ups = [u for us in payload["updated_documents"].values() for u in us]
    assert set(u["type"] for u in ups) == set(gen.UPDATE_TYPES)
    assert {len(us) for us in payload["updated_documents"].values()} == {1, 2, 3, 4}
    for side in ("s3_value", "db_value"):
        assert {type(u[side]) for u in ups} == {str, dict}


def test_url_validity_mix(payload):
    kinds = collections.Counter(
        "null" if d["source_url"] is None
        else "valid" if checks._HTTP_URL.search(d["source_url"]) else "invalid"
        for d in payload["new_documents"]
    )
    assert 0.08 < kinds["null"] / N_NEW < 0.22
    assert 0.05 < kinds["invalid"] / N_NEW < 0.15
    assert 0.65 < kinds["valid"] / N_NEW < 0.85


def test_documents_cover_slugify_paths():
    text = " ".join(gen.documents_table(2, 300).column("text").to_pylist())
    for token in ("Énergie", "O'Brien", "Ministry’s", "1,000,000", "气候变化", "エネルギー", "기후"):
        assert token in text


def test_replay_orders_actions():
    assert checks._ordered_actions([{"type": "name"}, {"type": "reparse"}]) == [
        "reparse", "update_dont_parse"]
    assert checks._ordered_actions(
        [{"type": "slug"}, {"type": "reprocess"}, {"type": "source_url"}]) == ["parse"]
    assert len(checks._archive_paths("d", "parse")) == 12
    assert len(checks._archive_paths("d", "reparse")) == 8
    assert len(checks._archive_paths("d", "update_dont_parse")) == 2
    assert checks._archive_paths("d", "update_field_in_all_occurences") == []


def test_file_parses_through_source(payload, tmp_path):
    from pyspark.sql import functions as F

    from navigator_data_ingest_spark.functions.text import valid_http_url
    from navigator_data_ingest_spark.session import get_spark
    from navigator_data_ingest_spark.sources.pipeline_updates import read_pipeline_updates

    path = str(tmp_path / "new_and_updated_documents.json")
    gen.write_pipeline_updates(path, payload)
    spark = get_spark(app_name="perfbench-inputs")
    new_docs, updates = read_pipeline_updates(spark, path)

    urls = new_docs.select(
        F.col("source_url").isNull().alias("null"),
        valid_http_url(F.col("source_url")).alias("valid"),
    ).collect()
    expected = checks.batch_expected(payload)
    assert len(urls) == N_NEW
    assert sum(not r.null and not r.valid for r in urls) == expected["report"][("new", "ValueError")]

    rows = updates.collect()
    want = {
        (doc_id, seq): u
        for doc_id, us in payload["updated_documents"].items()
        for seq, u in enumerate(us, start=1)
    }
    assert len(rows) == len(want)
    assert {r.update_type for r in rows} == set(gen.UPDATE_TYPES)
    for r in rows:
        u = want[(r.document_id, r.seq)]
        assert r.update_type == u["type"]
        for side in ("s3_value", "db_value"):
            value = getattr(r, side)
            assert (json.loads(value) if isinstance(u[side], dict) else value) == u[side]
