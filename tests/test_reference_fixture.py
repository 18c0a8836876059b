"""Parse the reference's OWN fixture batch file through our source.

`/root/reference/src/navigator_data_ingest/tests/fixtures/small/
new_and_updated_documents.json` is the real input format the reference
consumes (LawPolicyGenerator, utils.py:19) — nested BackendDocuments,
and an updated_documents map whose Update.s3_value/db_value are
POLYMORPHIC (string or whole-document object). This pins that our
explicit schema reads the production format, not just our synthetic
derivation.
"""

from __future__ import annotations

import json
import re
import uuid
from collections import Counter

import pytest

from pyspark.sql import functions as F

from navigator_data_ingest_spark.operators.ingest import ACTION_OF_TYPE
from navigator_data_ingest_spark.sources.pipeline_updates import (
    read_pipeline_updates,
)

FIXTURE = (
    "/root/reference/src/navigator_data_ingest/tests/fixtures/small/"
    "new_and_updated_documents.json"
)


@pytest.fixture(scope="module")
def raw():
    with open(FIXTURE) as f:
        return json.load(f)


def test_new_documents_parse(spark, raw):
    new_docs, _ = read_pipeline_updates(spark, FIXTURE)
    rows = {r.import_id: r for r in new_docs.collect()}
    assert len(rows) == len(raw["new_documents"])
    for want in raw["new_documents"]:
        got = rows[want["import_id"]]
        assert got.name == want["name"]
        assert got.source_url == want["source_url"]
        assert got.geography == want["geography"]
        assert got.slug == want["slug"]
        assert list(got.languages) == want["languages"]
        assert got.publication_ts.isoformat() == want["publication_ts"]
        assert list(got.metadata.keywords or []) == want["metadata"]["keywords"]


def test_updates_parse_with_polymorphic_values(spark, raw):
    _, updates = read_pipeline_updates(spark, FIXTURE)
    got = {
        (r.document_id, r.seq): r
        for r in updates.collect()
    }
    n_expected = sum(len(v) for v in raw["updated_documents"].values())
    assert len(got) == n_expected
    for doc_id, upds in raw["updated_documents"].items():
        for i, want in enumerate(upds, start=1):
            r = got[(doc_id, i)]
            assert r.update_type == want["type"]
            if isinstance(want["s3_value"], str):
                assert r.s3_value == want["s3_value"]
            else:
                # object captured losslessly as raw JSON text
                assert json.loads(r.s3_value) == want["s3_value"]
            if isinstance(want["db_value"], dict):
                assert json.loads(r.db_value) == want["db_value"]


def test_fixture_update_types_map_to_actions(spark, raw):
    """Every update type in the fixture is covered by the action map."""
    _, updates = read_pipeline_updates(spark, FIXTURE)
    types = {r.update_type for r in updates.select("update_type").distinct().collect()}
    assert types, "fixture has no updates"
    unmapped = types - set(ACTION_OF_TYPE)
    assert not unmapped, f"update types with no action mapping: {unmapped}"


PIPELINE_OUT = (
    "/root/reference/src/navigator_data_ingest/tests/fixtures/pipeline_out"
)


def test_cdn_object_construction_matches_pipeline_out(spark):
    """Rebuild each pipeline_out cdn_object from its inputs.

    The recorded ``document_cdn_object`` is
    ``{geography}/{year(publication_ts)}/{slugify(name)}_{md5}.pdf``
    (new_document_actions.py:30-32 + api_client.py:120). Using the
    fixture's own md5 (we cannot re-download the bytes), our slugify +
    prefix + trimmed-filename expressions must reproduce the recorded
    path byte-for-byte on the reference's REAL document names.
    """
    import glob as globmod

    inp = json.load(
        open(f"{PIPELINE_OUT}/input/2022-11-01T21.53.26.945831/new_and_updated_documents.json")
    )
    by_id = {d["import_id"]: d for d in inp["new_documents"]}
    cases = []
    for path in sorted(globmod.glob(f"{PIPELINE_OUT}/parser_input/*.json")):
        out = json.load(open(path))
        doc = by_id.get(out["document_id"])
        if doc is None or not out.get("document_cdn_object"):
            continue
        cases.append(
            (
                out["document_id"],
                doc["name"],
                doc["geography"],
                doc["publication_ts"][:4],
                out["document_md5_sum"],
                out["document_cdn_object"],
            )
        )
    assert len(cases) >= 10, "expected enriched parser_input fixtures"
    df = spark.createDataFrame(
        [(c[0], c[1], f"{c[2]}/{c[3]}", c[4]) for c in cases],
        "document_id string, name string, prefix string, md5 string",
    )
    from navigator_data_ingest_spark.functions.content import upload_file_name
    from navigator_data_ingest_spark.functions.text import slugify_col

    got = {
        r.document_id: r.cdn
        for r in df.select(
            "document_id",
            upload_file_name(
                F.col("prefix"), slugify_col(F.col("name")), F.col("md5"), F.lit(".pdf")
            ).alias("cdn"),
        ).collect()
    }
    for c in cases:
        assert got[c[0]] == c[5], f"{c[0]}: {got[c[0]]!r} != {c[5]!r}"


def test_archive_plan_covers_pipeline_out_tree(spark, raw):
    """Every file the reference actually archived is predicted by our
    rename plan (tree ⊆ plan; the plan is a superset because it lists
    candidate objects — existence is the mover's concern, and one
    fixture doc errors out before archiving)."""
    import os
    import re

    from navigator_data_ingest_spark.operators.ingest import (
        expand_archive_paths,
        map_update_actions,
        order_update_actions,
    )

    inp = json.load(
        open(f"{PIPELINE_OUT}/input/2022-11-01T21.53.26.945831/new_and_updated_documents.json")
    )
    rows = [
        (doc_id, i + 1, u["type"])
        for doc_id, upds in inp["updated_documents"].items()
        for i, u in enumerate(upds)
    ]
    upd = spark.createDataFrame(rows, "document_id string, seq int, update_type string")
    plan = expand_archive_paths(order_update_actions(map_update_actions(upd)))
    predicted = {
        (r.prefix, r.document_id, r.suffix, r.variant) for r in plan.collect()
    }
    actual = set()
    root = f"{PIPELINE_OUT}/archive"
    for prefix in os.listdir(root):
        for doc_id in os.listdir(f"{root}/{prefix}"):
            for f in os.listdir(f"{root}/{prefix}/{doc_id}"):
                m = re.match(r"[\d-]+\.(json|npy)\s*$", f)
                assert m, f
                actual.add((prefix, doc_id, m.group(1), ""))
    missing = actual - predicted
    assert not missing, f"archived files our plan does not predict: {missing}"
    # and the parse/reparse prefix rules really bite: reparse-only doc
    # 6.6 must NOT plan a parser_input rename
    assert ("parser_input", "TESTCCLW.executive.6.6", "json", "") not in predicted


# A small batch in the reference's format, for the batch-entrypoint
# tests: null / valid / invalid source_urls; one document whose updates
# include a parse (only the first parse runs), one with reparse plus
# update_dont_parse, one whose only update plans no archive rename; a
# polymorphic (object) s3_value.
SMALL_BATCH = {
    "new_documents": [
        {"import_id": "CCLW.executive.1.1", "name": "Climate Act",
         "slug": "climate-act", "geography": "GBR",
         "publication_ts": "2021-03-04T00:00:00",
         "source_url": "https://example.org/climate-act.pdf"},
        {"import_id": "CCLW.executive.2.2", "name": "Energy Plan",
         "slug": "energy-plan", "geography": "FRA",
         "publication_ts": "2020-01-01T00:00:00",
         "source_url": "http://example.org/plan"},
        {"import_id": "CCLW.executive.3.3", "name": "No Source",
         "slug": "no-source", "geography": "USA",
         "publication_ts": "2019-06-30T00:00:00", "source_url": None},
        {"import_id": "CCLW.executive.4.4", "name": "Bad Source",
         "slug": "bad-source", "geography": "IND",
         "publication_ts": "2018-12-31T00:00:00",
         "source_url": "ftp://example.org/bad.pdf"},
    ],
    "updated_documents": {
        "CCLW.executive.10.10": [
            {"type": "name", "s3_value": "Old", "db_value": "New"},
            {"type": "source_url", "s3_value": "http://a.org/x",
             "db_value": "http://a.org/y"},
            {"type": "reprocess", "s3_value": "", "db_value": ""},
        ],
        "CCLW.executive.11.11": [
            {"type": "description", "s3_value": {"name": "whole document"},
             "db_value": "d"},
            {"type": "reparse", "s3_value": "", "db_value": ""},
        ],
        "CCLW.executive.12.12": [
            {"type": "slug", "s3_value": "old-slug", "db_value": "new-slug"},
        ],
    },
}


def _write_batch(tmp_path, payload: dict) -> str:
    path = tmp_path / "new_and_updated_documents.json"
    path.write_text(json.dumps(payload))
    return str(path)


def _expected_report(raw) -> dict:
    """(ingest_type, error) -> n_docs, replayed in plain Python: a
    non-null source_url that is not http(s) is a ValueError; every
    updated document with at least one update is one 'updated' row."""
    new = raw["new_documents"]
    bad = sum(
        1 for d in new
        if d.get("source_url") is not None
        and not re.search(r"^https?://[^\s/$.?#][^\s]*$", d["source_url"])
    )
    report = {
        ("new", None): len(new) - bad,
        ("new", "ValueError"): bad,
        ("updated", None): sum(1 for u in raw["updated_documents"].values() if u),
    }
    return {k: v for k, v in report.items() if v}


def _check_batch_outputs(spark, path: str, raw, out: str, counts: dict) -> None:
    """The written outputs match the counts run_batch returned, the
    unsorted archive plan is the same (src, dst) multiset as the ordered
    operators' plan, and the report is the exact expected rollup."""
    from navigator_data_ingest_spark.operators.ingest import (
        expand_archive_paths,
        map_update_actions,
        order_update_actions,
    )
    from navigator_data_ingest_spark.sources.sinks import REPORT_SCHEMA

    expected_report = _expected_report(raw)
    assert counts["report"] == len(expected_report)
    pi = spark.read.json(f"{out}/parser_input")
    assert pi.count() == counts["parser_input"]
    assert "document_slug" in pi.columns

    plan = spark.read.parquet(f"{out}/archive_plan")
    written = Counter(
        (r.src_path, r.dst_path) for r in plan.select("src_path", "dst_path").collect()
    )
    _, updates = read_pipeline_updates(spark, path)
    ordered = expand_archive_paths(order_update_actions(map_update_actions(updates)))
    assert written == Counter(
        (r.src_path, r.dst_path) for r in ordered.select("src_path", "dst_path").collect()
    )
    assert sum(written.values()) == counts["archive_plan"]
    assert {r.document_id for r in plan.select("document_id").distinct().collect()} \
        <= set(raw["updated_documents"])

    rep = spark.read.schema(REPORT_SCHEMA).json(f"{out}/report")
    assert {(r.ingest_type, r.error): r.n_docs for r in rep.collect()} == expected_report


def test_run_batch_on_reference_fixture(spark, raw, tmp_path):
    """The CLI batch entrypoint processes the reference's real input
    file end-to-end and writes the three output datasets."""
    from navigator_data_ingest_spark.main import run_batch

    out = str(tmp_path / "batch_out")
    counts = run_batch(spark, FIXTURE, out)
    assert counts["parser_input"] == len(raw["new_documents"])
    assert counts["archive_plan"] > 0
    _check_batch_outputs(spark, FIXTURE, raw, out, counts)


def test_run_batch_on_small_batch(spark, tmp_path):
    from navigator_data_ingest_spark.main import run_batch

    path = _write_batch(tmp_path, SMALL_BATCH)
    out = str(tmp_path / "batch_out")
    counts = run_batch(spark, path, out)
    # 10.10: first parse only (12 renames); 11.11: reparse (8) then
    # update_dont_parse (2); 12.12: slug plans no rename
    assert counts == {"parser_input": 3, "archive_plan": 22, "report": 3}
    # each batch observes its own writes: a second batch in the same
    # session returns the same counts, not accumulated or stale ones
    assert run_batch(spark, path, out) == counts
    _check_batch_outputs(spark, path, SMALL_BATCH, out, counts)


# Jobs run_batch launches with the test session: one per write, plus
# one per shuffle stage AQE runs ahead of a write. The row counts are
# observed on the writes, so a recount or a presentation sort added
# back shows up here as extra jobs.
RUN_BATCH_JOBS = 6


def test_run_batch_job_count(spark, tmp_path):
    from navigator_data_ingest_spark.main import run_batch

    path = _write_batch(tmp_path, SMALL_BATCH)
    sc = spark.sparkContext
    group = f"run_batch_job_count_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "run_batch job count")
    try:
        run_batch(spark, path, str(tmp_path / "batch_out"))
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= RUN_BATCH_JOBS, sorted(jobs)


def test_run_batch_empty_batch(spark, tmp_path):
    from navigator_data_ingest_spark.main import run_batch
    from navigator_data_ingest_spark.sources.sinks import REPORT_SCHEMA

    path = _write_batch(tmp_path, {"new_documents": [], "updated_documents": {}})
    out = str(tmp_path / "batch_out")
    counts = run_batch(spark, path, out)
    assert counts == {"parser_input": 0, "archive_plan": 0, "report": 0}
    for name in ("parser_input", "archive_plan", "report"):
        assert (tmp_path / "batch_out" / name / "_SUCCESS").exists()
    assert spark.read.schema(REPORT_SCHEMA).json(f"{out}/report").count() == 0
    assert spark.read.schema("document_id string").json(f"{out}/parser_input").count() == 0
    assert spark.read.schema("src_path string").parquet(f"{out}/archive_plan").count() == 0


def test_run_batch_invalid_url_and_empty_updates(spark, tmp_path):
    """An ftp:// new document is a report row, not parser input; an
    updated document with no updates contributes nothing."""
    from navigator_data_ingest_spark.main import run_batch

    path = _write_batch(tmp_path, {
        "new_documents": [SMALL_BATCH["new_documents"][3]],
        "updated_documents": {"CCLW.executive.12.12": []},
    })
    counts = run_batch(spark, path, str(tmp_path / "batch_out"))
    assert counts == {"parser_input": 0, "archive_plan": 0, "report": 1}
