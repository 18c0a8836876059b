"""Source/sink unit tests beyond the registry round-trips."""

from __future__ import annotations

import glob
import json
import os
import tempfile

from navigator_data_ingest_spark.operators.ingest import synthetic_new_documents
from navigator_data_ingest_spark.sources.json_cache import read_json_cache
from navigator_data_ingest_spark.sources.pipeline_updates import (
    _synthesize_updates_file,
    read_pipeline_batch,
    read_pipeline_updates,
)
from tests.conftest import SF_SMOKE


def test_pipeline_updates_new_documents_roundtrip(spark):
    """new_documents survive the JSON round trip field-for-field."""
    path = _synthesize_updates_file(spark, SF_SMOKE)
    new_docs, _ = read_pipeline_updates(spark, path)
    fields = [
        "import_id", "name", "description", "slug", "publication_ts",
        "geography", "category", "source_url", "download_url",
    ]
    got = sorted(
        (tuple(r) for r in new_docs.select(*fields).collect()),
    )
    want = sorted(
        tuple(r)
        for r in synthetic_new_documents(spark, SF_SMOKE).select(*fields).collect()
    )
    assert got == want


def test_synthesized_updates_file_reuses_one_path(spark):
    """Repeated calls for one sf_dir rewrite one file in one directory
    instead of leaving a new temporary directory behind each time."""
    pattern = os.path.join(
        tempfile.gettempdir(), f"nav_spark_updates_*_{os.getpid()}"
    )
    first = _synthesize_updates_file(spark, SF_SMOKE)
    dirs = set(glob.glob(pattern))
    assert _synthesize_updates_file(spark, SF_SMOKE) == first
    assert set(glob.glob(pattern)) == dirs
    assert os.listdir(os.path.dirname(first)) == [os.path.basename(first)]


def test_pipeline_updates_schema_is_closed(spark):
    """Explicit schema: no inference pass, stable nested types."""
    path = _synthesize_updates_file(spark, SF_SMOKE)
    new_docs, updates = read_pipeline_updates(spark, path)
    assert new_docs.schema["languages"].dataType.simpleString() == "array<string>"
    assert new_docs.schema["publication_ts"].dataType.simpleString() == "timestamp"
    assert [f.name for f in updates.schema] == [
        "document_id", "seq", "update_type", "s3_value", "db_value",
    ]
    _, updated = read_pipeline_batch(spark, path)
    assert updated.schema.simpleString() == (
        "struct<document_id:string,"
        "updates:array<struct<type:string,s3_value:string,db_value:string>>>"
    )


def test_pipeline_updates_polymorphic_values(spark, tmp_path):
    """An Update's s3_value/db_value is a string or a whole-document
    object (types.py Update): one row per Update, numbered by its place
    in the document's list, strings kept as they are and objects kept as
    their JSON text."""
    doc = {"name": "Energy Act", "languages": ["en"], "metadata": {"topics": []}}
    updated_documents = {
        "D.1": [
            {"type": "name", "s3_value": "old", "db_value": "new"},
            {"type": "slug", "s3_value": doc, "db_value": "s"},
        ],
        "D.2": [{"type": "reparse", "s3_value": "x", "db_value": doc}],
    }
    path = str(tmp_path / "new_and_updated_documents.json")
    with open(path, "w") as f:
        json.dump({"new_documents": [], "updated_documents": updated_documents}, f)
    _, updates = read_pipeline_updates(spark, path)
    got = {(r.document_id, r.seq): r for r in updates.collect()}
    want = {
        (doc_id, seq): u
        for doc_id, us in updated_documents.items()
        for seq, u in enumerate(us, start=1)
    }
    assert got.keys() == want.keys()
    for key, u in want.items():
        assert got[key].update_type == u["type"]
        for side in ("s3_value", "db_value"):
            value = getattr(got[key], side)
            assert (json.loads(value) if isinstance(u[side], dict) else value) == u[side]


def test_json_cache_translated_flag(spark):
    """translated=true recovered from the _translated_en file name."""
    d = tempfile.mkdtemp(prefix="nav_spark_cache_test_")
    rec = {"document_id": "TEST.executive.1.1", "document_name": "n"}
    with open(os.path.join(d, "TEST.executive.1.1.json"), "w") as f:
        json.dump(rec, f)
    with open(os.path.join(d, "TEST.executive.1.1_translated_en.json"), "w") as f:
        json.dump(rec | {"document_name": "n-en"}, f)
    rows = {
        (r.document_name, r.translated)
        for r in read_json_cache(spark, d).collect()
    }
    assert rows == {("n", False), ("n-en", True)}


def test_parquet_footer_stats_pinned(spark):
    """The full per-row-group footer grid is not view-derivable, so the
    driver hashes the invariant reduction (src_parquet_footer_stats);
    this test pins the GRID's values against pyarrow ground truth AND
    DuckDB's parquet_metadata() on the same files."""
    import os

    import duckdb
    import pyarrow.parquet as pq

    from navigator_data_ingest_spark.sources.flat import (
        FOOTER_TABLES,
        src_parquet_footer_grid,
        src_parquet_footer_grid_sql,
    )
    from tests.conftest import SF_CORRECT

    got = {
        (r.file_name, r.row_group_id): (r.n_cols, r.rg_rows, r.compressed_bytes)
        for r in src_parquet_footer_grid(spark, SF_CORRECT).collect()
    }
    # pyarrow ground truth
    expected = {}
    for t in FOOTER_TABLES:
        md = pq.ParquetFile(os.path.join(SF_CORRECT, f"{t}.parquet")).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            expected[(f"{t}.parquet", i)] = (
                rg.num_columns,
                rg.num_rows,
                sum(
                    rg.column(c).total_compressed_size
                    for c in range(rg.num_columns)
                ),
            )
    assert got == expected
    # DuckDB parquet_metadata agrees on the same files
    dk = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in duckdb.sql(src_parquet_footer_grid_sql(SF_CORRECT)).fetchall()
    }
    assert dk == expected


def test_text_lines_cr_escaping_roundtrip(spark):
    """src_text_lines must survive carriage returns: spark.read.text's
    default lineSep splits on \\r and \\r\\n as well as \\n, so an
    unescaped CR in any document would split one record into two on
    read-back, diverging n_lines and line_checksum from the oracle
    (r7 ADVICE — latent until a CR-bearing corpus arrives)."""
    import duckdb
    import pandas as pd

    from navigator_data_ingest_spark.sources.flat import (
        src_text_lines,
        src_text_lines_sql,
    )

    texts = [
        "plain line",
        "carriage\rreturn",
        "windows\r\nnewline",
        "unix\nnewline",
        "tab\tand backslash \\ mix",
        "trailing cr\r",
        "\rleading cr",
        "esc soup \\r \\n \\t \r\n\t\\",
        "",
        None,
    ]
    tmp = tempfile.mkdtemp(prefix="nav_spark_crfix_")
    pd.DataFrame(
        {
            "doc_id": range(1, len(texts) + 1),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["fixture"] * len(texts),
            "n_chars": [len(t) if t else 0 for t in texts],
        }
    ).to_parquet(os.path.join(tmp, "documents.parquet"))

    row = src_text_lines(spark, tmp).collect()[0]
    assert row.n_lines == len(texts)
    assert row.n_doc_ids == len(texts)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp}/documents.parquet'"
    )
    dk = con.sql(src_text_lines_sql()).fetchone()
    assert (row.n_lines, row.n_doc_ids, row.line_checksum) == dk
    assert isinstance(row.line_checksum, str)


def test_hll_sketch_union_roundtrip_and_bounds(spark):
    """The persisted-HLL path (round 9): estimates read back from the
    stored parquet binaries must equal a direct in-memory sketch of the
    same set (binary round-trip fidelity), sit inside the 5% band of
    the DuckDB-exact distincts, and the union estimate must dominate
    every per-scope estimate."""
    import duckdb

    from navigator_data_ingest_spark.sources.sketches import (
        HLL_LGK,
        _type_user,
        sink_hll_sketch_union_scored,
    )
    from tests.conftest import SF_CORRECT

    rows = {
        r.scope: (r.n_exact, r.n_est)
        for r in sink_hll_sketch_union_scored(spark, SF_CORRECT).collect()
    }
    want = dict(
        duckdb.sql(
            "SELECT coalesce(event_type, '<null>') AS scope,"
            " count(DISTINCT user_id) FROM"
            f" '{SF_CORRECT}/events.parquet' WHERE user_id IS NOT NULL"
            " GROUP BY 1"
        ).fetchall()
    )
    assert set(rows) == set(want) | {"ALL"}
    for scope, (n_exact, n_est) in rows.items():
        if scope != "ALL":
            assert n_exact == want[scope], scope
        assert 20 * abs(n_est - n_exact) <= n_exact, scope
    assert rows["ALL"][1] >= max(v[1] for k, v in rows.items() if k != "ALL")
    # binary round-trip fidelity: stored-sketch estimates == direct
    # in-memory sketch estimates over the same collapsed set
    from pyspark.sql import functions as F

    direct = {
        r.scope: r.e
        for r in _type_user(spark, SF_CORRECT)
        .groupBy("scope")
        .agg(
            F.expr(
                f"hll_sketch_estimate(hll_sketch_agg(user_id, {HLL_LGK}))"
            ).cast("bigint").alias("e")
        )
        .collect()
    }
    assert direct == {k: v[1] for k, v in rows.items() if k != "ALL"}


def test_relation_cache_is_session_scoped(spark):
    """The load_table relation cache must never hand session A's
    DataFrame to session B: DataFrames are session-bound (temp-view
    catalog, sessionState), so an applicationId-keyed cache made
    createOrReplaceTempView register views on the WRONG session
    (caught by test_type_surface's newSession run). Same-session calls
    must still hit the cache (the round-12 resolution-cost win)."""
    from navigator_data_ingest_spark.sources.tables import load_table, raw_relation

    d1 = load_table(spark, SF_SMOKE, "documents")
    assert load_table(spark, SF_SMOKE, "documents") is d1

    other = spark.newSession()
    d2 = load_table(other, SF_SMOKE, "documents")
    assert d2 is not d1
    # the failing mechanism, directly: a view created on the returned df
    # must be visible to the session that asked for the table
    d2.createOrReplaceTempView("_cache_scope_probe")
    assert other.sql("SELECT count(*) FROM _cache_scope_probe").collect()[0][0] > 0
    assert raw_relation(other, SF_SMOKE, "events") is raw_relation(
        other, SF_SMOKE, "events"
    )
