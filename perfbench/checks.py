"""Output checks, run once per run outside the timed region.

* ``batch_expected`` replays the reference rules of one ingest batch in
  plain Python (URL validity, per-document action ordering, archive
  expansion) and ``batch_actual`` reads the batch's written outputs back
  through pyarrow; the two are compared field by field.
* ``rows_diff`` compares a registry query's rows with its DuckDB
  oracle over the same input directory, ignoring row order.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import json
import math
import os
import re

import duckdb
import pyarrow.parquet as pq

# Same pattern as functions.text._HTTP_URL_RE; the generated urls are
# ASCII without whitespace, where Java and Python regexes agree.
_HTTP_URL = re.compile(r"^https?://[^\s/$.?#][^\s]*$")
_ACTION = {
    "source_url": "parse", "reprocess": "parse", "name": "update_dont_parse",
    "description": "update_dont_parse", "metadata": "update_dont_parse",
    "slug": "update_field_in_all_occurences", "reparse": "reparse",
}
_ARCHIVE_TS = "2026-01-01-00-00-00"


def _archive_paths(doc_id: str, action: str) -> list[tuple[str, str]]:
    """(src, dst) renames of one action (updated_document_actions.py)."""
    if action == "parse":
        prefixes, variants = ("parser_input", "embeddings_input", "indexer_input"), ("", "_translated_en")
    elif action == "reparse":
        prefixes, variants = ("embeddings_input", "indexer_input"), ("", "_translated_en")
    elif action == "update_dont_parse":
        prefixes, variants = ("indexer_input",), ("",)
    else:
        return []
    return [
        (f"{p}/{doc_id}{v}.{s}", f"archive/{p}/{doc_id}/{_ARCHIVE_TS}.{s}")
        for p in prefixes for s in ("json", "npy") for v in variants
    ]


def _ordered_actions(updates: list[dict]) -> list[str]:
    """Only the first parse if any update parses, else every action,
    stable-ordered with update_dont_parse last."""
    actions = [_ACTION[u["type"]] for u in updates]
    if "parse" in actions:
        return ["parse"]
    return sorted(actions, key=lambda a: a == "update_dont_parse")


def pair_digest(pairs) -> str:
    """Order-insensitive digest of a multiset of (src, dst) pairs."""
    h = hashlib.sha256()
    for src, dst in sorted(pairs):
        h.update(f"{src}\t{dst}\n".encode())
    return h.hexdigest()


def batch_expected(payload: dict) -> dict:
    new = payload["new_documents"]
    bad = sum(
        1 for d in new
        if d["source_url"] is not None and not _HTTP_URL.search(d["source_url"])
    )
    pairs = [
        pair
        for doc_id, ups in payload["updated_documents"].items()
        for action in _ordered_actions(ups)
        for pair in _archive_paths(doc_id, action)
    ]
    report = {("new", None): len(new) - bad, ("new", "ValueError"): bad,
              ("updated", None): len(payload["updated_documents"])}
    return {
        "parser_input": len(new) - bad,
        "archive_plan": len(pairs),
        "archive_digest": pair_digest(pairs),
        "report": {k: v for k, v in report.items() if v},
    }


def _json_lines(path: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def batch_actual(out_dir: str) -> dict:
    plan = pq.read_table(os.path.join(out_dir, "archive_plan"), columns=["src_path", "dst_path"])
    report = _json_lines(os.path.join(out_dir, "report"))
    return {
        "parser_input": len(_json_lines(os.path.join(out_dir, "parser_input"))),
        "archive_plan": plan.num_rows,
        "archive_digest": pair_digest(zip(plan.column("src_path").to_pylist(),
                                          plan.column("dst_path").to_pylist())),
        "report": {(r["ingest_type"], r.get("error")): r["n_docs"] for r in report},
    }


def batch_diff(expected: dict, actual: dict, counts: dict) -> list[str]:
    """Mismatches between the replay, the written outputs and the
    counts ``run_batch`` returned; empty when the batch is correct."""
    out = [
        f"{k}: expected {expected[k]!r}, written {actual[k]!r}"
        for k in expected if expected[k] != actual[k]
    ]
    for k in ("parser_input", "archive_plan"):
        if counts[k] != expected[k]:
            out.append(f"run_batch count {k}: {counts[k]} != expected {expected[k]}")
    if counts["report"] != len(expected["report"]):
        out.append(f"run_batch count report: {counts['report']} != {len(expected['report'])}")
    return out


def duckdb_con(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _cell(v):
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _normalize(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.sql(sql)
    return list(res.columns), res.fetchall()


def rows_diff(columns: list[str], rows: list[tuple],
              want_columns: list[str], want: list[tuple]) -> str | None:
    """None when Spark's rows equal the oracle's, else the first mismatch."""
    if sorted(columns) != sorted(want_columns):
        return f"columns {sorted(columns)} != oracle {sorted(want_columns)}"
    if len(rows) != len(want):
        return f"{len(rows)} rows != oracle {len(want)}"
    got, want = _normalize(columns, rows), _normalize(want_columns, want)
    if got != want:
        first = next((a, b) for a, b in zip(got, want) if a != b)
        return f"values differ, first: {first}"[:300]
    return None
