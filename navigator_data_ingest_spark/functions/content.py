"""Content-type detection, upload-name construction, content hashing.

Reference parity:
  - detect_content_type: utils.py:64 ``determine_content_type`` — a
    3-stage fallback: magic bytes, then URL file extension, then the
    Content-Type response header.
  - upload_file_name: api_client.py:120 ``_create_file_name_for_upload``
    — byte-aware name trimming (<=200 UTF-8 bytes via a chop-5-chars
    loop) + S3 1024-byte path budget.
  - md5 content hash: api_client.py:100.

Everything is a JVM-side expression; the chop-loop fixpoint is expressed
as a higher-order function over a descending length sequence (monotone
octet_length makes the first qualifying length the loop's fixpoint).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CONTENT_TYPE_HTML = "text/html"
CONTENT_TYPE_DOCX = (
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document"
)
CONTENT_TYPE_PDF = "application/pdf"
CONTENT_TYPE_DOC = "application/msword"

# file-extension -> content type (reference types.py:45 reversed mapping)
EXTENSION_CONTENT_TYPES = {
    ".pdf": CONTENT_TYPE_PDF,
    ".html": CONTENT_TYPE_HTML,
    ".docx": CONTENT_TYPE_DOCX,
    ".doc": CONTENT_TYPE_DOC,
}


# magic signatures as uppercase hex prefixes
MAGIC_PDF = "25504446"          # '%PDF'
MAGIC_OLE2 = "D0CF11E0A1B11AE1"  # legacy MS Office compound file (.doc)
MAGIC_ZIP = "504B0304"          # ZIP local-file header (.docx container)

# upload names are trimmed to this many UTF-8 bytes (api_client.py:127)
NAME_MAX_BYTES = 200


def _magic_content_type(head_hex: Column) -> Column:
    """Stage 1: magic-byte sniffing over the hex-encoded leading bytes.

    Mirrors what the ``filetype`` package detects for the pipeline's
    formats: PDF (%PDF), legacy MS Office OLE2 container (DOC), and the
    ZIP container used by DOCX. HTML has no magic signature in
    ``filetype`` (reference tests assert it falls through to stage 2).

    DuckDB oracle: CASE WHEN starts_with(h,'25504446') THEN ... END
    """
    h = F.upper(head_hex)
    return (
        F.when(h.startswith(MAGIC_PDF), F.lit(CONTENT_TYPE_PDF))
        .when(h.startswith(MAGIC_OLE2), F.lit(CONTENT_TYPE_DOC))
        .when(h.startswith(MAGIC_ZIP), F.lit(CONTENT_TYPE_DOCX))
        .otherwise(F.lit(None).cast("string"))
    )


def _extension_content_type(source_url: Column) -> Column:
    """Stage 2: infer from the file extension in the URL (rindex('.'))."""
    # substring_index with -1 gives the text after the LAST '.', matching
    # source_url.rindex('.') in the reference; no '.' -> whole string,
    # which will not match any known extension. A URL with no '.' at all
    # must not match (reference catches ValueError from rindex).
    ext = F.when(
        source_url.contains("."),
        F.concat(F.lit("."), F.substring_index(source_url, ".", -1)),
    )
    mapping = F.create_map(
        *[F.lit(x) for kv in EXTENSION_CONTENT_TYPES.items() for x in kv]
    )
    return F.element_at(mapping, ext)


def _header_content_type(header: Column) -> Column:
    """Stage 3: Content-Type header, parameters stripped ('; charset=..')."""
    return F.trim(F.substring_index(F.coalesce(header, F.lit("")), ";", 1))


def detect_content_type(
    head_hex: Column, source_url: Column, header: Column
) -> Column:
    """3-stage content-type fallback (utils.py:64). '' when all fail.

    ``head_hex`` is the upper-case hex of the file's leading bytes:
    portable between engines and safe for non-UTF8 bytes.
    """
    return F.coalesce(
        _magic_content_type(head_hex),
        _extension_content_type(source_url),
        _header_content_type(header),
    )


def let_col(value: Column, body) -> Column:
    """Column-API let-binding: evaluate ``value`` ONCE, pass the bound
    lambda variable to ``body``.

    ``element_at(transform(array(V), x -> B), 1)`` — the same trick as
    ``exprs.sp_let`` for SQL strings. Without it, Catalyst inlines a
    passed Column's defining tree into EVERY reference site, and a
    reference inside a higher-order-function lambda re-evaluates per
    element (lambda-bearing expressions are exempt from subexpression
    elimination). The chop loop below referenced its (slugify-sized)
    input from a 41-element filter lambda — 41 re-evaluations of the
    whole transliteration chain per row, and a generated stage big
    enough that its first-run compile dominated the fetch benchmarks.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def trimmed_name_col(name: Column) -> Column:
    """``name[:200]`` then chop 5 chars while UTF-8 length > 200 bytes.

    The reference loop (api_client.py:127-129) repeatedly removes 5
    characters until the UTF-8 encoding fits. Because octet_length is
    monotone in the character prefix, the loop's fixpoint is the largest
    length L in {start, start-5, start-10, ...} whose prefix fits — which
    we find declaratively with filter() over a descending sequence.

    DuckDB oracle equivalent:
        list_filter(generate_series(least(length(x),200), 0, -5),
                    k -> octet_length(substr(x,1,k)) <= 200)[1]
    """

    def _inner(nm: Column) -> Column:
        start = F.least(F.length(nm), F.lit(NAME_MAX_BYTES))
        lengths = F.sequence(start, F.lit(0), F.lit(-5))
        fit = F.filter(
            lengths,
            lambda k: F.octet_length(F.substring(nm, 1, k)) <= F.lit(NAME_MAX_BYTES),
        )
        return F.substring(nm, 1, F.element_at(fit, 1))

    return let_col(name, _inner)


def upload_file_name(
    s3_prefix: Column,
    name_without_suffix: Column,
    file_hash: Column,
    file_suffix: Column,
) -> Column:
    """Full upload object name ``{prefix}/{trimmed_name}_{hash}{suffix}``.

    Applies both budgets from api_client.py:120: the 200-UTF-8-byte
    filesystem trim, then the S3 1024-byte total-path budget
    (1024 - len(prefix) - len(suffix) - len(hash) - len('_.')).
    """
    fs_trimmed = trimmed_name_col(name_without_suffix)
    budget = (
        F.lit(1024)
        - F.length(s3_prefix)
        - F.length(file_suffix)
        - F.length(file_hash)
        - F.lit(2)
    )
    final_name = F.substring(fs_trimmed, 1, budget)
    return F.concat(s3_prefix, F.lit("/"), final_name, F.lit("_"), file_hash, file_suffix)
