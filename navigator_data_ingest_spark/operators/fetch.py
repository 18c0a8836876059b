"""Distributed download/convert stage (`ingest_download_fetch`).

Reference: `api_client.py:44 upload_document` — per document: HTTP GET
(`_download_from_source`), content-type detection on the response
(`utils.py:64`), HTML->PDF capture / DOC->PDF convert + watermark
(`pdf_conversion.py`), md5, S3 PUT. The reference runs 4 driver
processes; here the work list is a DataFrame repartitioned by URL
domain (politeness: one domain's requests land in one task, so a
per-task rate limiter sees all of them; salt hot domains at real
scale) and the side-effecting fetch+convert runs as ONE Arrow-batched
``mapInPandas`` stage. Everything derivable from the fetched bytes
(md5, size, upload name) stays JVM-side after the stage.

The network/subprocess side effects are STUBBED with a deterministic
fake (this container has no network and no soffice/playwright): the
fake synthesizes bytes whose magic head matches the work list's
``head_hex`` so routing behaves exactly as the real pipeline would.
The Spark plumbing — partitioning, Arrow batching, output schema,
JVM-side derivations — is the real design.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from navigator_data_ingest_spark.functions.content import (
    CONTENT_TYPE_DOC,
    CONTENT_TYPE_DOCX,
    CONTENT_TYPE_HTML,
    CONTENT_TYPE_PDF,
)
from navigator_data_ingest_spark.functions import minipdf
from navigator_data_ingest_spark.functions.prefix import below_sums
from navigator_data_ingest_spark.operators.ingest import (
    SUPPORTED_CONTENT_TYPES,
    fetch_url_col,
    synthetic_new_documents,
    upload_name_col,
)

FETCH_RESULT_SCHEMA = (
    "import_id string, fetch_url string, domain string, name string, "
    "geography string, publication_ts timestamp, status int, "
    "attempts int, backoff_ms int, elapsed_ms int, redirects int, "
    "error_kind string, n_bytes bigint, md5_sum string, "
    "content_type string"
)

# watermark date: the reference stamps datetime.now()
# (pdf_conversion.py:117); determinism over wall-clock here, so the
# document's publication_ts is the stamped date (same choice as the
# ingest_watermark_text operator / its SQL oracle)
WATERMARK_DATE_FMT = "%d %B %Y"

# retry policy mirroring the reference's tenacity decorators
# (api_client.py:148-167: stop_after_attempt(4) + exponential wait on
# download and upload). Backoff here is deterministic exponential —
# 250/500/1000 ms between attempts — so the retry accounting is
# reproducible in the SQL oracle; production adds jitter.
MAX_ATTEMPTS = 4
BACKOFF_BASE_MS = 250
RETRYABLE_STATUS = 503  # transient server-side; 404 fails fast
STATUS_NO_RESPONSE = 0  # requests raised before any HTTP status existed
FETCH_SALT_N = 8  # hot-domain shards per domain (politeness ÷ salt)

# transient-failure taxonomy (the retryable requests outcomes the
# reference's tenacity wrapper absorbs: a 5xx response, a
# requests.ConnectTimeout, a requests.ReadTimeout). Which one a
# transient url exhibits is url-seeded, so the taxonomy is
# oracle-replayable per row.
TRANSIENT_KINDS = ("http_503", "connect_timeout", "read_timeout")


def _fetch_plan(url: str) -> tuple[str, int]:
    """Deterministic failure model for the stub fetch.

    Every 29th url hash fails permanently (404, non-retryable); of the
    rest, every 13th is transient — it fails (one url-seeded kind of
    ``TRANSIENT_KINDS``) for the first ``1 + seed[9] % 5`` attempts
    (1..5, so some exhaust the 4-attempt budget and dead-letter while
    others succeed on retry).
    """
    seed = hashlib.md5(url.encode()).digest()
    if int.from_bytes(seed[:4], "big") % 29 == 0:
        return "permanent", 0
    if int.from_bytes(seed[4:8], "big") % 13 == 0:
        return "transient", 1 + seed[9] % 5
    return "ok", 0


def _transient_kind(seed: bytes) -> str:
    return TRANSIENT_KINDS[seed[12] % 3]


def _redirect_hops(seed: bytes) -> int:
    """Url-seeded redirect chain length for SUCCESSFUL responses: every
    11th url 301-chains 1..3 hops before the final 200 (requests
    follows them transparently; real pipelines log the count — deep or
    looping chains are an operational signal)."""
    return 1 + seed[11] % 3 if seed[10] % 11 == 0 else 0


def _fake_fetch(
    url: str, head_hex: str, attempt: int = 1
) -> tuple[int, bytes, int, int, str | None]:
    """Deterministic stand-in for requests.get (NO network in-container).

    Returns (status, content, elapsed_ms, redirects, error_kind).
    Success bytes start with the magic head the synthetic work list
    declared, padded with url-seeded ASCII-hex filler (hex chars rather
    than raw digest bytes, so an independent engine can reconstruct the
    payload as text and replay its md5 — raw-blob hashing is not
    portable SQL), so downstream sniffing sees realistic input.
    """
    seed = hashlib.md5(url.encode()).digest()
    kind, n_fail = _fetch_plan(url)
    if kind == "permanent":
        return 404, b"", 10 + seed[5] % 90, 0, "http_404"
    if kind == "transient" and attempt <= n_fail:
        tkind = _transient_kind(seed)
        if tkind == "http_503":
            return RETRYABLE_STATUS, b"", 5 + seed[5] % 45, 0, tkind
        if tkind == "connect_timeout":
            return STATUS_NO_RESPONSE, b"", 3 + seed[5] % 20, 0, tkind
        return STATUS_NO_RESPONSE, b"", 30 + seed[5] % 200, 0, tkind
    head = bytes.fromhex(head_hex) if head_hex else b""
    filler = (seed.hex() * (64 + seed[4] % 192))[: 1024 + seed[6] % 4096]
    hops = _redirect_hops(seed)
    return 200, head + filler.encode("ascii"), 20 + seed[5] % 480 + 15 * hops, hops, None


def _fetch_with_retry(
    url: str, head_hex: str
) -> tuple[int, bytes, int, int, int, int, str | None]:
    """Bounded-attempt retry loop around the fetch.

    Returns (status, content, last_elapsed_ms, attempts, backoff_ms,
    redirects, error_kind). Retries on every retryable outcome (503 /
    connect-timeout / read-timeout — the tenacity retry set), up to
    MAX_ATTEMPTS, accumulating the exponential backoff schedule
    (production sleeps it; the stub only accounts it — determinism over
    wall-clock).
    """
    attempt, backoff_ms = 1, 0
    while True:
        status, content, ms, hops, err = _fake_fetch(url, head_hex, attempt)
        retryable = status == RETRYABLE_STATUS or (
            status == STATUS_NO_RESPONSE and err in TRANSIENT_KINDS
        )
        if retryable and attempt < MAX_ATTEMPTS:
            backoff_ms += BACKOFF_BASE_MS * (2 ** (attempt - 1))
            attempt += 1
            continue  # production: time.sleep(backoff / 1000)
        return status, content, ms, attempt, backoff_ms, hops, err


def _sniff(content: bytes, url: str, header: str) -> str:
    """3-stage detection on the RESPONSE, mirroring utils.py:64.

    Same fallback order as functions/content.py's column version; this
    Python twin exists because the route decision has to happen inside
    the fetch stage (the reference detects-then-converts in one unit of
    work, api_client.py:68-97).
    """
    if content.startswith(b"%PDF"):
        return CONTENT_TYPE_PDF
    if content.startswith(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"):
        return CONTENT_TYPE_DOC
    if content.startswith(b"PK\x03\x04"):
        return CONTENT_TYPE_DOCX
    if "." in url:
        ext = "." + url.rsplit(".", 1)[1]
        from navigator_data_ingest_spark.functions.content import (
            EXTENSION_CONTENT_TYPES,
        )
        if ext in EXTENSION_CONTENT_TYPES:
            return EXTENSION_CONTENT_TYPES[ext]
    return (header or "").split(";", 1)[0].strip()


def _watermark_text(url: str, pub_ts) -> str:
    """Python twin of functions/text.py:watermark_text_col (reference
    pdf_conversion.py:109 generate_watermark_text)."""
    date_str = pd.Timestamp(pub_ts).strftime(WATERMARK_DATE_FMT)
    return (
        f"Original publicly accessible source: {url}.\n\n"
        "This PDF was created by Climate Policy Radar "
        f"(climatepolicyradar.org) on {date_str}.\n\n"
        "For non-commercial use only. Reach out to us at "
        "support@climatepolicyradar.org if you have any enquiries."
    )


def _convert_to_pdf(content: bytes, ct: str, url: str, pub_ts) -> bytes:
    """Conversion stub with REAL byte semantics: render a deterministic
    one-page PDF standing in for the soffice/playwright output (page
    text = provenance facts derivable from the fetched bytes), then run
    the reference's watermark step verbatim in structure — parse the
    PDF, append a last page carrying the watermark text, re-serialize
    (pdf_conversion.py:126 add_last_page_watermark; pure-Python minipdf
    here, pypdf/fitz in deployment). Output is valid PDF 1.7: correct
    xref, page tree, extractable text.
    """
    body = [
        f"CONVERTED-FROM: {ct}",
        # provenance fingerprint over the HEX of the source bytes (not
        # the raw blob): same identity, but replayable by any engine
        # that can only hash text — the DuckDB oracle reconstructs
        # lower(head_hex) || filler and matches this md5 exactly
        f"SOURCE-HEX-MD5: {hashlib.md5(content.hex().encode()).hexdigest()}",
        f"SOURCE-BYTES-LEN: {len(content)}",
    ]
    return minipdf.add_last_page_watermark(
        minipdf.build_pdf([body]), _watermark_text(url, pub_ts)
    )


def _fetch_and_convert(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One Arrow batch in -> fetched/converted batch out.

    In production this function holds the requests.Session, the
    per-domain rate limiter, and the soffice/playwright subprocess —
    exactly the per-worker state mapInPandas is for. Conversion:
    doc/docx/html content becomes a structurally valid PDF whose last
    page is the watermark page (reference converts to PDF then
    watermarks, pdf_conversion.py:109-160). Like the reference
    (api_client.py:74-97), html capture re-labels the content type to
    PDF while doc/docx conversion KEEPS the original detected type in
    the result.
    """
    for pdf in batches:
        statuses, elapsed, ctypes = [], [], []
        n_bytes_l, md5s = [], []
        attempts_l, backoffs, redirects_l, errkinds = [], [], [], []
        for url, head_hex, header, pub_ts in zip(
            pdf["fetch_url"], pdf["head_hex"], pdf["header"],
            pdf["publication_ts"],
        ):
            # name/geography/publication_ts ride through untouched, so
            # no join-back re-derives the work list after the stage
            status, content, ms, attempts, backoff, hops, err = _fetch_with_retry(
                url, head_hex
            )
            ct = _sniff(content, url, header) if status == 200 else None
            if status == 200:
                if ct == CONTENT_TYPE_HTML:
                    # capture_pdf_and_get_content_type_from_url stub
                    content = _convert_to_pdf(content, ct, url, pub_ts)
                    ct = CONTENT_TYPE_PDF
                elif ct in (CONTENT_TYPE_DOCX, CONTENT_TYPE_DOC):
                    # convert_doc_to_pdf stub; result type stays DOC(X)
                    content = _convert_to_pdf(content, ct, url, pub_ts)
                # PDF passes through; unsupported stays raw (error later)
            statuses.append(status)
            # size and md5 reduce here, so the content bytes never
            # cross the Arrow boundary. hashlib's lowercase hex digest
            # equals Spark's md5(binary) exactly.
            n_bytes_l.append(len(content))
            md5s.append(
                hashlib.md5(content).hexdigest() if status == 200 else None
            )
            elapsed.append(ms)
            ctypes.append(ct)
            attempts_l.append(attempts)
            backoffs.append(backoff)
            redirects_l.append(hops)
            errkinds.append(err)
        yield pd.DataFrame(
            {
                "import_id": pdf["import_id"],
                "fetch_url": pdf["fetch_url"],
                "domain": pdf["domain"],
                "name": pdf["name"],
                "geography": pdf["geography"],
                "publication_ts": pdf["publication_ts"],
                "status": statuses,
                "attempts": attempts_l,
                "backoff_ms": backoffs,
                "elapsed_ms": elapsed,
                "redirects": redirects_l,
                "error_kind": errkinds,
                "n_bytes": pd.Series(n_bytes_l, dtype="int64"),
                "md5_sum": md5s,
                "content_type": ctypes,
            }
        )


def ingest_download_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Work list -> domain-partitioned fetch/convert -> upload manifest.

    Output: one row per fetchable document with status, content type
    (3-stage detection on the FETCHED bytes), md5, size and the final
    cdn upload name — the UploadResult of api_client.py:44 as a table.
    """
    nd = synthetic_new_documents(spark, sf_dir)
    work = (
        nd.withColumn("fetch_url", fetch_url_col())
        .where(F.col("fetch_url").isNotNull())
        .withColumn("domain", F.parse_url("fetch_url", F.lit("HOST")))
        .select(
            "import_id", "fetch_url", "domain", "head_hex", "header",
            "name", "geography", "publication_ts",
        )
    )
    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    # politeness partitioning WITH hot-domain salting: a handful of big
    # domains would otherwise serialize the whole Python stage into as
    # many tasks as there are domains. Each (domain, salt) shard still
    # sees a single domain, so a per-task rate limiter enforcing
    # domain_budget / FETCH_SALT_N keeps aggregate politeness while the
    # stage parallelizes.
    # name/geography/publication_ts pass through the Python stage as
    # echoed columns, so no join-back re-derives the work list for the
    # upload name; n_bytes/md5_sum arrive reduced from the stage.
    fetched = (
        work.withColumn(
            "fetch_salt", F.pmod(F.xxhash64("fetch_url"), F.lit(FETCH_SALT_N))
        )
        .repartition(n_parts, "domain", "fetch_salt")
        .drop("fetch_salt")
        .mapInPandas(_fetch_and_convert, schema=FETCH_RESULT_SCHEMA)
        # The final orderBy's range partitioner samples its input in a
        # job of its own. Without a shuffle boundary here that job reruns
        # the Python stage, and every document is fetched, converted and
        # uploaded twice; with it, the stage runs once and both the
        # sampler and the sort read its shuffle files.
        .repartition(n_parts, "import_id")
    )
    return (
        fetched.withColumn(
            "error",
            F.when(F.col("status") != 200, F.lit("DownloadError")).when(
                ~F.col("content_type").isin(*SUPPORTED_CONTENT_TYPES),
                F.lit("UnsupportedContentTypeError"),
            ),
        )
        .withColumn(
            "cdn_object",
            F.when(F.col("error").isNull(), upload_name_col(F.col("md5_sum"))),
        )
        .select(
            "import_id", "domain", "status", "attempts", "backoff_ms",
            "elapsed_ms", "redirects", "error_kind", "content_type",
            "n_bytes", "md5_sum", "cdn_object", "error",
        )
        .orderBy("import_id")
    )


def ingest_fetch_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retry/dead-letter accounting of the fetch stage, fully oracled.

    The reference wraps download and upload in tenacity
    (api_client.py:148-167, ``stop_after_attempt(4)`` + exponential
    wait); at cluster scale that becomes per-row bounded retries inside
    the fetch task plus DEAD-LETTER routing: rows whose final status is
    still a failure carry ``dead_letter = true`` and flow to the errors
    sink instead of poisoning the batch (every other row's ingest
    proceeds). The stub's failure model is a pure function of
    md5(fetch_url), so attempts / backoff / dead-letter verify against
    a DuckDB oracle — the retry loop's accounting is provably correct,
    not just plausible.
    """
    return (
        ingest_download_fetch(spark, sf_dir)
        .select(
            "import_id",
            "status",
            "attempts",
            "backoff_ms",
            (F.col("status") != 200).alias("dead_letter"),
        )
        .orderBy("import_id")
    )


FRONTIER_PER_HOST = 2   # max concurrent fetches per host per wave


def ingest_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness wave scheduling for the fetch frontier: every host may
    serve at most FRONTIER_PER_HOST concurrent downloads, so the work
    list is cut into WAVES — URL k of a host runs in wave (k−1) div 2 —
    the schedule a distributed crawler executes one wave per round
    (reference api_client.py:148's per-document politeness, planned
    corpus-wide).

    The per-host enumeration never runs a host-grain global sort: a
    URL's 0-based rank within its host is ``below_sums`` of 1 grouped
    by host, in import-id order, so the oracle's plain per-host
    row_number replays it. Output: per (host, wave) URL counts + the
    wave span per host.
    """
    nd = synthetic_new_documents(spark, sf_dir)
    work = (
        nd.withColumn("fetch_url", fetch_url_col())
        .where(F.col("fetch_url").isNotNull())
        .select(
            F.parse_url("fetch_url", F.lit("HOST")).alias("host"),
            F.expr(
                "cast(regexp_extract(import_id, '([0-9]+)$', 1) as bigint)"
            ).alias("ord"),
        )
    )
    # ord, import_id's numeric suffix, is distinct within a host, so the
    # count of the host's URLs strictly before a URL is its 0-based rank
    ranked = below_sums(work, "ord", by=["host"], rank=F.lit(1)).select(
        "host",
        (F.col("rank") / FRONTIER_PER_HOST).cast("bigint").alias("wave"),
    )
    return (
        ranked.groupBy("host", "wave")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_urls"))
        .orderBy("host", "wave")
    )


def ingest_frontier_schedule_sql() -> str:
    # replicate synthetic_new_documents' fetchable rows from the shared
    # new_docs CTE (the same generator the other ingest oracles use)
    from navigator_data_ingest_spark.operators.ingest import NEW_DOCS_CTE

    return f"""
    WITH {NEW_DOCS_CTE.strip()},
    work AS (
        SELECT import_id,
               split_part(split_part(coalesce(nullif(download_url, ''),
                          nullif(source_url, '')), '//', 2), '/', 1) AS host,
               cast(regexp_extract(import_id, '([0-9]+)$', 1) as BIGINT) AS ord
        FROM new_docs
        WHERE coalesce(nullif(download_url, ''), nullif(source_url, '')) IS NOT NULL
    ), ranked AS (
        SELECT host,
               (row_number() OVER (PARTITION BY host ORDER BY ord) - 1)
                   // {FRONTIER_PER_HOST} AS wave
        FROM work
    )
    SELECT host, wave::BIGINT AS wave, count(*)::BIGINT AS n_urls
    FROM ranked GROUP BY host, wave ORDER BY host, wave
    """
