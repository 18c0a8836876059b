"""Text column functions: slugify, URL validation, watermark text.

Pure ``pyspark.sql.functions`` expressions — JVM-side, whole-stage
codegen friendly, no Python in the hot path.

Reference parity:
  - slugify: new_document_actions.py:30 (``slugify(document.name)``)
  - URL validation: new_document_actions.py:79 (pydantic AnyHttpUrl)
  - watermark text: pdf_conversion.py:109 (generate_watermark_text)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from navigator_data_ingest_spark.functions.translit_cjk import (
    fold_cjk_col,
    fold_cjk_sql,
)

# Scheme://host with a non-empty host; mirrors what pydantic's AnyHttpUrl
# accepts at the granularity the pipeline cares about (http/https only).
_HTTP_URL_RE = r"^https?://[^\s/$.?#][^\s]*$"


# Transliteration maps (text-unidecode-compatible public tables) applied
# by BOTH engines via translate(); multi-char expansions follow
# separately. Latin covers Latin-1 + Latin-Extended-A; Cyrillic covers
# Russian + Ukrainian single-output letters (Ъ/ъ fold to a separator —
# unidecode emits a quote there, which the slug pass dashes identically);
# Greek covers the base alphabet + tonos/dialytika accents.
TRANSLIT_SRC = (
    "ÀÁÂÃÄÅàáâãäåÈÉÊËèéêëÌÍÎÏìíîïÒÓÔÕÖØòóôõöøÙÚÛÜùúûüÝýÿÑñÇç"
    "ĀāĂăĄąĆćĈĉČčĎďĐđĒēĔĕĖėĘęĚěĜĝĞğĢģĤĥĪīĬĭĮįİıĴĵĶķĹĺĻļĽľŁł"
    "ŃńŅņŇňŌōŎŏŐőŔŕŖŗŘřŚśŜŝŞşŠšŢţŤťŪūŬŭŮůŰűŲųŴŵŶŷŸŹźŻżŽž"
    "АаБбВвГгДдЕеЗзИиЙйКкЛлМмНнОоПпРрСсТтУуФфЫыЭэІіЇїҐґЪъ"
    "ΑαΒβΓγΔδΕεΖζΗηΙιΚκΛλΜμΝνΞξΟοΠπΡρΣσςΤτΥυΩωΆάΈέΉήΊίΌόΎύΏώϊϋΐΰ"
)
TRANSLIT_DST = (
    "AAAAAAaaaaaaEEEEeeeeIIIIiiiiOOOOOOooooooUUUUuuuuYyyNnCc"
    "AaAaAaCcCcCcDdDdEeEeEeEeEeGgGgGgHhIiIiIiIiJjKkLlLlLlLl"
    "NnNnNnOoOoOoRrRrRrSsSsSsSsTtTtUuUuUuUuUuWwYyYZzZzZz"
    "AaBbVvGgDdEeZzIiIiKkLlMmNnOoPpRrSsTtUuFfYyEeIiIiGg--"
    "AaBbGgDdEeZzEeIiKkLlMmNnXxOoPpRrSssTtUuOoAaEeEeIiOoUuOoiuiu"
)
# multi-char expansions translate() can't express (unidecode outputs).
# Ь/ь map to empty: unidecode emits an ASCII apostrophe, which
# python-slugify's quote post-process removes — same net effect.
TRANSLIT_MULTI = (
    ("ß", "ss"), ("Æ", "AE"), ("æ", "ae"), ("Œ", "OE"),
    ("œ", "oe"), ("Þ", "Th"), ("þ", "th"),
    # Cyrillic digraphs (unidecode x004 table)
    ("Ж", "Zh"), ("ж", "zh"), ("Х", "Kh"), ("х", "kh"),
    ("Ц", "Ts"), ("ц", "ts"), ("Ч", "Ch"), ("ч", "ch"),
    ("Щ", "Shch"), ("щ", "shch"), ("Ш", "Sh"), ("ш", "sh"),
    ("Ю", "Iu"), ("ю", "iu"), ("Я", "Ia"), ("я", "ia"),
    ("Ё", "Io"), ("ё", "io"), ("Є", "Ie"), ("є", "ie"),
    ("Ь", ""), ("ь", ""),
    # Greek digraphs (unidecode x003 table)
    ("Θ", "Th"), ("θ", "th"), ("Φ", "Ph"), ("φ", "ph"),
    ("Χ", "Kh"), ("χ", "kh"), ("Ψ", "Ps"), ("ψ", "ps"),
)
# smart single quotes: unidecode folds them to ASCII ' which
# python-slugify's POST-process removes (pre-process only sees ASCII ')
SMART_SINGLE_QUOTES = "’‘‚‛"


def slugify_col(name: Column) -> Column:
    """python-slugify replica as pure JVM expressions (no Python hot path).

    Reproduces the reference's ``slugify(document.name)``
    (new_document_actions.py:30) step order from python-slugify:
      1. ASCII apostrophe runs -> '-'         (quote pre-process)
      2. transliterate Latin accents          (unidecode subset)
      3. lowercase
      4. drop smart single quotes             (quote post-process)
      5. drop commas inside numbers           (NUMBERS_PATTERN)
      6. non-[a-z0-9] runs -> '-', trim '-'

    Step 2 covers the Latin-1/Latin-Extended-A, Cyrillic (Russian +
    Ukrainian) and Greek unidecode tables plus the CJK fold
    (functions/translit_cjk.py: pinyin for curated Han, full kana
    romaji, algorithmic Hangul jamo — gated behind a contains-CJK
    regex so ASCII titles never pay for the per-char fold); scripts
    beyond those (Arabic, Devanagari, …) are dropped rather than
    romanized — the remaining documented divergence from unidecode's
    full tables. Step 5 uses two passes of ``(\\d),(\\d)`` instead of
    lookarounds so the DuckDB (RE2) oracle applies the IDENTICAL rule.
    """
    s = F.regexp_replace(name, r"'+", "-")
    s = fold_cjk_col(s)
    s = F.translate(s, TRANSLIT_SRC, TRANSLIT_DST)
    for src, dst in TRANSLIT_MULTI:
        # literal substring replace, NOT regexp_replace: the multi-char
        # sources are plain letters, and 37 chained regexes both
        # evaluate slower per row and balloon the generated code (the
        # first-run compile of this chain dominated the fetch/e2e
        # bench numbers before the switch)
        s = F.replace(s, F.lit(src), F.lit(dst))
    s = F.lower(s)
    s = F.translate(s, SMART_SINGLE_QUOTES, "")
    s = F.regexp_replace(s, r"(\d),(\d)", r"$1$2")
    s = F.regexp_replace(s, r"(\d),(\d)", r"$1$2")
    slug = F.regexp_replace(s, r"[^a-z0-9]+", "-")
    return F.regexp_replace(slug, r"^-+|-+$", "")


def slugify_sql(col: str) -> str:
    """The DuckDB replica of ``slugify_col`` — same rules, same order,
    built from the same transliteration constants."""
    s = f"regexp_replace({col}, '''+', '-', 'g')"
    s = fold_cjk_sql(s)
    s = f"translate({s}, '{TRANSLIT_SRC}', '{TRANSLIT_DST}')"
    for src, dst in TRANSLIT_MULTI:
        s = f"replace({s}, '{src}', '{dst}')"
    s = f"lower({s})"
    s = f"translate({s}, '{SMART_SINGLE_QUOTES}', '')"
    for _ in range(2):
        s = f"regexp_replace({s}, '(\\d),(\\d)', '\\1\\2', 'g')"
    s = f"regexp_replace({s}, '[^a-z0-9]+', '-', 'g')"
    return f"regexp_replace({s}, '^-+|-+$', '', 'g')"


def valid_http_url(url: Column) -> Column:
    """Boolean: is this a plausible AnyHttpUrl (http/https, non-empty host)."""
    return url.isNotNull() & url.rlike(_HTTP_URL_RE)


def optional_http_url(url: Column) -> Column:
    """Boolean: null or a valid http(s) URL (the reference's
    ``Optional[AnyHttpUrl]`` source_url). False routes a document to the
    report's ValueError row instead of the parser input."""
    return url.isNull() | valid_http_url(url)


def watermark_text_col(url: Column, date: Column) -> Column:
    """The provenance watermark text added to converted PDFs.

    ``date`` is a date/timestamp column; formatted as '01 January 2023'
    to match ``date.strftime('%d %B %Y')`` in the reference.
    """
    date_str = F.date_format(date, "dd MMMM yyyy")
    return F.concat(
        F.lit("Original publicly accessible source: "),
        url,
        F.lit(".\n\nThis PDF was created by Climate Policy Radar (climatepolicyradar.org) on "),
        date_str,
        F.lit(
            ".\n\nFor non-commercial use only. Reach out to us at "
            "support@climatepolicyradar.org if you have any enquiries."
        ),
    )
