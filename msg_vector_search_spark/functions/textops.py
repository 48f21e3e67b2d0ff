"""Scalar text / JSON / time functions (SURVEY 2.C).

The reference does all of this with per-row Python: ``json.loads`` +
dict probing wrapped in try/except, ``re.sub`` chains, ``datetime``
formatting (reference: src/core/database/processor.py:117-178,
:192-264; src/core/database/user_mapper.py:112-175).  Every function
here is a pure Column expression — JVM-side, codegen'd, no UDFs — so at
100 TB these run inside the scan stage at full vectorized speed.

Regex/format patterns are kept in the subset where Java regex (Spark)
and RE2 (DuckDB) agree, because the correctness oracle replays them in
DuckDB SQL (SURVEY 7 hard-point 1).  One ASCII exception is pinned,
not avoided: Java's ``\\s`` includes VERTICAL TAB U+000B and RE2's
does not, so ``\\s``/``\\S``-based twins diverge on VT-bearing input —
class 2 of the documented oracle input model
(tests/test_oracle_model_boundaries.py; the driver fixtures contain
no VT, asserted there).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import schemas

# C2 clean_text regexes — order matters and mirrors the reference:
# collapse whitespace (processor.py:167), strip URLs (:170), strip
# non-text chars / emoji (:173), trim (:176).
RE_WHITESPACE = r"\s+"
RE_URL = r"https?://\S+"
RE_NON_TEXT = r"""[^\w\s.,!?;:\-'"]"""


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def extract_text(content: Column | str, message_type: Column | str | None = None,
                 text_type_code: int = 1) -> Column:
    """C1 ``json_extract_text``: plain text from message content.

    Reference: src/core/database/processor.py:117-151 — dict content =>
    ``.get('text','')``; list content => join each segment's ``text``
    with a space; non-JSON => raw passthrough; and extraction only
    applies to text-type messages (``message_type == 1``,
    processor.py:133).
    """
    c = _c(content)
    first = F.substring(F.ltrim(c), 1, 1)
    arr = F.from_json(c, schemas.MESSAGE_TEXT_ARR)
    # '{'-prefixed but MALFORMED json is raw passthrough like every
    # other non-JSON string (reference: json.loads raises -> raw;
    # r14 review — the old coalesce collapsed it to '' and the ingest
    # empty-text filter then silently dropped the message).  The
    # validity probe is get_json_object('$') — null iff unparseable,
    # matching DuckDB's json_valid() on every probed edge case.
    # A VALID object that simply lacks $.text is ALSO raw passthrough:
    # the reference's `"text" in data` guard fails and control falls
    # through to `return content` (processor.py:137-150) — it is NOT
    # dict.get('text','') (r15 review).  One DECIDED edge (VERDICT
    # r15): {"text": null} reads as missing here (get_json_object
    # can't distinguish a JSON null value from an absent key) and
    # passes through raw.  The reference would return Python None
    # (`"text" in data` is True, so it returns data['text']) — and
    # its own pipeline then CRASHES on it: clean_text feeds the None
    # straight into re.sub (processor.py:153->167, `re.sub(pattern,
    # ' ', text)` raises TypeError on None).  Raw passthrough is the
    # deliberate choice: it matches the reference on every input the
    # reference itself survives, and degrades to a recoverable string
    # on the one shape where the reference aborts.  Pinned by
    # tests/test_textops.py::test_extract_text_null_text_value.
    obj_text = F.when(
        F.get_json_object(c, "$").isNull(), c
    ).otherwise(F.coalesce(F.get_json_object(c, "$.text"), c))
    # List branch: the reference appends only items that HAVE "text"
    # (processor.py:141-145) — items lacking it are skipped entirely,
    # not joined in as '' (which would double the separator).
    arr_text = F.when(
        arr.isNull(), c  # '['-prefixed but malformed: raw passthrough
    ).otherwise(
        F.concat_ws(" ", F.filter(F.transform(arr, lambda x: x["text"]),
                                  lambda t: t.isNotNull()))
    )
    extracted = (
        F.when(first == "{", obj_text)
        .when(first == "[", arr_text)
        .otherwise(c)
    )
    if message_type is None:
        return extracted
    return F.when(_c(message_type) == F.lit(text_type_code), extracted)


def clean_text(text: Column | str) -> Column:
    """C2 ``clean_text``: whitespace collapse -> URL strip -> non-text
    char strip -> trim, with the reference's exact regexes and order
    (reference: src/core/database/processor.py:153-178)."""
    c = _c(text)
    c = F.regexp_replace(c, RE_WHITESPACE, " ")
    c = F.regexp_replace(c, RE_URL, "")
    c = F.regexp_replace(c, RE_NON_TEXT, "")
    return F.trim(c)


def py_clean_text(text: str) -> str:
    """Driver-side twin of :func:`clean_text` for one string (a query
    cleaned the way stored messages were): the same regexes under
    Python's ASCII classes — Java's ``\\s`` and ``\\w`` are
    ASCII-only, so NBSP and thin space are stripped, not collapsed —
    then Spark's space-only ``trim``.  Parity is pinned in
    tests/test_driver_twins.py."""
    for pattern, repl in ((RE_WHITESPACE, " "), (RE_URL, ""),
                          (RE_NON_TEXT, "")):
        text = re.sub(pattern, repl, text, flags=re.ASCII)
    return text.strip(" ")


def duck_clean_text(expr: str) -> str:
    """DuckDB rendering of :func:`clean_text` (same regexes, same order,
    global flag explicit — DuckDB replaces first match by default)."""
    c = f"regexp_replace({expr}, '\\s+', ' ', 'g')"
    c = f"regexp_replace({c}, 'https?://\\S+', '', 'g')"
    c = (f"regexp_replace({c}, '[^\\w\\s.,!?;:\\-''\"]', '', 'g')")
    return f"trim({c})"


def fmt_human_time(ts: Column | str) -> Column:
    """C3 ``fmt_human_time``: epoch -> "Jul 18, 2025 at 03:04 PM".

    Reference: src/core/database/processor.py:463-464 uses strftime
    ``%b %d, %Y at %I:%M %p``.  Spark pattern below renders identically
    under an English locale + UTC session timezone.
    """
    return F.date_format(_c(ts), "MMM dd, yyyy 'at' hh:mm a")


def conv_type_from_sid(sid: Column | str) -> Column:
    """C4: 'group' iff the session id starts with 'group-', else
    'private' (reference: src/core/database/processor.py:203)."""
    return F.when(_c(sid).startswith("group-"), F.lit("group")).otherwise(
        F.lit("private"))


def buddy_user_id(sid: Column | str) -> Column:
    """C4 companion: strip the 'buddy-' prefix to recover the peer user
    id of a private conversation (reference: processor.py:250-252)."""
    return F.regexp_replace(_c(sid), r"^buddy-", "")


def truncate_ellipsis(text: Column | str, n: int = 100) -> Column:
    """C5: first *n* chars + '...' when longer (reference:
    src/core/database/processor.py:298, :313)."""
    c = _c(text)
    return F.when(F.length(c) > n,
                  F.concat(F.substring(c, 1, n), F.lit("..."))).otherwise(c)


RE_EMAIL_NAME = r"Email: (\w+)\.(\w+)@shopee\.com"
RE_USER_ID = r"User ID: (\d+)"


def name_from_email(content: Column | str) -> Column:
    """C6 ``regex_name_from_email``: "first.last@shopee.com" ->
    "First Last" (reference: src/core/database/user_mapper.py:24-25,
    :157-175; capitalize at :170)."""
    c = _c(content)
    first = F.regexp_extract(c, RE_EMAIL_NAME, 1)
    last = F.regexp_extract(c, RE_EMAIL_NAME, 2)
    name = F.concat_ws(" ", F.initcap(first), F.initcap(last))
    return F.when((first == "") | (last == ""), F.lit(None)).otherwise(name)


def user_id_from_content(content: Column | str) -> Column:
    """C6 companion: 'User ID: (\\d+)' -> bigint (reference:
    user_mapper.py:161-163)."""
    extracted = F.regexp_extract(_c(content), RE_USER_ID, 1)
    return F.when(extracted == "", F.lit(None)).otherwise(extracted).cast("long")


_FILE_EXTS = (".pdf", ".doc", ".docx", ".xls", ".xlsx", ".ppt", ".pptx",
              ".png", ".jpg", ".jpeg", ".gif", ".mp4", ".mov", ".zip", ".txt")
_FILE_SUBSTRINGS = ("screenshot", "image", "photo")


def is_file_name(name: Column | str) -> Column:
    """C7 ``is_file_name``: heuristic "this string is a filename, not a
    display name" (reference: src/core/database/user_mapper.py:235-250 —
    too short/long, known extensions, screenshot-ish substrings, path
    separators, URL prefixes)."""
    c = _c(name)
    low = F.lower(c)
    cond = (F.length(c) < 2) | (F.length(c) > 100)
    for ext in _FILE_EXTS:
        cond = cond | low.endswith(ext)
    for sub in _FILE_SUBSTRINGS:
        cond = cond | low.contains(sub)
    cond = cond | c.contains("/") | c.contains("\\")
    cond = cond | low.startswith("http") | low.startswith("www.")
    return cond


def round_sim(sim: Column | str, digits: int = 3) -> Column:
    """C8: presentation rounding of similarity scores (reference:
    src/core/search/engine.py:203)."""
    return F.round(_c(sim), digits)


def coverage_pct(embedded: Column | str, total: Column | str) -> Column:
    """C11 ``derived_pct``: embedded/total*100 rounded to 1 dp
    (reference: src/core/search/engine.py:274)."""
    return F.round(F.lit(100.0) * _c(embedded) / _c(total), 1)


def group_name_probe(content: Column | str) -> Column:
    """C12 ``group_name_probe``: display name of a group from its
    group-info JSON — key ``n`` (fallbacks ``gn``, ``group_name``),
    trimmed, accepted only when 0 < len < 100 (reference:
    src/core/database/processor.py:218-247, duplicated at
    src/core/embeddings/processor.py:559-597)."""
    c = _c(content)

    def candidate(key: str) -> Column:
        v = F.trim(F.get_json_object(c, f"$.{key}"))
        return F.when((F.length(v) > 0) & (F.length(v) < 100), v)

    return F.coalesce(candidate("n"), candidate("gn"), candidate("group_name"))
