"""String scalar functions.

Reference parity (citations into /root/reference):
  - str_trunc        -> notebooks/index.Rmd:101,337  (stringr::str_trunc, ellipsis)
  - na_if_blank      -> notebooks/index.Rmd:64       (mutate_all(~na_if(., "")))
  - norm_ws          -> notebooks/index.Rmd:292      (gsub("\\s+"," ",trimws(x)))
  - slugify/make_identifier -> notebooks/index.Rmd:361-371
  - shorten_identifier      -> notebooks/index.Rmd:353-359
  - null_quote       -> notebooks/export_in_obis.R:10

Everything is a pure Column expression, including the UTF-8->ASCII
transliteration step of slugify: ``translate`` plus ``regexp_replace`` over a
small static map (the reference uses iconv TRANSLIT; we cover the
Latin-1/Latin-2 accent range).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def str_trunc(col: Column | str, width: int, ellipsis: str = "...") -> Column:
    """Truncate to ``width`` chars INCLUDING a trailing ellipsis (stringr
    semantics: output is at most ``width`` wide, last 3 chars are ``...``)."""
    c = _c(col)
    keep = width - len(ellipsis)
    return F.when(
        F.length(c) > width, F.concat(F.substring(c, 1, keep), F.lit(ellipsis))
    ).otherwise(c)


def na_if_blank(col: Column | str) -> Column:
    """Empty string -> null (dplyr ``na_if(x, "")``)."""
    c = _c(col)
    return F.when(c == "", F.lit(None)).otherwise(c)


def blanks_to_null(df, columns: list[str] | None = None):
    """Apply na_if_blank across all string columns (mutate_all equivalent)."""
    cols = columns or [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
    return df.select(
        *[na_if_blank(c).alias(c) if c in cols else F.col(c) for c in df.columns]
    )


def norm_ws(col: Column | str) -> Column:
    """Collapse whitespace runs to single spaces, then trim — in that order,
    so edge tabs/newlines normalize to spaces before trim (Spark/DuckDB trim
    strips only ' '). Whitespace class is Java's ASCII \\s, matching R's
    default PCRE (no UCP): U+0085/NBSP are NOT whitespace here."""
    return F.trim(F.regexp_replace(_c(col), r"\s+", " "))


# Latin accent transliteration table (public knowledge; covers the domains the
# reference's iconv(TRANSLIT) sees in program names).
_TRANSLIT = {
    "á": "a", "à": "a", "â": "a", "ä": "a", "ã": "a", "å": "a", "ā": "a",
    "é": "e", "è": "e", "ê": "e", "ë": "e", "ē": "e", "ė": "e",
    "í": "i", "ì": "i", "î": "i", "ï": "i", "ī": "i",
    "ó": "o", "ò": "o", "ô": "o", "ö": "o", "õ": "o", "ø": "o", "ō": "o",
    "ú": "u", "ù": "u", "û": "u", "ü": "u", "ū": "u",
    "ý": "y", "ÿ": "y", "ñ": "n", "ç": "c", "š": "s", "ž": "z", "ß": "ss",
    "æ": "ae", "œ": "oe", "ð": "d", "þ": "th", "ł": "l", "đ": "d",
}
_TRANSLIT.update({k.upper(): v.upper() for k, v in list(_TRANSLIT.items())})


def translit_ascii(col: Column | str) -> Column:
    """UTF-8 -> ASCII transliteration via chained translate (JVM-side — the
    accent map is small and static, so no Python UDF is needed)."""
    c = _c(col)
    # translate() only maps 1:1 chars; handle multi-char expansions first.
    for src, dst in (("ß", "ss"), ("æ", "ae"), ("œ", "oe"), ("Æ", "AE"), ("Œ", "OE"), ("þ", "th"), ("Þ", "TH")):
        c = F.regexp_replace(c, src, dst)
    singles = {k: v for k, v in _TRANSLIT.items() if len(v) == 1}
    c = F.translate(c, "".join(singles.keys()), "".join(singles.values()))
    # anything non-ASCII left over is dropped (iconv TRANSLIT fallback)
    return F.regexp_replace(c, r"[^\x00-\x7F]", "")


def slugify(col: Column | str) -> Column:
    """make_identifier (index.Rmd:361-371): lowercase -> strip punctuation
    ``[()":',&/.;]`` -> trim -> whitespace/dash runs -> ``_`` -> ASCII
    transliteration -> strip again."""
    c = F.lower(_c(col))
    c = F.regexp_replace(c, r"""[()":',&/.;]""", "")
    c = F.trim(c)
    c = F.regexp_replace(c, r"[\s\-–]+", "_")
    c = translit_ascii(c)
    c = F.regexp_replace(c, r"""[()":',&/.;]""", "")
    return c


def shorten_identifier(col: Column | str, max_len: int = 58, keep: int = 29) -> Column:
    """If len > max_len: first ``keep`` + last ``keep`` chars (index.Rmd:353-359)."""
    c = _c(col)
    return F.when(
        F.length(c) > max_len,
        F.concat(F.substring(c, 1, keep), c.substr(F.length(c) - keep + 1, F.lit(keep))),
    ).otherwise(c)


def make_identifier(col: Column | str) -> Column:
    """slugify + shorten — the full identifier generation chain."""
    return shorten_identifier(slugify(col))


def null_quote(col: Column | str) -> Column:
    """SQL-literal quoting with a ``null`` sentinel (export_in_obis.R:10):
    null -> the string ``null``; otherwise ``'value'``."""
    c = _c(col)
    return F.when(c.isNull(), F.lit("null")).otherwise(
        F.concat(F.lit("'"), c.cast("string"), F.lit("'"))
    )
