"""Reference scalar-function semantics as column expressions + pandas UDFs.

Each function reproduces a reference helper branch-for-branch; the
golden values from the reference's tests/sql suite are asserted in
tests/test_scalars.py. Citations point into /root/reference.

Column-expression builders are preferred (JVM, codegen); only the
per-codepoint kernels (omt_is_latin, remove_latin) are pandas UDFs —
Arrow-batched, numpy-vectorized, never per-row Python.
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, StringType

# --------------------------------------------------------- CleanNumeric

# Exact regex of reference sql/CleanNumeric.sql:12-18
CLEAN_NUMERIC_RE = r"^\s*([-+]?(?=\d|\.\d)\d*(?:\.\d*)?(?:[Ee][-+]?\d+)?)\s*$"


def clean_numeric(col) -> Column:
    """CleanNumeric(text) -> double or NULL (reference sql/CleanNumeric.sql:12-18).

    Strict float syntax (optional sign, digits with optional fraction,
    optional exponent), surrounded only by whitespace; anything else -> NULL.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.regexp_extract(c, CLEAN_NUMERIC_RE, 1), F.lit("")).cast("double")


def omt_as_numeric(col) -> Column:
    """COALESCE(CleanNumeric(i), -1) (reference sql/zzz_omt_as_numeric.sql:4-10)."""
    return F.coalesce(clean_numeric(col), F.lit(-1.0))


# --------------------------------------------------------- latin-script kernels

_LATIN_MAX = 591          # <= 0x24F always allowed
_SCHWA = 0x0259           # Azerbaijani schwa allowed
_COMBINING = (0x0300, 0x036F)
_LATIN_EXT_ADD = (0x1E00, 0x1EFF)


def _is_latin_str(s: str | None) -> bool | None:
    """Python twin of reference sql/zzz_language.sql:38-62 (omt_is_latin)."""
    if s is None:
        return None
    for ch in s:
        cp = ord(ch)
        if (
            cp > _LATIN_MAX
            and not (_LATIN_EXT_ADD[0] <= cp <= _LATIN_EXT_ADD[1])
            and not (_COMBINING[0] <= cp <= _COMBINING[1])
            and cp != _SCHWA
        ):
            return False
    return True


@pandas_udf(BooleanType())
def omt_is_latin(s: pd.Series) -> pd.Series:
    """Vectorized omt_is_latin (reference sql/zzz_language.sql:38-62).

    A string is latin iff every codepoint is <= 0x24F, or a combining
    mark (0x300-0x36F), or Latin-Extended-Additional (0x1E00-0x1EFF),
    or the schwa 0x259.
    """
    def one(v):
        if v is None:
            return None
        if not v:
            return True
        cps = np.frombuffer(v.encode("utf-32-le"), dtype=np.uint32)
        bad = (
            (cps > _LATIN_MAX)
            & ~((cps >= _LATIN_EXT_ADD[0]) & (cps <= _LATIN_EXT_ADD[1]))
            & ~((cps >= _COMBINING[0]) & (cps <= _COMBINING[1]))
            & (cps != _SCHWA)
        )
        return not bool(bad.any())

    return s.map(one)


def _unaccent_char(ch: str) -> str:
    """PG unaccent approximation: NFKD-decompose, drop combining marks."""
    d = unicodedata.normalize("NFKD", ch)
    out = "".join(c for c in d if not unicodedata.combining(c))
    return out or ch


def _remove_latin_str(s: str | None) -> str | None:
    """Python twin of reference sql/zzz_language.sql:12-35 (remove_latin):
    keep chars whose unaccented form does not start with [a-zA-Z], then
    apply the reference's normalization regex chain."""
    if s is None:
        return None
    kept = []
    for ch in s:
        u = _unaccent_char(ch)
        if not (u[:1].isascii() and u[:1].isalpha()):
            kept.append(ch)
    r = "".join(kept)
    r = re.sub(r"(\([ -.]*\)|\[[ -.]*\])", "", r, count=1)
    r = re.sub(r"\s+", " ", r)
    r = re.sub(r" +\. *$", "", r, count=1)
    r = re.sub(r"^ ?\. ", "", r, count=1)
    r = re.sub(r"^(/ /)+", " ", r)
    r = re.sub(r"^( /)+", "/", r)
    return r.strip(" -\n")


@pandas_udf(StringType())
def remove_latin(s: pd.Series) -> pd.Series:
    return s.map(_remove_latin_str)


def _has_latin_letter(s: str | None) -> bool | None:
    if s is None:
        return None
    return any(
        (u := _unaccent_char(ch)) and u[:1].isascii() and u[:1].isalpha() for ch in s
    )


@pandas_udf(BooleanType())
def contains_latin(s: pd.Series) -> pd.Series:
    """unaccent(name) ~ '[a-zA-Z]' (reference zzz_language.sql:84)."""
    return s.map(_has_latin_letter)


# --------------------------------------------------------- hstore/tag ops

def delete_empty_keys(tags) -> Column:
    """Drop map entries whose value is empty (reference zzz_language.sql:2-10)."""
    c = F.col(tags) if isinstance(tags, str) else tags
    return F.map_filter(c, lambda k, v: v != F.lit(""))


def slice_language_tags(tags, languages: list[str], extra_includes: list[str] = ()) -> Column:
    """Keep only whitelisted tag keys then drop empties (reference
    openmaptiles/sql.py:128-158). Whitelist = name:<lang> per configured
    language + int_name/loc_name/name/wikidata/wikipedia + mapping
    `tags/include` entries matching /(^|[_:])name([_:]|$)/."""
    name_re = re.compile(r"(?:^|[_:])name(?:[_:]|$)")
    whitelist = [f"name:{lang}" for lang in languages]
    whitelist += ["int_name", "loc_name", "name", "wikidata", "wikipedia"]
    for v in extra_includes:
        if name_re.search(v) and v not in whitelist:
            whitelist.append(v)
    c = F.col(tags) if isinstance(tags, str) else tags
    wl = F.array([F.lit(w) for w in whitelist])
    return delete_empty_keys(F.map_filter(c, lambda k, v: F.array_contains(wl, k)))


def tag_field(tags, key: str) -> Column:
    """NULLIF(tags->'key', '') (reference tileset.py:16-20)."""
    c = F.col(tags) if isinstance(tags, str) else tags
    return F.nullif(F.element_at(c, key), F.lit(""))


# --------------------------------------------------------- name resolution

def get_latin_name(tags, name_fallback=None) -> Column:
    """Reference zzz_language.sql:64-75: COALESCE(name if latin,
    name:en, int_name, l10n fallback). The osml10n fallback is modeled
    as the bracket-stripped name:en only (documented deviation: the
    osml10n extension's transliteration is out of scope; returning the
    raw non-latin name here would wrongly suppress name:nonlatin)."""
    t = F.col(tags) if isinstance(tags, str) else tags
    name = F.element_at(t, "name")
    fallback = name_fallback
    if fallback is None:
        fallback = F.nullif(
            F.trim(F.regexp_replace(F.element_at(t, "name:en"), r"\s*\(.*\)", "")),
            F.lit(""),
        )
    return F.coalesce(
        F.when(name.isNotNull() & omt_is_latin(name), name),
        tag_field(t, "name:en"),
        tag_field(t, "int_name"),
        fallback,
    )


def get_nonlatin_name(tags) -> Column:
    """Reference zzz_language.sql:78-88 (STRICT)."""
    t = F.col(tags) if isinstance(tags, str) else tags
    name = F.element_at(t, "name")
    expr = (
        F.when(name.isNotNull() & omt_is_latin(name), F.lit(None).cast("string"))
        .when(contains_latin(name), remove_latin(name))
        .otherwise(name)
    )
    return F.when(t.isNull(), F.lit(None).cast("string")).otherwise(expr)


def get_basic_names(tags) -> Column:
    """Reference zzz_language.sql:91-120: map of name:latin /
    name:nonlatin / name_int, with nonlatin nulled when equal to latin."""
    t = F.col(tags) if isinstance(tags, str) else tags
    latin = get_latin_name(t)
    nonlatin0 = get_nonlatin_name(t)
    nonlatin = F.when(nonlatin0 == latin, F.lit(None).cast("string")).otherwise(nonlatin0)
    name_int = F.coalesce(
        tag_field(t, "int_name"),
        tag_field(t, "name:en"),
        F.nullif(latin, F.lit("")),
        F.element_at(t, "name"),
    )
    pairs = F.array_compact(
        F.array(
            F.when(latin.isNotNull(), F.struct(F.lit("name:latin").alias("k"), latin.alias("v"))),
            F.when(nonlatin.isNotNull(), F.struct(F.lit("name:nonlatin").alias("k"), nonlatin.alias("v"))),
            F.when(name_int.isNotNull(), F.struct(F.lit("name_int").alias("k"), name_int.alias("v"))),
        )
    )
    return F.map_from_entries(pairs)


# --------------------------------------------------------- LabelGrid / LineLabel

def label_grid_exprs(x, y, grid_size) -> tuple[Column, Column]:
    """Numeric LabelGrid cell coordinates (reference sql/LabelGrid.sql:33-58):
    ST_SnapToGrid with origin grid_size/2 => round((c - gs/2)/gs)*gs + gs/2.

    Returns the snapped (x, y) pair; use both as grouping keys. The
    reference's text rendering is label_grid_text()."""
    gx = F.col(x) if isinstance(x, str) else x
    gy = F.col(y) if isinstance(y, str) else y
    gs = F.lit(float(grid_size)) if not isinstance(grid_size, Column) else grid_size
    half = gs / F.lit(2.0)
    # PostGIS snap-to-grid uses rint (half-even on exact .5 via C rint);
    # F.round is half-up — ties land on .5 only for adversarial inputs,
    # documented deviation.
    sx = F.round((gx - half) / gs, 0) * gs + half
    sy = F.round((gy - half) / gs, 0) * gs + half
    return sx, sy


def _fmt_coord(v: float) -> str:
    s = f"{v:.10f}".rstrip("0").rstrip(".")
    return "-0" if s == "-0" else s


def label_grid_text(x: float, y: float, grid_size: float) -> str:
    """Python twin producing the reference's text key, e.g.
    'POINT(305.7481130976 -305.7481130976)' (golden
    tests/expected/LabelGrid.sql.out). grid_size <= 0 -> 'null'."""
    if grid_size <= 0:
        return "null"
    half = grid_size / 2.0
    sx = round((x - half) / grid_size) * grid_size + half
    sy = round((y - half) / grid_size) * grid_size + half
    return f"POINT({_fmt_coord(sx)} {_fmt_coord(sy)})"


def line_label(zoom, label, geom_length) -> Column:
    """LineLabel(zoom, label, g) (reference sql/LineLabel.sql:18-34):
    keep iff zoom > 20, or the geometry has zero length, or
    1 <= length(label) <= ST_Length(g)/2^(20-zoom). geom_length is a
    precomputed mercator-length column (pure column math downstream)."""
    z = F.lit(zoom) if not isinstance(zoom, Column) else zoom
    lab = F.col(label) if isinstance(label, str) else label
    glen = F.col(geom_length) if isinstance(geom_length, str) else geom_length
    budget = glen / F.pow(F.lit(2.0), F.lit(20.0) - z.cast("double"))
    return F.when((z > F.lit(20)) | (glen == F.lit(0.0)), F.lit(True)).otherwise(
        F.length(lab).between(F.lit(1), budget)
    )
