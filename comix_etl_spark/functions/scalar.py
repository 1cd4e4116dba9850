"""F1–F15: the reference's scalar transform semantics as Column expressions.

The reference applies these row-at-a-time in Python during transform
(comixcatalog_starter.zip!etl/transform.py, etl/seed/seed_from_marvel.py,
app/api.py, app/static/js/cart.js). Here each is a vectorized Column
expression — Catalyst folds constants, pushes derived predicates, and the
whole transform stage stays inside WholeStageCodegen. F13 (cover URL
candidates, a presenter concern) and F15 (the Marvel auth digest, a
transport concern) have no engine caller and are not here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_issue_number(c: Column | str) -> Column:
    """F1 — numeric→string preserving "1.1"; None-safe; trimmed.

    Reference: comixcatalog_starter.zip!etl/transform.py:4-12. Python did
    str(value).strip(); a float 1.0 must render "1" and 1.1 must render
    "1.1" (the reference receives issueNumber as JSON number).
    """
    c = _col(c)
    s = F.trim(c.cast("string"))
    # strip a trailing ".0" that a double cast introduces ("1.0" -> "1")
    return F.nullif(F.regexp_replace(s, r"\.0$", ""), F.lit(""))


def cents_from_price(c: Column | str) -> Column:
    """F2 — dollars→integer cents: int(round(float(p) * 100)), None-safe.

    Reference: comixcatalog_starter.zip!etl/transform.py:14-20. Python
    ``round`` is banker's rounding (half-even); ``F.bround`` matches it
    exactly (SURVEY.md §7 risk register).
    """
    return F.bround(_col(c) * 100).cast("long")


def to_date_strict(c: Column | str, fmt: str = "yyyy-MM-dd") -> Column:
    """F3 — parse a date in one strict format, NULL on mismatch.

    Reference: comixcatalog_starter.zip!etl/transform.py:22-29 (try/except
    → None). try_to_timestamp keeps malformed input NULL without failing
    the job — the distributed analogue of the reference's per-row except.
    """
    return F.try_to_timestamp(_col(c), F.lit(fmt)).cast("date")


def pick_typed_date(dates: Column | str, date_type: str) -> Column:
    """F4 — from nested ``dates[]``, the entry where type==X, ISO-parsed.

    Reference: etl/seed/seed_from_marvel.py:193-204 — picks e.g. the
    ``onsaleDate`` entry from Marvel's ``dates`` array and falls back to
    the first 10 chars when full ISO-with-offset parsing fails.
    """
    matched = F.filter(_col(dates), lambda d: d["type"] == F.lit(date_type))
    raw = F.try_element_at(matched, F.lit(1))["date"]
    full = F.try_to_timestamp(raw, F.lit("yyyy-MM-dd'T'HH:mm:ssZ")).cast("date")
    return F.coalesce(full, to_date_strict(F.substring(raw, 1, 10)))


def pick_typed_price(prices: Column | str, price_type: str = "printPrice") -> Column:
    """F5 — first ``prices[]`` entry where type==X → its price.

    Reference: comixcatalog_starter.zip!etl/transform.py:36.
    """
    matched = F.filter(_col(prices), lambda p: p["type"] == F.lit(price_type))
    return F.try_element_at(matched, F.lit(1))["price"]


def normalize_thumb(thumbnail: Column | str, variant: str = "portrait_uncanny") -> Column:
    """F6 — "{path}/{variant}.{ext}"; NULL if missing or a placeholder.

    Reference: etl/seed/seed_from_marvel.py:181-190 (the
    'image_not_available' sentinel path yields no URL).
    """
    t = _col(thumbnail)
    ok = t.isNotNull() & t["path"].isNotNull() & ~t["path"].contains("image_not_available")
    return F.when(ok, F.concat(t["path"], F.lit(f"/{variant}."), F.coalesce(t["extension"], F.lit("jpg"))))


def is_variant(title: Column | str, variant_description: Column | str) -> Column:
    """F7 — 'variant' appears (case-insensitive) in title+description.

    Reference: etl/seed/seed_from_marvel.py:266-269.
    """
    blob = F.lower(F.concat_ws(" ", _col(title), _col(variant_description)))
    return blob.contains("variant")


def cents_to_display(c: Column | str) -> Column:
    """F8 — integer cents → "$D.CC" display string.

    Reference: app/api.py:61-64, app/static/js/cart.js:56-58
    (``$%d.%02d`` via floor-div / mod 100).
    """
    c = _col(c).cast("long")
    # exact integer arithmetic, NOT double division: double loses
    # precision above 2^53 cents, and Spark's % is sign-of-dividend so a
    # negative balance would render '$-1.-50'-style garbage. pmod + exact
    # decimal division gives the reference's Python floor-div/mod
    # semantics (-250 → '$-3.50' = -3*100+50).
    pm = F.pmod(c, F.lit(100))
    dollars = ((c - pm).cast("decimal(38,0)") / F.lit(100)).cast("long")
    # NULL guard: Java's Formatter prints null %d args as the literal
    # string 'null', so an unguarded NULL renders '$null.null'
    return F.when(c.isNotNull(), F.format_string("$%d.%02d", dollars, pm))


def token_overlap_score(a: Column | str, b: Column | str, bonus: Column | str | None = None) -> Column:
    """F9 — len(set(a.split()) & set(b.split())) * 10 + bonus.

    Reference: etl/seed/seed_from_marvel.py:126-135 (series best-match
    scoring; bonus was the comics_available count).
    """
    def toks(c: Column | str) -> Column:
        # filter empties: Spark split("") is [""], so two empty strings
        # would otherwise intersect with size 1 (Python "".split() is [])
        return F.filter(F.split(F.lower(F.trim(_col(c))), r"\s+"), lambda x: x != "")

    score = F.size(F.array_intersect(toks(a), toks(b))) * 10
    return score + _col(bonus) if bonus is not None else score


def relevance_score(q: str, weighted_cols: list[tuple[Column | str, int]]) -> Column:
    """F10 — weighted sum of case-insensitive substring hits.

    Reference: app/templates/search.html:177-187 (+3 series, +2 title,
    +1 number, +1 creators).
    """
    terms = [
        F.when(F.lower(F.coalesce(_col(c), F.lit(""))).contains(q.lower()), F.lit(w)).otherwise(F.lit(0))
        for c, w in weighted_cols
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def clean_text(c: Column | str) -> Column:
    """F11 — trim + NULL-if-empty normalization.

    Reference: seed_from_csv.py:60-63 (``(x or '').strip() or None``).
    """
    return F.nullif(F.trim(F.coalesce(_col(c), F.lit(""))), F.lit(""))


def issue_number_sort_key(c: Column | str) -> Column:
    """O1 parity helper — numeric sort key for TEXT issue_number.

    The reference sorts issue_number lexicographically ("10" < "2");
    parity mode sorts the raw string, sane mode uses this key: numeric
    prefix as double, non-numeric ("annual-1") sorts after, NULL last.
    """
    num = F.regexp_extract(_col(c), r"^(\d+(?:\.\d+)?)", 1).try_cast("double")
    return F.coalesce(num, F.lit(float("inf")))
