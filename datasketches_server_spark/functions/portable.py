"""Engine-portable deterministic primitives (Spark Column + ANSI-SQL twins).

The driver's correctness gate replays every registered query in DuckDB
(artifacts/CORRECTNESS_r*.json); anything that must hash-match
bit-identically across engines therefore has to avoid engine-specific
hashes (``xxhash64``), non-correctly-rounded libm calls (``ln``,
``exp``) and 64-bit wraparound arithmetic (DuckDB raises on BIGINT
overflow).  This module provides the shared vocabulary:

* :func:`md5_long60` / :func:`md5_long60_sql` -- 60-bit integer from the
  md5 hex digest (md5 is byte-identical everywhere; 60 bits < 2^63 so no
  overflow on either engine).
* :func:`u01` / :func:`u01_sql` -- deterministic uniform (0, 1] from any
  value, via md5; used as the sampling randomness (reference analog:
  the RNG inside ReservoirItemsSketch / VarOptItemsSketch --
  UpdateHandler.java:166-185 -- replaced by a seedable hash so runs,
  resume, and the SQL oracle all see the same stream).
* :func:`mix31` / :func:`mix31_sql` -- two rounds of 31-bit LCG mixing
  for integer keys (products stay < 2^62: overflow-free on both engines).

Every Spark builder here has an ``*_sql`` twin that emits the identical
arithmetic as a SQL fragment; tests assert bit-equality between the two
on real data.  IEEE double division and comparison are exactly rounded
and therefore portable; that is why sampling keys use division
(``u / w``) and never logarithms.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

M31 = 2147483647          # 2^31 - 1 (Mersenne)
TWO31 = 2147483648        # 2^31
A1, B1 = 1103515245, 12345
A2, B2 = 1664525, 1013904223


# -- md5 -> 60-bit integer ---------------------------------------------------

def md5_long60(col: Column) -> Column:
    """First 15 hex digits of md5 as a non-negative 60-bit long."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def md5_long60_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"


# -- uniform (0, 1] ----------------------------------------------------------

def u01(col: Column, salt: str = "") -> Column:
    """Deterministic uniform (0, 1] from any column (via md5 of its
    string form; optional salt namespaces independent draws).  The
    division is by 2^31 with a numerator in [1, 2^31] -- both exactly
    representable, so the double is identical on every IEEE engine."""
    c = F.concat(F.lit(salt), col.cast("string")) if salt else col.cast("string")
    h = F.pmod(md5_long60(c), F.lit(TWO31))
    return ((h + 1) / F.lit(float(TWO31))).cast("double")


def u01_sql(expr: str, salt: str = "") -> str:
    e = f"concat('{salt}', CAST({expr} AS VARCHAR))" if salt else expr
    return f"(({md5_long60_sql(e)} % {TWO31}) + 1) / {float(TWO31)}"


# -- 31-bit LCG mixing for integer keys --------------------------------------

def mix31(col: Column) -> Column:
    """Two LCG rounds over [0, 2^31): cheap portable mixing for long
    keys (e.g. CMS row hashing).  Inputs are reduced mod 2^31-1 first so
    every product stays below 2^62."""
    h = F.pmod(col, F.lit(M31))
    h = F.pmod(h * A1 + B1, F.lit(M31))
    return F.pmod(h * A2 + B2, F.lit(M31))


def mix31_sql(expr: str) -> str:
    # pmod-equivalent at every step: DuckDB's % is sign-preserving, so
    # each reduction wraps as ((x % m) + m) % m to match F.pmod on
    # negative inputs (the module contract is bit-equality with mix31).
    def _pm(e: str) -> str:
        return f"((({e}) % {M31} + {M31}) % {M31})"

    h = _pm(expr)
    h = _pm(f"{h} * {A1} + {B1}")
    return _pm(f"{h} * {A2} + {B2}")


# -- word n-grams (shared with the DuckDB oracle) ----------------------------

def word_grams_all(toks: Column, n: int) -> Column:
    """All space-joined word n-grams WITH multiplicity (clamped: a doc
    shorter than n tokens yields one short gram).  Matches
    :func:`word_grams_all_sql` token for token; the distinct variant
    :func:`word_grams` is derived so the clamp-and-slice logic lives in
    exactly one place per engine."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def word_grams_all_sql(toks_expr: str, n: int) -> str:
    return (
        f"[array_to_string(({toks_expr})[i+1:i+{n}], ' ') "
        f"FOR i IN range(0, greatest(len({toks_expr})-{n}, 0)+1)]"
    )


def word_grams(toks: Column, n: int) -> Column:
    """Distinct space-joined word n-grams (clamped: short docs yield one
    gram).  Matches :func:`word_grams_sql` token for token."""
    return F.array_distinct(word_grams_all(toks, n))


def word_grams_sql(toks_expr: str, n: int) -> str:
    return f"list_distinct({word_grams_all_sql(toks_expr, n)})"
