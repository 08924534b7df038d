"""JVM-native twin of the vnnorm normalization kernel — a test-only
second statement of the spec.

The pandas kernel (``functions/vnnorm.py``) is the byte-parity ground
truth for the reference's normalization spec (``src/preprocess.py:4-217``)
and the only kernel the engine runs. This module states the SAME ordered
rule chain as chained ``regexp_replace``/``translate``/``lower``/``trim``
Column expressions, so the differential suite (``test_vnnorm_jvm.py``)
can check the kernel against an independent implementation.

It lives in the tests because it lost as a runtime kernel
(``bench_normalize_kernel.json``: 18.5 s vs 12.1 s at local[8], 30.8 vs
8.9 at local[32] on 217k pages). The ~120-rule chain nested as one
Column expression exceeds janino's 64 KB generated-method limit, so
Spark falls back to interpreted evaluation with a
``UTF8String → java.lang.String → UTF8String`` round-trip per
regexp_replace.

Byte-parity scope — the SAFE charset
------------------------------------

Java and Python regex/casing semantics agree only on a (large) subset of
unicode. ``SAFE_TEXT_PATTERN`` whitelists exactly the ranges where every
step of the chain is provably byte-identical to the pandas kernel:

* ASCII printable ``\\x20-\\x7e``;
* Latin-1 supplement and Latin Extended A/B (``¡..ɏ``) **minus** the
  characters with divergent semantics: NBSP ``\\u00a0`` (Python
  ``str.strip``/``\\s`` treat it as whitespace, ``F.trim`` does not),
  superscripts/fractions ``²³¹¼½¾`` (alphanumeric to Python ``\\w``,
  non-word to Java ``(?U)\\w`` — flips ``\\b`` boundaries), and
  ``İ`` U+0130 (Python/Java lowercase to ``i̇`` = i + combining dot,
  Spark's UTF8String maps char-wise to ``i``);
* Latin Extended Additional ``\\u1e00-\\u1eff`` (all precomposed
  Vietnamese letters live here or in Latin-1/Ext-A).

Inside this set: NFC is the identity (every char is its own canonical
composition — no combining marks, no singleton decompositions), the only
whitespace character is the ASCII space (so Python ``\\s``/``str.strip``
≡ Java ``(?U)\\s``/``F.trim``), lowercase is 1:1 and locale-stable, and
``(?U)`` makes Java's ``\\b``/``\\w`` agree with Python's unicode word
semantics. The differential suite compares only strings inside the set
and checks that ``is_jvm_safe`` rejects every known-divergent class.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from company_name_matching_spark.functions import vnnorm

# The provably-parity-safe charset (see module docstring for why each
# exclusion exists). Kept as ranges so the rlike is one codegen'd scan.
SAFE_TEXT_PATTERN = (
    "^["
    "\\x20-\\x7e"          # ASCII printable
    "\\u00a1-\\u00b1"      # ¡..± (skips NBSP a0, ² b2, ³ b3)
    "\\u00b4-\\u00b8"      # ´µ¶·¸ (skips ¹ b9)
    "\\u00ba-\\u00bb"      # º» (skips ¼½¾ bc-be)
    "\\u00bf-\\u012f"      # ¿..į
    "\\u0131-\\u024f"      # ı..ɏ (skips İ 0130)
    "\\u1e00-\\u1eff"      # Latin Extended Additional (Vietnamese)
    "]*$"
)


def is_jvm_safe(col: Column) -> Column:
    """True when the JVM chain is provably byte-identical to the pandas
    kernel for this string (null → null, like every Spark predicate)."""
    return col.rlike(SAFE_TEXT_PATTERN)


def _apply_rules(col: Column, rules) -> Column:
    # (?U) = UNICODE_CHARACTER_CLASS: aligns Java \b/\w/\s with Python's
    # unicode semantics (within the safe charset — see module docstring)
    for pattern, replacement in rules:
        col = F.regexp_replace(col, "(?U)" + pattern, replacement)
    return col


def fold_accents(col: Column) -> Column:
    """JVM twin of ``vnnorm.fold_accents`` — same 134-char table."""
    return F.translate(col, vnnorm.ACCENT_SRC, vnnorm.ACCENT_DST)


def _canonical_base(col: Column) -> Column:
    """Twin of ``vnnorm._canonical_base``: NFC+lower+strip → entity
    rules → functional rules. NFC is the identity on the safe charset;
    trim-before-lower commutes with strip-after-lower because the only
    whitespace present is the ASCII space."""
    col = F.lower(F.trim(col))
    col = _apply_rules(col, vnnorm.ENTITY_RULES)
    return _apply_rules(col, vnnorm.FUNCTIONAL_RULES)


def _finish_clean(col: Column, remove_stopwords: bool = True) -> Column:
    """Twin of ``vnnorm._finish_clean``."""
    col = F.regexp_replace(col, "(?U)" + vnnorm.SPECIAL_CHAR_PATTERN, " ")
    if remove_stopwords:
        col = _apply_rules(col, [(p, "") for p in vnnorm.STOPWORDS])
        col = fold_accents(col)
        col = _apply_rules(col, [(p, "") for p in vnnorm.STOPWORDS_NO_ACCENT])
    else:
        col = fold_accents(col)
    return F.trim(F.regexp_replace(col, r"(?U)\s+", " "))


def clean_name(col: Column, remove_stopwords: bool = True) -> Column:
    """JVM twin of ``vnnorm.clean_name`` (safe-charset input)."""
    return _finish_clean(_canonical_base(col), remove_stopwords)


def norm_key(col: Column) -> Column:
    """JVM twin of ``vnnorm.norm_key`` (safe-charset input)."""
    return F.trim(fold_accents(_canonical_base(col)))


def match_key_from_clean(cleaned: Column) -> Column:
    """MATCH_ALIASES layer + re-collapse over an already-cleaned string
    (twin of the tail of ``vnnorm.match_key``)."""
    col = _apply_rules(cleaned, vnnorm.MATCH_ALIASES)
    return F.trim(F.regexp_replace(col, r"(?U)\s+", " "))


def normalized_struct(col: Column) -> Column:
    """(cleaned, norm_key, match_key) struct — the JVM twin of
    ``normalize._normalize_udf``. The shared 53-rule canonical base is
    stated once; ProjectExec's codegen-level common-subexpression
    elimination evaluates it once per row (the same sharing the pandas
    kernel gets from ``clean_name_and_norm_key``)."""
    base = _canonical_base(col)
    cleaned = _finish_clean(base)
    return F.struct(
        cleaned.alias("cleaned"),
        F.trim(fold_accents(base)).alias("norm_key"),
        match_key_from_clean(cleaned).alias("match_key"),
    )
