"""Differential parity tests: JVM regexp normalize chain vs the pandas
byte-parity kernel (tests/vnnorm_jvm.py vs functions/vnnorm.py).

The JVM chain claims byte-identity ONLY inside the safe charset
(SAFE_TEXT_PATTERN); these tests prove that claim on the goldens, on
adversarial rule-boundary strings and on a seeded fuzz corpus built from
the same fragment vocabulary as the hypothesis fuzz suite, and prove the
safe-charset check rejects every known-divergent character class."""

from __future__ import annotations

import json
import random
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from company_name_matching_spark.functions import vnnorm
from tests import vnnorm_jvm

_FRAGMENTS = [
    "công ty", "cty", "tnhh", "cp", "ctcp", "jsc", "co.,ltd", "co. ltd",
    "llc", "ltd", "corp", "group", "tập đoàn", "tap doan", "tapdoan", "td",
    "br", "chi nhánh", "cn", "rep office", "representative office", "vpđd",
    "vpdd", "cổ phần", "trách nhiệm hữu hạn", "một thành viên", "1tv",
    "1 tv", "sản xuất thương mại", "sx tm", "sx-tm", "sx & tm", "sxtm",
    "thương mại dịch vụ", "tm&dv", "tm-dv", "tmdv", "tm dv",
    "xuất nhập khẩu", "xnk", "imp-exp", "import export",
    "đầu tư xây dựng", "đt xd", "dt xd", "dtxd", "hợp tác xã",
    "hop tac xa", "hợp danh", "sữa", "việt", "nam", "sơn", "hà", "a&b",
    "x+y", "q-z", "123", "!!", "@#$", "ĐẠI", "ồ Ẫ ự",
    "joint stock company", "limited liability company", "vietnam",
    "ẠẢÃẦẤ", "co., ltd.", "BR Công ty", "corp.", "jsc.",
]


def _fuzz_corpus(n: int = 400, seed: int = 5) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        parts = [rng.choice(_FRAGMENTS) for _ in range(rng.randint(0, 7))]
        s = " ".join(parts)
        if rng.random() < 0.5:
            s = s.upper()
        if rng.random() < 0.3:
            s = "  " + s + " "
        out.append(s)
    return out


def _assert_parity(spark, texts: list[str]) -> None:
    """Every SAFE text: JVM struct == pandas kernel, byte-for-byte."""
    pdf = pd.Series(texts)
    cleaned, nkey = vnnorm.clean_name_and_norm_key(pdf)
    mkey = (
        vnnorm._apply_rules(cleaned, vnnorm.MATCH_ALIASES)
        .str.replace(r"\s+", " ", regex=True)
        .str.strip()
    )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    safe_and_jvm = df.select(
        "i",
        vnnorm_jvm.is_jvm_safe(F.col("t")).alias("safe"),
        vnnorm_jvm.normalized_struct(F.col("t")).alias("n"),
    ).collect()
    n_safe = 0
    for row in safe_and_jvm:
        if not row["safe"]:
            continue
        n_safe += 1
        i = row["i"]
        assert row["n"]["cleaned"] == cleaned.iloc[i], texts[i]
        assert row["n"]["norm_key"] == nkey.iloc[i], texts[i]
        assert row["n"]["match_key"] == mkey.iloc[i], texts[i]
    assert n_safe > 0  # the corpus must actually exercise the JVM path


def test_jvm_parity_on_goldens(spark):
    goldens = json.loads(
        (Path(__file__).parent / "golden_norms.json").read_text()
    )
    _assert_parity(spark, [g["raw"] for g in goldens])


def test_jvm_parity_on_fuzz_corpus(spark):
    _assert_parity(spark, _fuzz_corpus())


def test_jvm_parity_on_rule_boundaries(spark):
    cases = [
        "", "   ", "a", "CO., LTD.", "co.ltd", "sx&tm x", "SX - TM",
        "br cty abc", "BR CÔNG TY XYZ", "abr cty", "1 tv abc", "x 1tv",
        "tm & dv", "tm-dv q", "san xuat tm", "đt xd nhà", "-&+., x",
        "td td td", "cp. jsc ltd", "a&b-c+d", "việt nam co., ltd",
        "corp corp.", "group of groups", "... !!! ???",
        "rep    office", "representative  office hn",
    ]
    _assert_parity(spark, cases)


def test_router_flags_divergent_charsets_unsafe(spark):
    unsafe = [
        "a\tb",            # tab: Python \s/strip see it, F.trim does not
        "a b",        # NBSP
        "İstanbul co",     # U+0130: 1:N lowercase divergence
        "x² ltd",          # superscript: word to Python, non-word to Java
        "café",      # combining acute: NFC is not the identity
        "½ share co",      # vulgar fraction
        "line\nbreak",     # newline
    ]
    safe = ["Công ty TNHH ABC", "ẠẢÃ ồ Ẫ ự đĐ", "a&b-c+d 123", ""]
    df = spark.createDataFrame(
        [(t, True) for t in safe] + [(t, False) for t in unsafe],
        "t string, want boolean",
    )
    got = df.select("t", "want",
                    vnnorm_jvm.is_jvm_safe(F.col("t")).alias("safe")).collect()
    for r in got:
        assert r["safe"] == r["want"], repr(r["t"])
