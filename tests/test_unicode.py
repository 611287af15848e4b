"""Goldens for the unicode tokenization contract (functions/shingles.py).

The recall gate rests on the pandas kernel and the JVM expression path
tokenizing IDENTICALLY; the DuckDB oracles must also agree on the
corpora they check. These tests pin all three engines to the contract
on texts containing non-ASCII whitespace (NBSP, ideographic space,
thin space, line/paragraph separators), accented Latin, Greek, CJK,
ligatures, and the known full-vs-simple lowercase divergence (U+0130).
"""

from __future__ import annotations

from collections import Counter

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.functions.shingles import shingle_set, shingle_strings, tokens
from gnames_spark.functions.sigkernel import make_shingle_set_udf
from gnames_spark.operators.verify import exact_jaccard_pairs

# NBSP=\xa0, ideographic space=　, thin space= , NEL=\x85,
# line sep= , para sep= , file sep=\x1c
GOLDEN_TEXTS = [
    "Héllo Wörld　Straße\tÉCOLE düß",
    "ĲSSEL Ñandú —ok\x1cEND",
    "中文　文本 没有 空格 问题",
    "mixed\xa0nbsp and line para\x85nel ends",
    "plain ascii text stays plain ascii text",
    "",
    "   \t\xa0　   ",
]

# JVM/Python use full + context-sensitive lowercase; DuckDB (utf8proc)
# uses simple lowercase. Known divergences (oracle corpora must avoid
# them; the engine itself — kernel==JVM — is unaffected):
#   U+0130 İ  -> 'i'+U+0307 (full)  vs 'i'   (simple)
#   Greek Σ at word end -> 'ς' (Final_Sigma) vs 'σ'
DIVERGENT_TEXT = "İstanbul"
DIVERGENT_SIGMA = "ΣΟΦΟΣ"


def python_tokens(t: str) -> list[str]:
    return [w for w in t.lower().split() if w]


def test_jvm_tokens_match_python_contract(spark):
    df = spark.createDataFrame([(t,) for t in GOLDEN_TEXTS], "text string")
    rows = df.select(tokens("text").alias("toks")).collect()
    for t, r in zip(GOLDEN_TEXTS, rows):
        assert r["toks"] == python_tokens(t), repr(t)


def test_jvm_tokens_match_python_on_divergent_codepoint(spark):
    # kernel<->JVM parity holds even where DuckDB diverges
    df = spark.createDataFrame([(DIVERGENT_TEXT,)], "text string")
    row = df.select(tokens("text").alias("toks")).collect()[0]
    assert row["toks"] == python_tokens(DIVERGENT_TEXT)


def test_duckdb_tokens_match_python_contract():
    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in GOLDEN_TEXTS:
        got = con.execute(
            f"SELECT {entry._DK_TOKS} FROM (SELECT $1 AS text)", [t]
        ).fetchone()[0]
        assert got == python_tokens(t), repr(t)


def test_duckdb_divergence_is_exactly_the_documented_set():
    import __spark_entry__ as entry

    con = duckdb.connect()
    got = con.execute(
        f"SELECT {entry._DK_TOKS} FROM (SELECT $1 AS text)", [DIVERGENT_TEXT]
    ).fetchone()[0]
    assert got == ["istanbul"]  # simple lowercase
    assert python_tokens(DIVERGENT_TEXT) == ["i̇stanbul"]  # full lowercase
    got = con.execute(
        f"SELECT {entry._DK_TOKS} FROM (SELECT $1 AS text)", [DIVERGENT_SIGMA]
    ).fetchone()[0]
    assert got == ["σοφοσ"]  # simple: no Final_Sigma context
    assert python_tokens(DIVERGENT_SIGMA) == ["σοφος"]


def _nonascii_corpus() -> list[tuple[int, str]]:
    base = (
        "die völker europas üben ihre schönsten lieder états "
        "çédille français straße größe 中文 文本 数据 管道 "
        "español niño año corazón más allá"
    ).split()
    rng = np.random.RandomState(7)
    docs = []
    for i in range(30):
        words = [base[j] for j in rng.randint(0, len(base), 40)]
        sep = "　" if i % 3 == 0 else (" " if i % 3 == 1 else "\xa0")
        docs.append((i, sep.join(words)))
    # plant near-dups: copy with one word changed
    for i in range(5):
        did, text = docs[i]
        words = text.split()
        words[3] = "ersetzt"
        docs.append((100 + i, " ".join(words)))
    return docs


def test_kernel_vs_jvm_jaccard_parity_on_nonascii(spark):
    """The dedup_kernel_pairs gate, on a corpus that is NOT ascii: the
    fused Arrow kernel's shingle sets and the JVM xxhash shingle sets
    must yield the identical Jaccard value for every pair (hash
    relabeling invariance only holds if tokenization agrees)."""
    cfg = DedupConfig(shingle_k=3, shuffle_partitions=8)
    docs = spark.createDataFrame(_nonascii_corpus(), "doc_id long, text string")
    jvm_sets = docs.select("doc_id", shingle_set("text", 3).alias("shingle_set"))
    ker_sets = docs.select(
        "doc_id", make_shingle_set_udf(cfg)(F.col("text")).alias("shingle_set")
    )
    thr = 0.2
    jvm_pairs = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in exact_jaccard_pairs(jvm_sets, thr).collect()
    }
    ker_pairs = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in exact_jaccard_pairs(ker_sets, thr).collect()
    }
    assert jvm_pairs == ker_pairs
    assert len(jvm_pairs) >= 5  # the planted near-dups are found


def test_fnv_token_hash_duckdb_parity():
    """functions/simhash.py FNV codepoint hash == the generated DuckDB
    SQL, including CJK (multi-byte) and accented tokens."""
    import __spark_entry__ as entry
    from gnames_spark.functions.simhash import FNV_BASIS1, FNV_BASIS2, fnv_token_hashes

    toks = ["hello", "中文文本数据管道超长词条", "ñandú", "ß", "a", "verylongtokenover8chars"]
    lens = np.array([len(t) for t in toks], dtype=np.int64)
    ours = fnv_token_hashes(np.array(toks, dtype=object), lens)
    con = duckdb.connect()
    fnv64 = (
        f"({entry._dk_fnv32(FNV_BASIS1)} * 4294967296::UBIGINT "
        f"+ {entry._dk_fnv32(FNV_BASIS2)})"
    )
    for t, h in zip(toks, ours):
        got = con.execute(
            f"SELECT {fnv64} FROM (SELECT $1 AS t)", [t]
        ).fetchone()[0]
        assert int(got) == int(h), t


# The repetition kernel's line and gram rules, against the JVM
# reference expressions. Each text is built so that a near-miss rule
# changes a count: Python .strip() would merge the tab-edged and CRLF
# lines with their bare twins, str.splitlines() would split on U+2028,
# and simple lowercase would shorten İ-grams by one char.
REPETITION_TEXTS = [
    "\tsame\t\nsame\n same \nsame\r\nsame\r\nsame",
    "a\xa0b a\xa0b\n\xa0a b\xa0\na b\n\xa0a b\xa0",
    "x\u3000y x\u3000y x y\u2028x y\nx y x y",
    "p\x1cq p q\x1cp q p q p q p",
    "\u0130stanbul \u0130stanbul \u0130i \u0130i \u0130stanbul \u0130stanbul"
    "\n\u0130stanbul\n\u0130STANBUL",
    "",
    "   \n \n",
    None,
]


def _reference_profile(lines: list[str], grams: list[str]) -> tuple[int, ...]:
    """The repetition profile, counted over the JVM's exact strings."""
    gc = Counter(grams)
    return (
        len(lines),
        len(lines) - len(set(lines)),
        len(grams),
        max(gc.values(), default=0),
        sum(len(g) * c for g, c in gc.items()),
        sum(len(g) * c for g, c in gc.items() if c >= 2),
    )


@pytest.mark.parametrize("n", [2, 5])
def test_repetition_kernel_matches_jvm_lines_and_grams(spark, n):
    from gnames_spark.operators.linededup import explode_lines
    from gnames_spark.operators.repetition import PROFILE_FIELDS, repetition_profile

    df = spark.createDataFrame(list(enumerate(REPETITION_TEXTS)), "doc_id long, text string")
    lines: dict[int, list[str]] = {i: [] for i in range(len(REPETITION_TEXTS))}
    for r in explode_lines(df).orderBy("doc_id", "line_no").collect():
        lines[r.doc_id].append(r.line)
    grams = {
        r.doc_id: r.grams or []
        for r in df.select("doc_id", shingle_strings("text", n).alias("grams")).collect()
    }
    got = {
        r.doc_id: tuple(r.p[f] for f in PROFILE_FIELDS)
        for r in df.select("doc_id", repetition_profile(F.col("text"), n).alias("p")).collect()
    }
    for i, t in enumerate(REPETITION_TEXTS):
        assert got[i] == _reference_profile(lines[i], grams[i]), (repr(t), n)
    # the rules the texts were built to exercise really bite
    assert lines[0] == ["\tsame\t", "same", "same", "same\r", "same\r", "same"]
    assert got[0][:2] == (6, 3)
    assert lines[2][0] == "x\u3000y x\u3000y x y\u2028x y"
    assert grams[4][0].startswith("i\u0307stanbul i\u0307stanbul")
    assert got[6] == got[7] == (0,) * len(PROFILE_FIELDS)
