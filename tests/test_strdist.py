"""Differential tests for the from-scratch Damerau-Levenshtein HOF
expression (functions/strdist.py) — pinned discriminating cases, a
pure-Python reference implementation of the TRUE (unrestricted)
variant, and a hypothesis sweep over a dense small-alphabet space
(small alphabets maximize transposition/occurrence-bookkeeping
collisions, the part optimal-string-alignment gets wrong)."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.functions.strdist import damerau_levenshtein


def _dl_ref(a: str, b: str) -> int:
    """Lowrance-Wagner reference (true DL, with the da[] bookkeeping)."""
    la, lb = len(a), len(b)
    maxd = la + lb
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = maxd
    for i in range(la + 1):
        d[i + 1][0] = maxd
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = maxd
        d[1][j + 1] = j
    da: dict[str, int] = {}
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            el = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][el] + (i - k - 1) + 1 + (j - el - 1),
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def _spark_dl(spark, cases):
    df = spark.createDataFrame(cases, "a string, b string").withColumn(
        "dl", damerau_levenshtein("a", "b")
    )
    return {(r["a"], r["b"]): r["dl"] for r in df.collect()}


PINNED = [
    # (a, b, expected) — expected values double-checked against
    # DuckDB's damerau_levenshtein builtin
    ("CA", "ABC", 2),  # THE unrestricted-vs-OSA discriminator (OSA: 3)
    ("a cat", "an act", 2),  # edit inside a transposed pair (OSA: 3)
    ("ab", "ba", 1),
    ("abcdef", "abcfed", 2),
    ("kitten", "sitting", 3),
    ("", "", 0),
    ("", "abc", 3),
    ("abc", "", 3),
    ("same", "same", 0),
    ("spark", "sprak", 1),
]


def test_pinned_cases(spark):
    got = _spark_dl(spark, [(a, b) for a, b, _ in PINNED])
    for a, b, want in PINNED:
        assert got[(a, b)] == want, (a, b, got[(a, b)], want)


def test_null_propagates(spark):
    df = spark.createDataFrame(
        [("x", None), (None, "y"), (None, None)], "a string, b string"
    ).withColumn("dl", damerau_levenshtein("a", "b"))
    assert [r["dl"] for r in df.collect()] == [None, None, None]


def test_symmetric_and_bounds(spark):
    cases = [("abcab", "bacba"), ("order", "redro"), ("aa", "aaaa")]
    both = _spark_dl(spark, cases + [(b, a) for a, b in cases])
    for a, b in cases:
        assert both[(a, b)] == both[(b, a)]
        lev = abs(len(a) - len(b))
        assert lev <= both[(a, b)] <= max(len(a), len(b))


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abc", max_size=7),
            st.text(alphabet="abc", max_size=7),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_matches_reference_dense_alphabet(spark, cases):
    got = _spark_dl(spark, cases)
    for a, b in cases:
        assert got[(a, b)] == _dl_ref(a, b), (a, b, got[(a, b)], _dl_ref(a, b))


def test_dl_le_lev_on_vocab(spark, sf_dir):
    """DL <= Levenshtein everywhere, and the registry entry's pruning
    guards are supersets of dl <= 2 (|len diff| <= 2, lev <= 2*dl)."""
    from ethiopia_legal_etl_spark.operators.joins import fuzzy_vocab_damerau

    rows = fuzzy_vocab_damerau(spark, sf_dir).collect()
    assert rows, "vocab should contain near-duplicate token pairs"
    for r in rows:
        assert r["dl_dist"] <= r["lev_dist"] <= 2 * r["dl_dist"]
        assert r["dl_dist"] <= 2


# ---------------- Jaro-Winkler ----------------


def _jaro_ref(s: str, t: str) -> float:
    ls, lt = len(s), len(t)
    if ls == 0 or lt == 0:
        return 0.0
    if s == t:
        return 1.0
    w = max(ls, lt) // 2 - 1
    tm = [False] * lt
    sm = [False] * ls
    m = 0
    for i in range(ls):
        lo, hi = max(0, i - w), min(lt - 1, i + w)
        for j in range(lo, hi + 1):
            if not tm[j] and s[i] == t[j]:
                tm[j] = sm[i] = True
                m += 1
                break
    if m == 0:
        return 0.0
    tr = 0
    j = 0
    for i in range(ls):
        if sm[i]:
            while not tm[j]:
                j += 1
            if s[i] != t[j]:
                tr += 1
            j += 1
    tr //= 2
    return (m / ls + m / lt + (m - tr) / m) / 3


def _jw_ref(s: str, t: str) -> float:
    ja = _jaro_ref(s, t)
    if ja <= 0.7:
        return ja
    el = 0
    for a_c, b_c in zip(s[:4], t[:4]):
        if a_c == b_c:
            el += 1
        else:
            break
    return ja + el * 0.1 * (1 - ja)


JW_PINNED = [
    # double-checked against DuckDB's jaro_winkler_similarity
    ("MARTHA", "MARHTA", 0.9611111111111111),
    ("DIXON", "DICKSONX", 0.8133333333333332),
    ("ab", "ba", 0.0),  # window max(2,2)/2-1 = 0: no matches
    ("", "", 0.0),  # DuckDB quirk: empty/empty is 0, not textbook 1
    ("", "abc", 0.0),
    ("same", "same", 1.0),
    ("CRATE", "TRACE", 0.7333333333333334),  # >0.7 but prefix 0
]


def _spark_jw(spark, cases):
    from ethiopia_legal_etl_spark.functions.strdist import (
        jaro_winkler_similarity,
    )

    df = spark.createDataFrame(cases, "a string, b string").withColumn(
        "jw", jaro_winkler_similarity("a", "b")
    )
    return {(r["a"], r["b"]): r["jw"] for r in df.collect()}


def test_jw_pinned_cases(spark):
    got = _spark_jw(spark, [(a, b) for a, b, _ in JW_PINNED])
    for a, b, want in JW_PINNED:
        assert got[(a, b)] == want, (a, b, got[(a, b)], want)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcd", max_size=8),
            st.text(alphabet="abcd", max_size=8),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_jw_matches_reference_dense_alphabet(spark, cases):
    got = _spark_jw(spark, cases)
    for a, b in cases:
        want = _jw_ref(a, b) if a != b else (1.0 if a else 0.0)
        assert got[(a, b)] == want, (a, b, got[(a, b)], want)


def test_jw_range_and_symmetry(spark):
    cases = [("algeria", "nigeria"), ("france", "frane"), ("peru", "iran")]
    both = _spark_jw(spark, cases + [(b, a) for a, b in cases])
    for a, b in cases:
        assert both[(a, b)] == both[(b, a)]
        assert 0.0 <= both[(a, b)] <= 1.0
