"""Seeded cross-engine fuzz for the round-6 text operators: 150 documents
drawn from an adversarial alphabet (unicode, digit runs, '#'/ellipsis
storms, repeated spaces, empty and single-token texts) must hash-match the
DuckDB oracle — the same divergence classes (split semantics, md5-on-UTF-8,
replace-length counting) that past advice rounds probed one at a time."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from spark_state_provider_spark import operators
from spark_state_provider_spark.operators import registry
from tests.oracle import compare_all, compare_query
from tests.test_advice_edges import _docs, _fixture_dir

operators.load_all()

_WORDS = [
    "the", "and", "of", "to", "a", "quick", "brown", "fox", "jumps",
    "über", "naïve", "café", "空白", "数据", "###", "...", "a1b2",
    "12345", "x", "...", "#", "loooooooooooooooooooooooooooooongword",
    "mixedCASE", "tab\tinside", "dot.dot", "semi;colon",
    # retrieval terms so BM25 (spark/table/hash) and proximity
    # (spark…join within 5) produce rows instead of passing vacuously
    "spark", "table", "hash", "join",
]
_LANGS = ["en", "es", "de", "fr", "zh"]


def _fuzz_docs(seed: int = 42, n: int = 150):
    r = random.Random(seed)
    rows = []
    for i in range(1, n + 1):
        kind = r.random()
        if kind < 0.04:
            text = ""  # empty
        elif kind < 0.08:
            text = r.choice(_WORDS)  # single token
        elif kind < 0.14:
            # repeated-space storm: split keeps empty tokens on BOTH engines
            text = "  ".join(r.choices(_WORDS, k=r.randint(2, 8)))
        else:
            text = " ".join(r.choices(_WORDS, k=r.randint(2, 120)))
        rows.append((i, text, r.choice(_LANGS), f"src{r.randint(0, 5)}"))
    # planted NEAR-DUP twins (one word substituted in a 30+-word doc →
    # trigram Jaccard well above the 0.5 threshold): without them the
    # LSH/cluster/golden-record/calibration checks pass vacuously on an
    # all-distinct corpus
    for k in range(8):
        base_words = r.choices(_WORDS, k=40)
        twin = list(base_words)
        twin[20] = "altered"
        rows.append(
            (n + 10 + 2 * k, " ".join(base_words), "en", f"src{k % 6}")
        )
        rows.append(
            (n + 11 + 2 * k, " ".join(twin), "en", f"src{(k + 1) % 6}")
        )
    docs = _docs(rows)
    # NULL text rows: split/length/regex of NULL must drop or propagate
    # identically in both engines (verified family-wide before pinning)
    nulls = pd.DataFrame(
        {
            "doc_id": pd.Series(range(n + 1, n + 6), dtype="int64"),
            "text": [None] * 5,
            "lang": ["en"] * 5,
            "source": ["src0"] * 5,
            "n_chars": pd.Series([0] * 5, dtype="int64"),
        }
    )
    return pd.concat([docs, nulls], ignore_index=True)


# The `text` family: every batch query whose hot path reads
# `documents.text`. The fuzz corpus exercises split/md5/replace-length/regex
# semantics across BOTH engines for the whole family at once.
def test_fuzz_corpus_hash_matches_oracles(spark, tmp_path):
    sf = _fixture_dir(tmp_path, _fuzz_docs())
    failures = compare_all(spark, sf, registry.family("text"))
    assert not failures, "\n".join(failures)


def _fuzz_events(seed: int = 42, n: int = 500) -> pd.DataFrame:
    """Events with HEAVY timestamp ties (25 distinct ts for 500 rows) and
    negative values — the order-determinism hazard class for windows,
    sessionization, as-of joins, and resampling."""
    r = random.Random(seed)
    base = pd.Timestamp("2024-03-01 00:00:00")
    # 25 slots across 10 DAYS: ties stay heavy, but windows/sessions can
    # close, the as-of cutoff (max ts − 1 day) keeps rows, and the random
    # event_id↔ts relation makes the streamed replay genuinely late-heavy
    slots = [
        base + pd.Timedelta(seconds=r.randint(0, 10 * 86400))
        for _ in range(25)
    ]
    types = ["signup", "click", "purchase", "error", "view"]
    rows = [
        (
            i,
            r.choice(slots),
            r.randint(0, 15),
            r.choice(types),
            # occasional 3σ+ spikes so the rolling-anomaly monitors have
            # something to detect instead of passing vacuously
            99999.99 if r.random() < 0.02 else round(r.uniform(-200, 500), 2),
            '{"k": %d}' % r.randint(0, 99),
        )
        for i in range(n)
    ]
    df = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    df["event_id"] = df["event_id"].astype("int64")
    df["user_id"] = df["user_id"].astype("int64")
    return df


def _events_fixture_dir(tmp_path, events: pd.DataFrame) -> str:
    import os

    from tests.test_advice_edges import SF_SRC, _OTHER_TABLES

    d = tmp_path / "sf_ev"
    d.mkdir()
    for t in list(_OTHER_TABLES) + ["documents"]:
        if t != "events":
            os.symlink(os.path.join(SF_SRC, f"{t}.parquet"), d / f"{t}.parquet")
    events.to_parquet(d / "events.parquet", index=False)
    return str(d)


# The `events` family: batch queries whose hot path reads events, every
# window / session / as-of / resample / sketch op that must TIE-BREAK
# deterministically.
def test_fuzz_events_tie_storm_matches_oracles(spark, tmp_path):
    sf = _events_fixture_dir(tmp_path, _fuzz_events())
    failures = compare_all(spark, sf, registry.family("events"))
    assert not failures, "\n".join(failures)


# The TPC-H fuzz builds on sf0.01, not the test default sf0.001: the
# partsupp-derived four (Q2/Q11/Q20/Q22) return ZERO rows at sf0.001 even
# on stock values (selectivity × tiny fixture), which would make their
# boundary checks vacuous. sf0.01 is also the scale the driver verifies.
_TPCH_SRC = "/root/testdata/sf0.01"


def _fuzz_tpch_dir(tmp_path, seed: int = 42) -> str:
    """Real lineitem/orders with ONLY value columns re-drawn, dense at
    the half-cent accumulation boundaries the DECIMAL(18,2)-sum pattern
    exists for — keys and dates untouched so every FK join and date
    filter keeps its real shape."""
    import os

    SF_SRC = _TPCH_SRC

    r = random.Random(seed)
    li = pd.read_parquet(f"{SF_SRC}/lineitem.parquet")
    n = len(li)
    # Perturb HALF the rows (boundary stress) and keep half stock: the
    # partsupp-derived TPC-H four (Q2/Q11/Q16/Q20) filter on thresholds
    # tuned to the stock value distribution, and an all-redrawn fixture
    # emptied them — a vacuous pass, not a stronger one.
    keep = [r.random() < 0.5 for _ in range(n)]

    def mix(orig, drawn):
        return [o if k else d for o, d, k in zip(orig, drawn, keep)]

    li["l_quantity"] = mix(
        li["l_quantity"], [round(r.uniform(1, 50), 2) for _ in range(n)]
    )
    li["l_extendedprice"] = mix(
        li["l_extendedprice"],
        [
            round(
                r.choice([r.uniform(1, 9), 900.05, 0.01, 123.45, 0.05])
                if r.random() < 0.5
                else r.uniform(1, 100000),
                2,
            )
            for _ in range(n)
        ],
    )
    li["l_discount"] = mix(
        li["l_discount"],
        [round(r.choice([0.0, 0.01, 0.05, 0.1]), 2) for _ in range(n)],
    )
    li["l_tax"] = mix(
        li["l_tax"],
        [round(r.choice([0.0, 0.02, 0.04, 0.08]), 2) for _ in range(n)],
    )
    od = pd.read_parquet(f"{SF_SRC}/orders.parquet")
    m = len(od)
    keep_o = [r.random() < 0.5 for _ in range(m)]
    od["o_totalprice"] = [
        o if k else round(r.uniform(0.01, 500000), 2)
        for o, k in zip(od["o_totalprice"], keep_o)
    ]
    d = tmp_path / "sf_tpch"
    d.mkdir()
    for t in (
        "region nation customer supplier part events documents embeddings"
    ).split():
        os.symlink(os.path.join(SF_SRC, f"{t}.parquet"), d / f"{t}.parquet")
    li.to_parquet(d / "lineitem.parquet", index=False)
    od.to_parquet(d / "orders.parquet", index=False)
    return str(d)


def test_fuzz_tpch_decimal_boundaries_match_oracles(spark, tmp_path):
    sf = _fuzz_tpch_dir(tmp_path)
    failures = compare_all(spark, sf, registry.family("tpch"))
    assert not failures, "\n".join(failures)


def _fuzz_embeddings_dir(tmp_path, seed: int = 42) -> str:
    """Embeddings re-drawn with mixed magnitudes (1e-3 … 1e3) and
    negatives through a float32 round-trip — the deterministic-fold
    contract (functions/vector.py ↔ list_dot_product) under values the
    stock unit-norm fixtures never exercise. Round 7: ZERO-NORM vectors
    are now IN — the shared cosine helpers NULLIF-guard the denominator
    (functions/vector.py), so cosine(0⃗, ·) is NULL on both engines and
    the former x/0 NaN-vs-NULL boundary is closed, not fenced."""
    import os

    from tests.test_advice_edges import SF_SRC

    r = random.Random(seed)
    emb = pd.read_parquet(f"{SF_SRC}/embeddings.parquet")

    def vec():
        mag = r.choice([1e-3, 0.1, 1.0, 10.0, 1e3])
        return pd.array(
            [r.uniform(-mag, mag) for _ in range(64)], dtype="float32"
        ).tolist()

    emb["embedding"] = [vec() for _ in range(len(emb))]
    # zero-norm rows (mid-table, NOT the q29 query anchors): every cosine
    # against them must be NULL — identically — on both engines
    zero = pd.array([0.0] * 64, dtype="float32").tolist()
    for idx in (len(emb) // 3, len(emb) // 2, len(emb) - 2):
        emb.at[idx, "embedding"] = zero
    d = tmp_path / "sf_emb"
    d.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        os.symlink(os.path.join(SF_SRC, f"{t}.parquet"), d / f"{t}.parquet")
    emb.to_parquet(d / "embeddings.parquet", index=False)
    return str(d)


def test_fuzz_embeddings_magnitudes_match_oracles(spark, tmp_path):
    sf = _fuzz_embeddings_dir(tmp_path)
    failures = compare_all(spark, sf, registry.family("embeddings"))
    assert not failures, "\n".join(failures)


# Streaming twins over the SAME tie-storm events: cross-batch state
# (dedup sets, window/session state, stream-stream join buffers, EWMA/
# CUSUM scalars) must tie-break identically to the batch oracle even
# when 20 rows share one timestamp across a micro-batch boundary.
def test_fuzz_streaming_twins_on_tie_storm(spark, tmp_path):
    sf = _events_fixture_dir(tmp_path, _fuzz_events())
    failures = compare_all(spark, sf, registry.family("streaming"))
    assert not failures, "\n".join(failures)


def test_two_same_basename_corpora_do_not_share_scratch(spark, tmp_path):
    """Two corpora whose directories share a BASENAME (both "sf_ev" here)
    must never share materialized scratch state within one process —
    scratch/table tags key on the full-path corpus_tag, not the basename.
    Before that fix the second corpus streamed the FIRST corpus's replay
    slices (found by the multi-seed fuzz; a long-lived session serving
    several corpus snapshots hits the same collision)."""
    a = tmp_path / "one"
    a.mkdir()
    b = tmp_path / "two"
    b.mkdir()
    sfa = _events_fixture_dir(a, _fuzz_events(seed=7))
    sfb = _events_fixture_dir(b, _fuzz_events(seed=1234))
    compare_query(spark, sfa, "q21s_stream_window")
    compare_query(spark, sfb, "q21s_stream_window")


def _fuzz_dates_dir(tmp_path, seed: int = 42) -> str:
    """lineitem/orders with ~30% of their date columns re-drawn onto
    CALENDAR BOUNDARIES — leap days (1996-02-29, the century-exception
    2000-02-29), the Y2K rollover, range edges, a 23:59:59 year-end —
    the date_trunc / interval / comparison hazard class. Dtypes are
    preserved exactly (datetime64[us]) so the fixture itself cannot
    introduce a type skew."""
    import os

    SF_SRC = _TPCH_SRC
    r = random.Random(seed)
    boundary = [
        pd.Timestamp(x)
        for x in (
            "1996-02-29", "2000-02-29", "1999-12-31", "2000-01-01",
            "1995-01-01", "1998-12-31 23:59:59", "1997-06-30", "2001-01-01",
        )
    ]
    li = pd.read_parquet(f"{SF_SRC}/lineitem.parquet")
    for c in ("l_shipdate", "l_commitdate", "l_receiptdate"):
        if c in li.columns:
            li[c] = pd.Series(
                [r.choice(boundary) if r.random() < 0.3 else v for v in li[c]]
            ).astype(li[c].dtype)
    od = pd.read_parquet(f"{SF_SRC}/orders.parquet")
    od["o_orderdate"] = pd.Series(
        [r.choice(boundary) if r.random() < 0.3 else v for v in od["o_orderdate"]]
    ).astype(od["o_orderdate"].dtype)
    d = tmp_path / "sf_dates"
    d.mkdir()
    for t in (
        "region nation customer supplier part events documents embeddings"
    ).split():
        os.symlink(os.path.join(SF_SRC, f"{t}.parquet"), d / f"{t}.parquet")
    li.to_parquet(d / "lineitem.parquet", index=False)
    od.to_parquet(d / "orders.parquet", index=False)
    return str(d)


# The calendar fixture re-draws lineitem/orders dates, so it attacks the
# `tpch` family.
def test_fuzz_calendar_boundaries_match_oracles(spark, tmp_path):
    sf = _fuzz_dates_dir(tmp_path)
    failures = compare_all(spark, sf, registry.family("tpch"))
    assert not failures, "\n".join(failures)


# ---------------------------------------------------------------------------
# Round 7, seventh family: NULL-key join storms. Foreign keys go NULL and
# the survivors skew onto one hot key — the cross-engine hazard class the
# first six families never touched (NULL never equi-matches, but outer
# joins must null-pad it, null-safe joins must MATCH it, groupBy must keep
# it as its own group, and windows must partition it together — on BOTH
# engines, under AQE skew handling).
# ---------------------------------------------------------------------------


def _fuzz_nulljoin_dir(tmp_path, seed: int = 42) -> str:
    import os

    SF_SRC = _TPCH_SRC
    r = random.Random(seed)

    def poke(col: pd.Series, null_frac: float, hot_frac: float, hot):
        vals = []
        for v in col:
            k = r.random()
            if k < null_frac:
                vals.append(None)
            elif k < null_frac + hot_frac:
                vals.append(hot)
            else:
                vals.append(v)
        return pd.array(vals, dtype=f"Int{col.dtype.itemsize * 8}")

    od = pd.read_parquet(f"{SF_SRC}/orders.parquet")
    cu = pd.read_parquet(f"{SF_SRC}/customer.parquet")
    li = pd.read_parquet(f"{SF_SRC}/lineitem.parquet")
    ev = pd.read_parquet(f"{SF_SRC}/events.parquet")
    hot_cust = int(cu["c_custkey"].iloc[0])
    hot_user = int(ev["user_id"].mode().iloc[0])
    od["o_custkey"] = poke(od["o_custkey"], 0.10, 0.25, hot_cust)
    li["l_suppkey"] = poke(li["l_suppkey"], 0.08, 0.0, 0)
    cu["c_nationkey"] = poke(cu["c_nationkey"], 0.05, 0.0, 0)
    ev["user_id"] = poke(ev["user_id"], 0.10, 0.30, hot_user)
    d = tmp_path / "sf_nulljoin"
    d.mkdir()
    for t in ("region nation supplier part documents embeddings").split():
        os.symlink(os.path.join(SF_SRC, f"{t}.parquet"), d / f"{t}.parquet")
    od.to_parquet(d / "orders.parquet", index=False)
    cu.to_parquet(d / "customer.parquet", index=False)
    li.to_parquet(d / "lineitem.parquet", index=False)
    ev.to_parquet(d / "events.parquet", index=False)
    return str(d)


# Every batch query whose hot path joins, groups, or windows on
# orders.o_custkey / lineitem.l_suppkey / customer.c_nationkey /
# events.user_id — the keys the fixture NULLs and skews.
@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_fuzz_null_key_join_storm_matches_oracles(spark, tmp_path, seed):
    sf = _fuzz_nulljoin_dir(tmp_path, seed=seed)
    failures = compare_all(spark, sf, registry.family("nulljoin"))
    assert not failures, "\n".join(failures)


# ---------------------------------------------------------------------------
# Eighth family (round 8): non-ASCII / multibyte text. The text queries
# lean on length / substr / split / regex / md5 — all character-semantics
# ops where UTF-8 multibyte (CJK), astral-plane emoji, combining marks,
# RTL scripts, zero-width joiners, and full-width punctuation are the
# remaining cross-engine hazard class: both engines claim code-point
# character semantics; this family proves it.
# ---------------------------------------------------------------------------

_MB_WORDS = [
    # CJK (3-byte UTF-8)
    "数据", "空白", "模型", "训练", "数据处理流水线",
    # emoji incl. astral-plane (4-byte, beyond BMP) and ZWJ families
    "😀", "🎉🔥", "🚀🚀🚀", "👨‍👩‍👧‍👦", "🇺🇳",
    # combining marks: precomposed é vs e + U+0301 (distinct code points!)
    "café", "café", "naïve", "naïve",
    # RTL Arabic + Hebrew
    "البيانات", "نموذج", "שלום", "עולם",
    # Cyrillic / Greek / mixed-script
    "данные", "μοντέλο", "spark数据", "völlig",
    # full-width punctuation / NBSP / ideographic space
    "！？。", "ＡＢＣ", "x y", "甲　乙",
    # Turkish dotted/dotless i (case-mapping hazard)
    "İstanbul", "ırmak",
    # plain anchors so retrieval queries produce rows
    "spark", "table", "hash", "join", "the", "and", "of",
]
_MB_LANGS = ["en", "zh", "ar", "he", "ru", "tr"]


def _fuzz_multibyte_docs(seed: int = 42, n: int = 120):
    r = random.Random(seed)
    rows = []
    for i in range(1, n + 1):
        kind = r.random()
        if kind < 0.05:
            text = ""
        elif kind < 0.10:
            text = r.choice(_MB_WORDS)  # single multibyte token
        else:
            text = " ".join(r.choices(_MB_WORDS, k=r.randint(2, 80)))
        rows.append((i, text, r.choice(_MB_LANGS), f"src{r.randint(0, 5)}"))
    # planted multibyte NEAR-DUP twins (LSH / cluster / golden-record
    # paths must fire on non-ASCII content, not just detect nothing)
    for k in range(6):
        base = r.choices(_MB_WORDS, k=40)
        twin = list(base)
        twin[20] = "altered改"
        rows.append((n + 10 + 2 * k, " ".join(base), "zh", f"src{k % 6}"))
        rows.append((n + 11 + 2 * k, " ".join(twin), "zh", f"src{(k + 1) % 6}"))
    # planted SHARED MULTIBYTE SUBSTRING (≥ 32 code points spanning CJK +
    # emoji + combining marks): the q226/q230/q231/q233 span family must
    # count positions in code points identically on both engines
    span = "数据处理流水线🚀训练数据😀café与café数据模型验证完成🎉"
    assert len(span) >= 32
    rows.append((n + 50, f"前缀文字 {span} 后缀文字", "zh", "src0"))
    rows.append((n + 51, f"другой префикс {span} конец", "ru", "src1"))
    rows.append((n + 52, span, "zh", "src2"))
    docs = _docs(rows)
    nulls = pd.DataFrame(
        {
            "doc_id": pd.Series(range(n + 60, n + 63), dtype="int64"),
            "text": [None] * 3,
            "lang": ["zh"] * 3,
            "source": ["src0"] * 3,
            "n_chars": pd.Series([0] * 3, dtype="int64"),
        }
    )
    return pd.concat([docs, nulls], ignore_index=True)


# The `multibyte` family: the text family plus the substring/span and
# chunking queries that count positions in code points.
@pytest.mark.parametrize("seed", [7, 42, 1337])
def test_fuzz_multibyte_matches_oracles(spark, tmp_path, seed):
    sf = _fixture_dir(tmp_path, _fuzz_multibyte_docs(seed))
    failures = compare_all(spark, sf, registry.family("multibyte"))
    assert not failures, (
        f"{len(failures)} multibyte divergences:\n" + "\n".join(failures)
    )
