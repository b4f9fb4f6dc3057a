"""Round-6 second tranche: DSIR importance (q221), Gopher rule battery
(q222), embedding-norm QA (q223), MinHash calibration (q224)."""

from __future__ import annotations

import os

import pandas as pd

from spark_state_provider_spark import operators
from spark_state_provider_spark.operators import registry
from tests.oracle import compare_query

operators.load_all()

SF_SRC = os.environ.get("SSPS_TEST_SF_DIR", "/root/testdata/sf0.001")
_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def test_q221_selection_is_target_enriched(spark, sf_dir):
    """The whole point of DSIR: the selected top-k must be ENRICHED in the
    target slice (lang='en') relative to the corpus base rate — otherwise
    the hashed-bigram features carry no signal and the operator is an
    expensive random sampler."""
    from spark_state_provider_spark.tables import load_table

    top = registry.get("q221_dsir_importance").fn(spark, sf_dir).collect()
    assert len(top) == 25
    assert [r.rn for r in sorted(top, key=lambda r: r.rn)] == list(
        range(1, 26)
    )
    docs = load_table(spark, sf_dir, "documents")
    base = docs.where("lang = 'en'").count() / docs.count()
    got = sum(1 for r in top if r.lang == "en") / len(top)
    # measured 0.80 vs 0.386 base on the stock corpus (2.1×); the floor
    # guards signal-vs-noise, not the exact ratio
    assert got >= 1.5 * base, f"top-25 en share {got:.2f} vs base {base:.2f}"
    # weights are sorted and the ranking is total-weight based
    ws = [r.dsir_micro for r in sorted(top, key=lambda r: r.rn)]
    assert ws == sorted(ws, reverse=True)


def test_q222_battery_accounting(spark, sf_dir):
    rows = registry.get("q222_gopher_rules").fn(spark, sf_dir).collect()
    assert rows
    rule_cols = [
        "pass_word_count",
        "pass_mean_word_len",
        "pass_symbol_ratio",
        "pass_stopwords",
        "pass_alpha_words",
    ]
    for r in rows:
        per_rule = [r[c] for c in rule_cols]
        assert all(0 <= p <= r.n_docs for p in per_rule)
        # the conjunction can never pass more docs than its weakest gate
        assert 0 <= r.n_pass_all <= min(per_rule)
        assert abs(r.pass_share - r.n_pass_all / r.n_docs) == 0.0
    # the battery must BITE on the stock corpus (the word-count and
    # stopword gates drop docs) yet not annihilate it
    total_docs = sum(r.n_docs for r in rows)
    total_pass = sum(r.n_pass_all for r in rows)
    assert 0 < total_pass < total_docs


def test_q223_outlier_census_on_crafted_vectors(spark, tmp_path):
    """Stock embeddings are unit-norm (median 1.0, zero outliers), so the
    census logic needs a crafted fixture: one collapsed vector (norm²
    1e-4) and one exploded vector (norm² 100) among 9 unit vectors must
    be the exact low/high outlier counts, and the unit median must hold."""
    d = tmp_path / "sf_norm"
    d.mkdir()
    for t in _TABLES:
        if t != "embeddings":
            os.symlink(os.path.join(SF_SRC, f"{t}.parquet"), d / f"{t}.parquet")
    vecs = [[1.0, 0.0]] * 9 + [[0.01, 0.0], [10.0, 0.0]]
    pd.DataFrame(
        {
            "vec_id": pd.Series(range(11), dtype="int64"),
            "embedding": [
                pd.array(v, dtype="float32").tolist() for v in vecs
            ],
            "label": pd.Series([7] * 11, dtype="int64"),
        }
    ).to_parquet(d / "embeddings.parquet", index=False)
    sf = str(d)
    compare_query(spark, sf, "q223_embedding_norm_qa")
    rows = registry.get("q223_embedding_norm_qa").fn(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_vecs == 11
    assert r.median_norm2 == 1.0
    assert r.n_low_outliers == 1
    assert r.n_high_outliers == 1
    assert r.min_norm2 < 1.0 < r.max_norm2


def test_q224_calibration_is_monotone_and_bounded(spark, sf_dir):
    """Broder's identity P(h_i(A)=h_i(B)) = J(A,B) implies the pooled
    exact Jaccard must rise with the signature match count, and the
    derived quantities must be true functions of the group's integers."""
    rows = sorted(
        registry.get("q224_minhash_calibration").fn(spark, sf_dir).collect(),
        key=lambda r: r.matches,
    )
    assert rows, "the stock corpus has banded candidates"
    pooled = []
    for r in rows:
        assert 0 <= r.matches <= 8
        assert r.est_jaccard == r.matches / 8.0
        assert r.sum_inter <= r.sum_union
        assert r.pooled_jaccard == r.sum_inter / r.sum_union
        j4 = (r.pooled_jaccard * r.pooled_jaccard) * (
            r.pooled_jaccard * r.pooled_jaccard
        )
        assert r.band_capture_prob == 1.0 - (1.0 - j4) * (1.0 - j4)
        assert 0.0 <= r.band_capture_prob <= 1.0
        pooled.append(r.pooled_jaccard)
    assert pooled == sorted(pooled), "pooled Jaccard must rise with matches"
