"""Round-6 operators: the composed curation funnel (q218)."""

from __future__ import annotations

from spark_state_provider_spark import operators
from spark_state_provider_spark.operators import registry
from tests.oracle import compare_query

operators.load_all()


def test_q218_funnel_is_monotone_and_bites(spark, sf_dir):
    rows = (
        registry.get("q218_curation_pipeline")
        .fn(spark, sf_dir)
        .orderBy("stage")
        .collect()
    )
    assert [r.stage_name for r in rows] == [
        "all", "lang_qa", "lm_filter", "repetition", "classifier", "dedup",
    ]
    docs = [r.n_docs for r in rows]
    toks = [r.n_tokens for r in rows]
    # each stage can only remove documents/tokens, never add
    assert all(a >= b for a, b in zip(docs, docs[1:])), docs
    assert all(a >= b for a, b in zip(toks, toks[1:])), toks
    # the funnel must actually BITE: at least three gates strictly drop
    # docs on the stock corpus (lang QA, LM filter, classifier), and
    # something must survive the whole chain
    assert sum(1 for a, b in zip(docs, docs[1:]) if a > b) >= 3, docs
    assert docs[-1] > 0
    # token accounting is consistent with doc accounting at the ends
    assert toks[0] > toks[-1] > 0


def test_q219_recall_against_brute_force(spark, sf_dir):
    """The composed IVF-PQ retrieval must find a substantial share of the
    exact brute-force top-k — the quantization tiers trade exactness for
    scan cost, not for junk results."""
    truth = {
        (r.query_id, r.neighbor_id)
        for r in registry.get("q29_knn_brute").fn(spark, sf_dir).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in registry.get("q219_ivfpq_ann").fn(spark, sf_dir).collect()
    }
    assert truth, "brute-force baseline returned nothing"
    recall = len(truth & got) / len(truth)
    # the composed tiers compound their individual losses (measured at
    # sf0.001: IVF alone 0.50, PQ alone 0.54, composed 0.48 — production
    # tunes NPROBE/shortlist upward for a recall target); the floor here
    # guards against junk, not against the quantization trade itself
    assert recall >= 0.4, f"IVF-PQ recall {recall:.2f} vs brute-force top-k"


def _mk_text(seed: int, vocab: str, n: int = 50) -> str:
    import random

    r = random.Random(seed)
    words = []
    for i in range(n):
        words.append(r.choice(vocab.split()))
        if i % 7 == 3:
            words.append("the")  # en marker keeps lang QA green
    return " ".join(words)


def test_q220_cross_batch_dedup_fires(spark, tmp_path):
    """A gate-passing duplicate pair whose members land in DIFFERENT
    micro-batches: the streamed funnel must drop the later twin via the
    persisted seen-cluster set and still hash-match the batch oracle.
    (On the stock fixtures the dedup stage drops 0, so this is the only
    coverage of the cross-batch path.)"""
    from tests.test_advice_edges import _docs, _fixture_dir

    vocab = (
        "big value scan part hash filter spark fast join group slow "
        "stream vector table agg query column line batch data merge "
        "order small window"
    )
    twin = _mk_text(99, vocab)
    rows = [(1, twin, "en", "web"), (800, twin, "en", "crawl")] + [
        (i, _mk_text(i, vocab), "en", "web") for i in range(2, 9)
    ]
    sf = _fixture_dir(tmp_path, _docs(rows))
    # batch form first: the funnel's dedup stage must drop exactly the
    # later twin (9 docs, all gates pass, one 2-member cluster)
    batch = {
        r.stage_name: r
        for r in registry.get("q218_curation_pipeline").fn(spark, sf).collect()
    }
    assert batch["classifier"].n_docs == 9
    assert batch["dedup"].n_docs == 8
    # streaming twin over doc_id-ordered 2-slice replay: twin doc 1 is in
    # batch 0, twin doc 800 in batch 1 -> the seen-set must carry the
    # cluster across the batch boundary
    compare_query(spark, sf, "q220_stream_curation_funnel")
    stream = {
        r.stage_name: r
        for r in registry.get("q220_stream_curation_funnel")
        .fn(spark, sf)
        .collect()
    }
    assert stream["dedup"].n_docs == 8
    assert stream["dedup"].n_tokens == batch["dedup"].n_tokens
