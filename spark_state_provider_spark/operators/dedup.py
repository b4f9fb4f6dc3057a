"""Document deduplication operators (SURVEY.md §2-C Q28; LLM-pipeline core).

Five dedup families over ``documents``:

* exact        — hash-groupBy on full text, deterministic representative
* MinHash-LSH  — shingle → minhash → band → bucket-join → exact-Jaccard
                 verify. Minhashes are md5-based, so the WHOLE pipeline is a
                 deterministic function computed identically by Spark and the
                 DuckDB oracle — near-dup detection with an exact oracle.
* SimHash      — bit-vote fingerprint; native 64-bit xxhash64 variant (fast
                 path) + portable 16-bit md5-nibble variant (oracle-checked)
* n-gram Jaccard — direct pairwise shingle-set similarity scoring
* embedding cosine near-dup lives in operators/similarity.py (q29c)

Scale design: every step is a narrow map or a shuffle keyed on doc_id /
band-key — candidate generation is linear (LSH), never the O(n²) cross
product; the only pairwise work happens on verified candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_state_provider_spark.operators.registry import register
from spark_state_provider_spark.tables import load_table

SHINGLE_K = 3
# 8 salts in 2 bands of 4: ~99.4% pair recall at jaccard 0.9, ~1.6% candidate
# rate at the 0.3 background — and half the md5/codegen cost of 16 salts.
N_SALTS = 8
N_BANDS = 2
ROWS_PER_BAND = N_SALTS // N_BANDS
JACCARD_THRESHOLD = 0.5
_SALTS = [f"s{i:02d}" for i in range(N_SALTS)]


# ---------------------------------------------------------------------------
# Q28 — exact dedup: one canonical row per distinct text.
# ---------------------------------------------------------------------------


@register(
    "q28_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS canonical_id,
           count(*) AS n_copies,
           min(n_chars) AS n_chars
    FROM documents
    GROUP BY text
    """,
    families=("text", "multibyte"),
)
def q28_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup via hash groupBy (deterministic representative)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


# ---------------------------------------------------------------------------
# Q28b — MinHash-LSH near-duplicate pairs, exact-verified.
# ---------------------------------------------------------------------------

# DuckDB trigram-set CTEs (1-based list indexing); the Spark twin builds the
# same sets with split/transform/element_at (0-based sequence, 1-based
# element_at). Both engines keep empty tokens on repeated spaces, so the
# shingle sets are identical.
_DUCK_TRI = f"""
    tok AS (
        SELECT doc_id, string_split(text, ' ') AS l
        FROM documents
        WHERE len(string_split(text, ' ')) >= {SHINGLE_K}
    ),
    tri AS (
        SELECT DISTINCT doc_id, t.tri
        FROM tok, unnest(list_transform(
            generate_series(1, len(l) - {SHINGLE_K - 1}),
            i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        )) AS t(tri)
    )
"""

_DUCK_SALTS = "SELECT unnest([" + ", ".join(f"'{s}'" for s in _SALTS) + "]) AS salt"


# The LSH candidate+verify chain (expects the tri and salts CTEs in
# scope): minhash signatures → banded bucket keys → candidate pairs →
# exact-Jaccard inputs. Shared by the q28b oracle and the q113
# source-governance rollup.
_DUCK_LSH_CHAIN = f"""
    mh AS (
        SELECT doc_id, salt, min(md5(salt || '|' || tri)) AS h
        FROM tri, salts
        GROUP BY doc_id, salt
    ),
    bands AS (
        SELECT doc_id,
               CAST(substr(salt, 2) AS INTEGER) % {N_BANDS} AS band,
               string_agg(h, '' ORDER BY h) AS bkey
        FROM mh
        GROUP BY doc_id, CAST(substr(salt, 2) AS INTEGER) % {N_BANDS}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN tri ta ON ta.doc_id = c.id_a
        JOIN tri tb ON tb.doc_id = c.id_b AND tb.tri = ta.tri
        GROUP BY c.id_a, c.id_b
    )
"""


# verified near-dup pairs per (session, corpus) — the pair GRAPH is the
# shared upstream of every dedup consumer (clusters q28e, representatives
# q80, governance q113, triangles q133); in production it is materialized
# once per corpus snapshot, so consumers memoize it here instead of
# re-running the LSH pipeline per query (same lifecycle as _TRI_CACHE)
_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _pairs_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from spark_state_provider_spark.dfcache import get_or_build

    return get_or_build(
        _PAIRS_CACHE,
        spark,
        (sf_dir,),
        lambda: q28b_minhash_lsh(spark, sf_dir)
        .select("id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK),
    )


@register(
    "q28b_minhash_lsh",
    oracle=f"""
    WITH {_DUCK_TRI},
    salts AS ({_DUCK_SALTS}),
    {_DUCK_LSH_CHAIN}
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= {JACCARD_THRESHOLD}
    """,
    families=("text", "multibyte", "bench"),
)
def q28b_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-Jaccard verification.

    shingle(k={SHINGLE_K}) → {N_SALTS} md5-minhashes → {N_BANDS} bands of
    {ROWS_PER_BAND} rows → band-bucket equijoin → exact Jaccard ≥
    {JACCARD_THRESHOLD} on candidates only. All hashing is md5-on-string, so
    the DuckDB oracle computes the *identical* pipeline — including any LSH
    misses — making the output exactly checkable.
    """
    pairs = _lsh_scored_candidates(spark, sf_dir)
    return (
        pairs.withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )


# scored candidate pairs per (session, corpus) — q28b, q136, and (via
# q28b) the verified-pair memo all start from this frame; building it
# once per corpus snapshot is the production materialization boundary,
# and it keeps bench attribution stable (round-4's q136 drift was this
# pipeline re-running per consumer).
_CAND_CACHE: dict[tuple[str, str], DataFrame] = {}


def _lsh_scored_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from spark_state_provider_spark.dfcache import get_or_build

    return get_or_build(
        _CAND_CACHE,
        spark,
        (sf_dir,),
        lambda: _lsh_scored_candidates_build(spark, sf_dir).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )


def _lsh_scored_candidates_build(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The shared LSH candidate pipeline: (id_a, id_b, na, nb, n_inter)
    for every banded candidate pair — q28b derives Jaccard from it, q136
    derives containment. One implementation so the two similarity
    measures can never drift."""
    # The shingle set feeds three branches (signature, verify-left,
    # verify-right); persist it so the tokenize/window pipeline runs once.
    # At cluster scale this is the same decision: MEMORY_AND_DISK spills
    # per-executor rather than recomputing a corpus-wide explode.
    tri = _trigrams_persisted(spark, sf_dir)

    # One pass computes the whole signature: shingle-set size + all
    # minhashes as agg columns (inside codegen — no per-salt row explode, no
    # extra shuffle; the reduce point is one groupBy on doc_id).
    sig = tri.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.min(F.md5(F.concat_ws("|", F.lit(s), F.col("tri")))).alias(f"h{i}")
            for i, s in enumerate(_SALTS)
        ],
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "",
                    F.array_sort(
                        # salt i belongs to band (i % N_BANDS), matching the
                        # oracle's CAST(substr(salt,2) AS INT) % N_BANDS rule
                        F.array(
                            *[
                                F.col(f"h{i}")
                                for i in range(N_SALTS)
                                if i % N_BANDS == b
                            ]
                        )
                    ),
                ).alias("bkey"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = sig.select(
        "doc_id", "n", F.explode(band_structs).alias("bs")
    ).select("doc_id", "n", F.col("bs.band").alias("band"), F.col("bs.bkey").alias("bkey"))

    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("n").alias("na"),
        F.col("band").alias("band_a"),
        F.col("bkey").alias("bkey_a"),
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("n").alias("nb"),
        F.col("band").alias("band_b"),
        F.col("bkey").alias("bkey_b"),
    )
    # set sizes ride along through the band join — no later size joins
    cand = (
        a.join(
            b,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bkey_a") == F.col("bkey_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b", "na", "nb")
        .distinct()
    )
    # Verify via pre-collected SORTED shingle sets + array_intersect: the
    # candidate set is tiny (LSH's whole point), so both verify joins
    # broadcast the candidate side and stream the per-doc set table once —
    # no row-level trigram re-join, no post-join groupBy. (This was
    # SCALE.md's tracked risk #1; the per-pair cost is now
    # O(|set_a|+|set_b|) on two already-sorted arrays.)
    sets = tri.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("tri")).alias("tset")
    )
    # ONLY the scalar candidate table is ever broadcast (pair ids + set
    # sizes — KBs even at high dup density); each side's shingle array is
    # picked up by an independent broadcast-cand join against `sets`, and
    # the final pair join shuffles two candidate-sized tables. The set
    # table itself is never broadcast and never shuffled.
    ja = sets.join(F.broadcast(cand), F.col("doc_id") == F.col("id_a")).select(
        "id_a", "id_b", "na", "nb", F.col("tset").alias("set_a")
    )
    jb = sets.join(
        F.broadcast(cand.select("id_a", "id_b")),
        F.col("doc_id") == F.col("id_b"),
    ).select(
        F.col("id_a").alias("id_a2"),
        F.col("id_b").alias("id_b2"),
        F.col("tset").alias("set_b"),
    )
    return ja.join(
        jb,
        (F.col("id_a") == F.col("id_a2")) & (F.col("id_b") == F.col("id_b2")),
    ).select(
        "id_a",
        "id_b",
        "na",
        "nb",
        F.size(F.array_intersect("set_a", "set_b")).alias("n_inter"),
    )


# ---------------------------------------------------------------------------
# q136 — containment dedup: near-SUPERSET detection. Jaccard misses the
# "small doc embedded in a big one" class (quotes, boilerplate wrappers,
# expanded re-posts) because the union in the denominator dilutes it;
# containment n_inter / min(|A|,|B|) catches exactly that. Same banded
# candidate generation as q28b — one pipeline, two measures.
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8


@register(
    "q136_containment_dedup",
    oracle=f"""
    WITH {_DUCK_TRI},
    salts AS ({_DUCK_SALTS}),
    {_DUCK_LSH_CHAIN}
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / least(sa.n, sb.n) AS containment,
           CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS DOUBLE) / least(sa.n, sb.n)
          >= {CONTAINMENT_THRESHOLD}
    """,
    families=("text", "multibyte", "bench"),
)
def q136_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs whose smaller shingle set is ≥{CONTAINMENT_THRESHOLD}
    contained in the larger (jaccard carried for comparison — pairs here
    with low jaccard are the asymmetric near-supersets q28b cannot see).

    Reuses q28b's banded LSH candidates verbatim
    (`_lsh_scored_candidates`), so the cost at 100 TB is the one LSH
    pipeline already paid for — the containment filter is a projection.
    Recall caveat (documented, same both engines): a doc much smaller
    than its container rarely shares a minhash band, so banded LSH
    under-recalls extreme containment; the standard fix at scale is the
    q111 span-index (exact substring windows), which this measure
    complements, not replaces.
    """
    pairs = _lsh_scored_candidates(spark, sf_dir)
    return (
        pairs.withColumn(
            "containment",
            F.col("n_inter").cast("double")
            / F.least(F.col("na"), F.col("nb")),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .where(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("id_a", "id_b", "containment", "jaccard")
    )


# one persisted shingle set per (session, sf_dir) — repeat invocations reuse
# it instead of stacking orphaned caches in the block manager; lifecycle
# (applicationId keying + stale-session eviction) lives in dfcache
_TRI_CACHE: dict[tuple[str, str], DataFrame] = {}


def _trigrams_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from spark_state_provider_spark.dfcache import get_or_build

    return get_or_build(
        _TRI_CACHE,
        spark,
        (sf_dir,),
        lambda: _trigrams(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK),
    )


def _trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-{SHINGLE_K}-shingles per document (shared by q28b/q28d).

    posexplode + lead window, NOT array-lambda indexing: ``transform(...,
    i -> toks[i])`` re-evaluates the split per element (quadratic per doc —
    measured 10x slower); this formulation splits once per row and builds
    shingles in a single linear pass per doc partition.
    """
    from pyspark.sql.window import Window

    return _trigrams_of(load_table(spark, sf_dir, "documents"))


def _trigrams_of(d: DataFrame) -> DataFrame:
    """Same shingling over an arbitrary (doc_id, text) frame — used by the
    q92 streaming twin on each incoming micro-batch."""
    from pyspark.sql.window import Window

    # spread docs across cores before the explode: the testdata table is a
    # single parquet file (one input split), and the window shuffle comes
    # only after tokenization
    n_parts = max(d.sparkSession.sparkContext.defaultParallelism, 8)
    tok = d.repartition(n_parts, "doc_id").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        tok.withColumn("t1", F.lead("tok", 1).over(w))
        .withColumn("t2", F.lead("tok", 2).over(w))
        .where(F.col("t2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "t1", "t2").alias("tri"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Q28c — SimHash fingerprints.
# ---------------------------------------------------------------------------


def _portable_simhash64_sql() -> str:
    """DuckDB oracle for the 64-bit md5-derived simhash: the 64-bit token
    hash is the first 16 md5 hex chars, carried as two 32-bit halves so
    neither engine ever materializes an unsigned 64-bit value."""
    votes = ", ".join(
        (
            f"sum(CASE WHEN (hi >> {j - 32}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
            if j >= 32
            else f"sum(CASE WHEN (lo >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        )
        for j in range(64)
    )
    # bit 63 wraps into the sign bit of the signed i64 fingerprint; emitting
    # it LAST keeps every partial sum of the addition chain <= 2^63 - 1.
    bits = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {(1 << j) if j < 63 else -(1 << 63)} ELSE 0 END)"
        for j in range(64)
    )
    return f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, t.t
        FROM documents, unnest(string_split(text, ' ')) AS t(t)
    ),
    hv AS (
        SELECT doc_id,
               ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
               ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
        FROM tok
    ),
    v AS (SELECT doc_id, {votes} FROM hv GROUP BY doc_id)
    SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM v
    """


@register(
    "q28c_simhash",
    oracle=_portable_simhash64_sql(),
    families=("text", "multibyte", "bench"),
)
def q28c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash over distinct tokens — near-dup docs differ in few
    bits (Hamming). Tested structurally (planted-dup proximity) in
    tests/test_northstar.py AND bit-for-bit against the DuckDB oracle.

    The token hash is the first 64 bits of md5, split into two 32-bit
    halves (`conv` of 8 hex chars each) so the value stays inside signed
    64-bit range in both engines; bit votes then read each half directly.
    md5 is the portable choice that makes the fingerprint oracle-checkable
    — at production scale swap the token hash for `xxhash64` (one JVM
    intrinsic instead of a crypto digest; identical algorithm otherwise).
    """
    d = load_table(spark, sf_dir, "documents")
    # single-row-group input ⇒ the scan is one task; spread docs across
    # cores before the CPU-heavy split/explode (same rationale as _trigrams)
    d = d.repartition(max(spark.sparkContext.defaultParallelism, 8), "doc_id")
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).distinct()
    hv = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(F.md5("t"), 9, 8), 16, 10).cast("long").alias("lo"),
    )
    votes = [
        F.sum(
            F.when(
                F.expr(
                    f"(shiftright(hi, {j - 32}) & 1)"
                    if j >= 32
                    else f"(shiftright(lo, {j}) & 1)"
                ).cast("int")
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ]
    agg = hv.groupBy("doc_id").agg(*votes)
    sim = F.lit(0).cast("long")
    for j in range(64):
        # bit 63 is the sign bit of the signed i64 fingerprint
        term = F.lit(1 << j if j < 63 else -(1 << 63)).cast("long")
        sim = sim + F.when(F.col(f"b{j}") > 0, term).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select("doc_id", sim.alias("simhash"))


def _portable_simhash_sql() -> str:
    """DuckDB oracle for the 16-bit md5-nibble simhash."""
    votes = ", ".join(
        f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(16)
    )
    bits = " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, t.t
        FROM documents, unnest(string_split(text, ' ')) AS t(t)
    ),
    hv AS (
        SELECT doc_id, ('0x' || substr(md5(t), 1, 4))::BIGINT AS hv FROM tok
    ),
    v AS (SELECT doc_id, {votes} FROM hv GROUP BY doc_id)
    SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM v
    """


@register(
    "q28c2_simhash_portable",
    oracle=_portable_simhash_sql(),
    families=("text", "multibyte"),
)
def q28c2_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit md5-nibble SimHash — same algorithm as q28c but built from
    portable primitives so the DuckDB oracle checks it bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    d = d.repartition(max(spark.sparkContext.defaultParallelism, 8), "doc_id")
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).distinct()
    hv = tok.withColumn("hv", F.conv(F.substring(F.md5("t"), 1, 4), 16, 10).cast("long"))
    votes = [
        F.sum(
            F.when(F.expr(f"(shiftright(hv, {j}) & 1)").cast("int") == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(16)
    ]
    agg = hv.groupBy("doc_id").agg(*votes)
    sim = F.lit(0).cast("long")
    for j in range(16):
        sim = sim + F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(0)
    return agg.select("doc_id", sim.alias("simhash"))


# ---------------------------------------------------------------------------
# Q28d — direct n-gram Jaccard scoring for chosen pairs (adjacent doc ids).
# ---------------------------------------------------------------------------


@register(
    "q28d_ngram_jaccard",
    oracle=f"""
    WITH {_DUCK_TRI},
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id < 100
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
    inter AS (
        SELECT p.id_a, p.id_b, count(*) AS n_inter
        FROM pairs p
        JOIN tri ta ON ta.doc_id = p.id_a
        JOIN tri tb ON tb.doc_id = p.id_b AND tb.tri = ta.tri
        GROUP BY p.id_a, p.id_b
    )
    SELECT p.id_a, p.id_b,
           CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
               (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS jaccard
    FROM pairs p
    LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
    JOIN sizes sa ON sa.doc_id = p.id_a
    JOIN sizes sb ON sb.doc_id = p.id_b
    """,
    families=("text", "multibyte"),
)
def q28d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard for each (doc_id, doc_id+1) pair with id < 100."""
    d = load_table(spark, sf_dir, "documents")
    tri = _trigrams(spark, sf_dir)
    pairs = (
        d.where(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
        .join(d.select(F.col("doc_id").alias("id_b")), "id_b")
    )
    sizes = tri.groupBy("doc_id").agg(F.count("*").alias("n"))
    ta = tri.select(F.col("doc_id").alias("id_a"), "tri")
    tb = tri.select(F.col("doc_id").alias("tid_b"), F.col("tri").alias("tri_b"))
    inter = (
        pairs.join(ta, "id_a")
        .join(tb, (F.col("id_b") == F.col("tid_b")) & (F.col("tri") == F.col("tri_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("n_inter"), F.lit(0)))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Q28e — near-dup CLUSTER formation: connected components over the LSH pair
# graph. The production dedup step after pair detection: every document maps
# to a canonical representative (the min doc_id of its component).
# ---------------------------------------------------------------------------

_CC_MAX_ITERS = 20  # components converge in O(graph diameter) rounds


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every neighbor of ``u`` LARGER than ``u`` is
    re-pointed at the minimum of ``u``'s closed neighborhood. Output edges
    are (node, smaller-node), distinct, no self-loops."""
    sym = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small, then point every
    not-larger neighbor of ``u`` (and ``u`` itself) at the neighborhood
    minimum."""
    d = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    m = (
        d.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    )
    return (
        d.join(m, "u")
        .select(F.col("v").alias("n"), "m")
        .union(m.select(F.col("u").alias("n"), "m"))
        .where(F.col("n") != F.col("m"))
        .distinct()
        .select(F.col("n").alias("u"), F.col("m").alias("v"))
    )


def alternating_connected_components(
    edges: DataFrame, max_iters: int = _CC_MAX_ITERS
) -> tuple[DataFrame, int]:
    """Distributed connected components via alternating large-star /
    small-star rounds (Kiveris et al., "Connected Components in MapReduce
    and Beyond"): converges in O(log n) rounds — NOT one round per
    graph-diameter hop like plain min-label propagation, so a 100-hop dup
    chain costs ~7 rounds instead of 100 Spark jobs.

    ``edges`` is (u, v) in either orientation. Returns (labels, rounds)
    where labels = (node, component-minimum) covering every endpoint. Each
    round is two groupBy+join stages; the driver reads ONE scalar (the
    edge count, which doubles as the lazy checkpoint's materializing
    action) per round — never row data — and per-round lineage truncation
    (``checkpointing.truncate``: localCheckpoint by default, reliable
    ``checkpoint()`` under SSPS_RELIABLE_CHECKPOINT for executor-loss
    survival at cluster scale) keeps round N from replaying rounds 1..N-1.
    """
    from spark_state_provider_spark.checkpointing import truncate

    e = truncate(
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct(),
        eager=False,
    )
    n_e = e.count()
    rounds = 0
    for rounds in range(1, max_iters + 1):
        new_e = truncate(_small_star(_large_star(e)), eager=False)
        # converged when the edge set is a fixpoint: counts equal (the new
        # count materializes the checkpoint; the old one is carried from
        # last round — no recount job) and no edge outside the old set
        n_new = new_e.count()
        if n_new == n_e and new_e.exceptAll(e).limit(1).count() == 0:
            e = new_e
            break
        e, n_e = new_e, n_new
    # fixpoint is a star graph: (node, root) plus the roots themselves
    labels = e.union(
        e.select(F.col("v").alias("u"), F.col("v").alias("v")).distinct()
    )
    return labels, rounds



# Shared DuckDB CTE chain: LSH pairs → symmetric edges → recursive
# transitive closure → (doc_id, cluster_id) labels. q28e selects the labels
# directly; q80 extends the chain with quality scoring to pick the
# representative document per cluster.
_DUCK_CC_CTES = f"""
    WITH RECURSIVE pairs AS (
        SELECT id_a, id_b FROM (
            WITH {_DUCK_TRI},
            salts AS ({_DUCK_SALTS}),
            mh AS (
                SELECT doc_id, salt, min(md5(salt || '|' || tri)) AS h
                FROM tri, salts
                GROUP BY doc_id, salt
            ),
            bands AS (
                SELECT doc_id,
                       CAST(substr(salt, 2) AS INTEGER) % {N_BANDS} AS band,
                       string_agg(h, '' ORDER BY h) AS bkey
                FROM mh
                GROUP BY doc_id, CAST(substr(salt, 2) AS INTEGER) % {N_BANDS}
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
            inter AS (
                SELECT c.id_a, c.id_b, count(*) AS n_inter
                FROM cand c
                JOIN tri ta ON ta.doc_id = c.id_a
                JOIN tri tb ON tb.doc_id = c.id_b AND tb.tri = ta.tri
                GROUP BY c.id_a, c.id_b
            )
            SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter)
                  >= {JACCARD_THRESHOLD}
        ) q
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
    ),
    clusters AS (
        SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach
        GROUP BY a
    )
"""


@register(
    "q28e_dedup_clusters",
    oracle=_DUCK_CC_CTES + "\n    SELECT doc_id, cluster_id FROM clusters",
    families=("text", "multibyte"),
)
def q28e_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair graph:
    (doc_id, cluster_id = min doc_id of its component) for every doc that
    has at least one near-duplicate.

    Uses the alternating large-star/small-star algorithm (see
    ``alternating_connected_components``): round count grows with log of
    component size, not graph diameter, so deep dup chains no longer cost
    one Spark job per hop. The DuckDB oracle computes the identical
    fixpoint via a recursive transitive closure.
    """
    return _clusters_persisted(spark, sf_dir)


# Cluster labels per (session, sf) — the _TRI_CACHE pattern one level up:
# in production the cluster index is materialized once per corpus snapshot
# and every downstream consumer (representative selection q80, leakage
# split q85, cluster-aware sampling) reads the materialization instead of
# re-running LSH + connected components.
_CLUSTER_CACHE: dict[tuple[str, str], DataFrame] = {}


def _clusters_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from spark_state_provider_spark.dfcache import get_or_build

    def build() -> DataFrame:
        pairs = _pairs_persisted(spark, sf_dir)
        edges = pairs.select(
            F.col("id_a").alias("u"), F.col("id_b").alias("v")
        )
        labels, _ = alternating_connected_components(edges)
        return labels.select(
            F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
        ).persist(StorageLevel.MEMORY_AND_DISK)

    return get_or_build(_CLUSTER_CACHE, spark, (sf_dir,), build)


# ---------------------------------------------------------------------------
# Q80 — quality-aware cluster representative: the step a training pipeline
# actually runs AFTER cluster formation. Near-dup dedup does not keep an
# arbitrary member — it keeps the BEST copy (highest quality score, i.e.
# the cleanest extraction) and drops the rest. Composes q28e's connected
# components with q30e's quality features: one representative row per
# near-dup cluster with the kept doc and the drop count.
# ---------------------------------------------------------------------------


def _q80_oracle() -> str:
    from spark_state_provider_spark.operators.text import STOPWORDS, _count_sql

    stop_expr = " + ".join(_count_sql("p", m) for m in STOPWORDS)
    return (
        _DUCK_CC_CTES
        + f""",
    feat AS (
        SELECT doc_id, (' ' || text || ' ') AS p,
               length(text) AS n_chars_m,
               len(string_split(text, ' ')) AS n_toks
        FROM documents
    ),
    qual AS (
        SELECT doc_id,
               (CASE WHEN n_chars_m BETWEEN 200 AND 400 THEN 1.0 ELSE 0.5 END)
               * (CASE WHEN CAST({stop_expr} AS DOUBLE) / n_toks
                            BETWEEN 0.01 AND 0.5 THEN 1.0 ELSE 0.5 END)
                   AS quality_score
        FROM feat
    ),
    scored AS (
        SELECT c.cluster_id, c.doc_id, q.quality_score,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY q.quality_score DESC, c.doc_id)
                   AS rn,
               count(*) OVER (PARTITION BY c.cluster_id) AS n_members
        FROM clusters c JOIN qual q USING (doc_id)
    )
    SELECT cluster_id, doc_id AS keep_doc_id,
           CAST(quality_score AS DOUBLE) AS best_quality,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM scored WHERE rn = 1
    """
    )


@register("q80_cluster_representative", oracle=_q80_oracle(), families=("bench",))
def q80_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick the highest-quality member of each near-dup cluster (ties →
    smallest doc_id); report how many copies it supersedes.

    The argmax is a single ``max(struct(quality, -doc_id))`` hash aggregate
    — map-side combinable, one shuffle keyed on cluster_id, no window sort
    — so representative selection costs the same as a count per cluster at
    100 TB. quality_score takes exact binary values ({{1.0, 0.5, 0.25}}),
    so the cross-engine argmax is deterministic. (The oracle uses the
    clearer row_number formulation; clarity beats scale on the oracle
    side.)
    """
    from spark_state_provider_spark.operators.text import q30e_quality

    labels = q28e_dedup_clusters(spark, sf_dir)
    qual = q30e_quality(spark, sf_dir).select("doc_id", "quality_score")
    scored = labels.join(qual, "doc_id")
    agg = scored.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("quality_score").alias("q"),
                (-F.col("doc_id")).alias("neg_id"),
            )
        ).alias("best"),
        F.count("*").alias("n_members"),
    )
    return agg.select(
        "cluster_id",
        (-F.col("best.neg_id")).alias("keep_doc_id"),
        F.col("best.q").alias("best_quality"),
        "n_members",
        (F.col("n_members") - F.lit(1)).alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# Q54 — fuzzy (edit-distance) join: the sixth dedup family. Levenshtein is
# the classic OCR / typo near-dup measure; both engines implement the same
# textbook DP, so the distances — and therefore the whole operator — are
# oracle-exact. Candidate generation is PREFIX BLOCKING (equi-join on the
# first N chars): linear, never the O(n²) all-pairs distance matrix.
# (Rare-token blocking is the alternative when prefixes are noisy; this
# corpus has a closed vocabulary with no rare tokens, so prefixes block
# better.)
# ---------------------------------------------------------------------------

_FUZZY_BLOCK = 16  # blocking key: first N chars must match exactly
_FUZZY_PREFIX = 64  # distance over the first N chars bounds DP cost
_FUZZY_MAX_DIST = 24


@register(
    "q54_fuzzy_join",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, substr(text, 1, {_FUZZY_PREFIX}) AS p,
               substr(text, 1, {_FUZZY_BLOCK}) AS blk
        FROM documents
    )
    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(levenshtein(a.p, c.p) AS BIGINT) AS edit_dist
    FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
    WHERE levenshtein(a.p, c.p) <= {_FUZZY_MAX_DIST}
    """,
    families=("nulljoin", "bench"),
)
def q54_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by edit distance ≤ {_FUZZY_MAX_DIST} over the first
    {_FUZZY_PREFIX} chars, blocked on an exact {_FUZZY_BLOCK}-char prefix.

    Scale design: the blocking key is a narrow map; candidates come from
    one equi-join shuffled on the block key, so work is Σ block_size²/2 —
    linear for bounded blocks, never a cross product. The
    quadratic-in-length Levenshtein DP runs on a fixed {_FUZZY_PREFIX}-char
    prefix (bounded per-pair cost) and only on blocked candidates. Skewed
    (boilerplate) prefixes are the known hazard at 100 TB: cap block sizes
    or extend the key by a second field — AQE skew-join splitting handles
    moderate cases.
    """
    d = load_table(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        F.substring("text", 1, _FUZZY_PREFIX).alias("p"),
        F.substring("text", 1, _FUZZY_BLOCK).alias("blk"),
    )
    a = b.select(F.col("doc_id").alias("id_a"), F.col("p").alias("pa"), "blk")
    c = b.select(
        F.col("doc_id").alias("id_b"),
        F.col("p").alias("pb"),
        F.col("blk").alias("blk_b"),
    )
    return (
        a.join(c, (F.col("blk") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("edit_dist", F.levenshtein("pa", "pb").cast("long"))
        .where(F.col("edit_dist") <= _FUZZY_MAX_DIST)
        .select("id_a", "id_b", "edit_dist")
    )


# ---------------------------------------------------------------------------
# q78 — INCREMENTAL near-dedup: probe a new document batch against an
# existing corpus index. The production shape of q28b: a 100 TB training
# set's MinHash band keys are computed once and kept as an index; each new
# crawl batch computes signatures only for itself and bucket-joins into
# the index — never corpus×corpus, never corpus re-hashing. Here the
# "new batch" is doc_id % 5 == 0 and the "corpus" is the rest, so the
# whole pipeline (band probe + exact-Jaccard verify) stays
# oracle-replicable in DuckDB.
# ---------------------------------------------------------------------------

_INC_MOD = 5  # doc_id % 5 == 0 -> incoming batch, else corpus


def _minhash_bands(tri: DataFrame) -> DataFrame:
    """(doc_id, n, band, bkey) MinHash band keys from a distinct
    (doc_id, tri) shingle frame — the shared index-building step of q78
    (batch incremental probe) and q92 (its streaming twin)."""
    sig = tri.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.min(F.md5(F.concat_ws("|", F.lit(s), F.col("tri")))).alias(f"h{i}")
            for i, s in enumerate(_SALTS)
        ],
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "",
                    F.array_sort(
                        F.array(
                            *[
                                F.col(f"h{i}")
                                for i in range(N_SALTS)
                                if i % N_BANDS == b
                            ]
                        )
                    ),
                ).alias("bkey"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", "n", F.explode(band_structs).alias("bs")).select(
        "doc_id",
        "n",
        F.col("bs.band").alias("band"),
        F.col("bs.bkey").alias("bkey"),
    )


# shared by q78 (batch) and q92 (streaming twin, streaming_queries.py):
# deterministic micro-batch replay makes the streamed union of per-batch
# probes equal the one-shot batch computation, so both use this oracle.
_INC_DEDUP_ORACLE = f"""
    WITH {_DUCK_TRI},
    salts AS ({_DUCK_SALTS}),
    mh AS (
        SELECT doc_id, salt, min(md5(salt || '|' || tri)) AS h
        FROM tri, salts
        GROUP BY doc_id, salt
    ),
    bands AS (
        SELECT doc_id,
               CAST(substr(salt, 2) AS INTEGER) % {N_BANDS} AS band,
               string_agg(h, '' ORDER BY h) AS bkey
        FROM mh
        GROUP BY doc_id, CAST(substr(salt, 2) AS INTEGER) % {N_BANDS}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_corpus
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id % {_INC_MOD} = 0 AND b.doc_id % {_INC_MOD} <> 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
    inter AS (
        SELECT c.id_new, c.id_corpus, count(*) AS n_inter
        FROM cand c
        JOIN tri ta ON ta.doc_id = c.id_new
        JOIN tri tb ON tb.doc_id = c.id_corpus AND tb.tri = ta.tri
        GROUP BY c.id_new, c.id_corpus
    )
    SELECT i.id_new, i.id_corpus,
           CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_new
    JOIN sizes sb ON sb.doc_id = i.id_corpus
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter)
          >= {JACCARD_THRESHOLD}
    """


@register("q78_incremental_dedup", oracle=_INC_DEDUP_ORACLE, families=("bench",))
def q78_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs between an incoming batch and the existing corpus
    (same shingle→minhash→band pipeline as q28b, but the bucket join is
    new×corpus instead of a self-join).

    Scale shape: the corpus-side band keys are the INDEX — at 100 TB
    they're computed once at ingest and stored partitioned by (band,
    bkey-prefix); a new batch (typically 0.1% of corpus size) computes
    its own signatures and equijoins into the index, so incremental cost
    is O(batch + matching buckets), not O(corpus). Verification touches
    only candidates' shingle sets (broadcast pair list + array_intersect,
    as q28b). Output: for each incoming doc, the corpus docs it
    near-duplicates (the drop/keep decision is a groupBy away).
    """
    tri = _trigrams_persisted(spark, sf_dir)
    bands = _minhash_bands(tri)
    new_b = bands.where(F.col("doc_id") % _INC_MOD == 0).select(
        F.col("doc_id").alias("id_new"),
        F.col("n").alias("na"),
        F.col("band").alias("band_a"),
        F.col("bkey").alias("bkey_a"),
    )
    corp_b = bands.where(F.col("doc_id") % _INC_MOD != 0).select(
        F.col("doc_id").alias("id_corpus"),
        F.col("n").alias("nb"),
        F.col("band").alias("band_b"),
        F.col("bkey").alias("bkey_b"),
    )
    cand = (
        new_b.join(
            corp_b,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bkey_a") == F.col("bkey_b")),
        )
        .select("id_new", "id_corpus", "na", "nb")
        .distinct()
    )
    sets = tri.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("tri")).alias("tset")
    )
    ja = sets.join(F.broadcast(cand), F.col("doc_id") == F.col("id_new")).select(
        "id_new", "id_corpus", "na", "nb", F.col("tset").alias("set_a")
    )
    jb = sets.join(
        F.broadcast(cand.select("id_new", "id_corpus")),
        F.col("doc_id") == F.col("id_corpus"),
    ).select(
        F.col("id_new").alias("id_new2"),
        F.col("id_corpus").alias("id_corpus2"),
        F.col("tset").alias("set_b"),
    )
    pairs = ja.join(
        jb,
        (F.col("id_new") == F.col("id_new2"))
        & (F.col("id_corpus") == F.col("id_corpus2")),
    ).select(
        "id_new",
        "id_corpus",
        "na",
        "nb",
        F.size(F.array_intersect("set_a", "set_b")).alias("n_inter"),
    )
    return (
        pairs.withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_new", "id_corpus", "jaccard")
    )


# ---------------------------------------------------------------------------
# Q81 — repeated-segment (boilerplate) removal with document
# reconstruction: the line-level exact dedup step of web-corpus pipelines
# (CCNet / RefinedWeb strip any line occurring too often across the crawl
# — headers, nav bars, cookie banners). Documents here are unstructured
# token streams, so the "line" unit is a fixed-width token block.
# ---------------------------------------------------------------------------

_BOILER_W = 8  # segment width in tokens
_BOILER_T = 2  # a segment occurring >= T times corpus-wide is boilerplate


@register(
    "q81_boilerplate_strip",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    seg AS (
        SELECT doc_id,
               CAST((s.i - 1) // {_BOILER_W} AS BIGINT) AS seg_idx,
               array_to_string(l[s.i : s.i + {_BOILER_W} - 1], ' ') AS seg
        FROM tok, unnest(generate_series(1, len(l), {_BOILER_W})) AS s(i)
    ),
    freq AS (SELECT seg, count(*) AS n FROM seg GROUP BY seg),
    flagged AS (
        SELECT s.doc_id, s.seg_idx, s.seg, (f.n < {_BOILER_T}) AS keep
        FROM seg s JOIN freq f USING (seg)
    )
    SELECT doc_id,
           coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
                        FILTER (WHERE keep), '') AS clean_text,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_removed
    FROM flagged
    GROUP BY doc_id
    """,
    families=("text", "multibyte", "bench"),
)
def q81_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip every {_BOILER_W}-token segment that repeats corpus-wide and
    rebuild each document from its surviving segments, in order.

    Scale design: segmentation is a shuffle-free row-expanding map; the
    frequency pass is one hash aggregate on the segment text; the
    boilerplate set (freq >= T) is tiny relative to the corpus — web
    boilerplate is heavy-tailed — so the flagging join BROADCASTS it
    (left-anti shape) instead of shuffling the full segment stream a
    second time. Reconstruction is a per-doc collect_list bounded by
    document length, grouped on doc_id — the natural key the segments
    already carry. No window over the corpus, no skew on hot segments
    (the hot set never shuffles; it rides the broadcast).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("l"))
    seg = toks.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(1), F.size("l"), F.lit(_BOILER_W))).alias(
            "_p", "i"
        ),
        "l",
    ).select(
        "doc_id",
        ((F.col("i") - 1) / _BOILER_W).cast("long").alias("seg_idx"),
        F.array_join(F.slice("l", F.col("i"), _BOILER_W), " ").alias("seg"),
    )
    boiler = (
        seg.groupBy("seg")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= _BOILER_T)
        .select("seg", F.lit(False).alias("keep_flag"))
    )
    flagged = seg.join(F.broadcast(boiler), "seg", "left").withColumn(
        "keep", F.col("keep_flag").isNull()
    )
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("seg_idx"), F.col("seg"))
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x.seg
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_segments"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Q85 — leakage-safe train/val/test split: q39's stable hash split, made
# near-dup aware. Splitting doc-by-doc leaks: two near-identical documents
# can land in train and test, inflating eval. The fix every serious
# pipeline applies: split by the near-dup CLUSTER, so a whole duplicate
# family moves together; singleton docs still split by their own id.
# ---------------------------------------------------------------------------

_SPLIT_PREFIX = "substr(md5(CAST(split_key AS VARCHAR)), 1, 1)"


@register(
    "q85_leakage_safe_split",
    oracle=_DUCK_CC_CTES
    + f""",
    keyed AS (
        SELECT d.doc_id,
               coalesce(c.cluster_id, d.doc_id) AS split_key
        FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, split_key,
           CASE WHEN {_SPLIT_PREFIX} <= 'b' THEN 'train'
                WHEN {_SPLIT_PREFIX} <= 'd' THEN 'val'
                ELSE 'test' END AS split
    FROM keyed
    """,
    families=(),
)
def q85_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/val/test by hashing its near-dup
    cluster id (falling back to its own id), so no duplicate family ever
    straddles a split boundary.

    Scale shape: one left join of the corpus against the (much smaller)
    cluster-label table on the key both already carry, then a narrow hash
    map — the same cost as q39 plus one co-partitioned join. The split
    stays stable under re-sharding AND under incremental ingestion as
    long as cluster ids are stable (min-doc_id labels are).
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = q28e_dedup_clusters(spark, sf_dir)
    keyed = d.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("split_key"),
    )
    pfx = F.substring(F.md5(F.col("split_key").cast("string")), 1, 1)
    return keyed.select(
        "doc_id",
        "split_key",
        F.when(pfx <= "b", "train")
        .when(pfx <= "d", "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# q111 — duplicated-span detection (the window-level form of Lee et al.
# 2022, "Deduplicating Training Data Makes Language Models Better"): a
# document is not a dup of another, but a SPAN inside it is — boilerplate,
# license headers, quoted tweets. Every W-token window is keyed; windows
# whose key occurs more than once corpus-wide are duplicated spans, and
# each doc reports its duplicated-window fraction (the memorization-risk
# metric the paper's ExactSubstr dedup thresholds on).
# ---------------------------------------------------------------------------

SPAN_W = 8  # window width in tokens (paper uses 50 BPE tokens at web scale)


def _spans_of(docs: DataFrame) -> DataFrame:
    """(doc_id, w): every SPAN_W-token sliding window of every doc with at
    least SPAN_W tokens — one row per window POSITION (repeats kept).
    Narrow map (split + transform + explode), no shuffle."""
    tok = docs.select("doc_id", F.split("text", " ").alias("l")).where(
        F.size("l") >= SPAN_W
    )
    return tok.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(l) - {SPAN_W - 1}), "
                f"i -> concat_ws(' ', slice(l, i, {SPAN_W})))"
            )
        ).alias("w"),
    )


def _register_q111() -> None:
    concat8 = " || ' ' || ".join(f"l[i+{j}]" for j in range(SPAN_W))

    @register(
        "q111_span_dedup",
        oracle=f"""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS l
            FROM documents
            WHERE len(string_split(text, ' ')) >= {SPAN_W}
        ),
        win AS (
            SELECT doc_id, t.w
            FROM tok, unnest(list_transform(
                generate_series(1, len(l) - {SPAN_W - 1}),
                i -> {concat8}
            )) AS t(w)
        ),
        c AS (
            SELECT doc_id, count(*) OVER (PARTITION BY w) AS occ
            FROM win
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS dup_windows,
               CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS dup_frac
        FROM c
        GROUP BY doc_id
        """,
        families=("multibyte", "bench"),
    )
    def q111_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-doc duplicated-span profile: of the doc's {SPAN_W}-token
        sliding windows, how many occur more than once corpus-wide.

        Scale shape: window generation is a narrow map (split + transform
        + explode — ~1 window per token, map-local); the ONE fact-sized
        shuffle keys windows by content for the occurrence count. The
        window-function form is chosen for its two-shuffle plan; its
        known hazard is a HOT span (corpus-wide boilerplate) landing one
        giant sort partition — AQE cannot split window partitions. If a
        profile shows that, switch the count to the groupBy(doc,span) →
        groupBy(span) → join-back form: one more (combined, smaller)
        shuffle, but the join is AQE-skew-splittable. At 100 TB you shuffle a 64-bit xxhash64 of
        the window, not the window text (16 bytes vs ~50; collision rate
        ~n²/2⁶⁴ is acceptable for a RATE metric — flagged spans feed a
        verify pass exactly like q28b's LSH candidates); the string key
        is kept here so the DuckDB oracle is literal. Docs shorter than
        {SPAN_W} tokens have no windows and are excluded (they cannot
        contain a duplicated span).
        """
        d = load_table(spark, sf_dir, "documents")
        d = d.repartition(
            max(spark.sparkContext.defaultParallelism, 8), "doc_id"
        )
        win = _spans_of(d)
        from pyspark.sql.window import Window

        c = win.withColumn(
            "occ", F.count("*").over(Window.partitionBy("w"))
        )
        dup = F.sum((F.col("occ") > 1).cast("long"))
        return c.groupBy("doc_id").agg(
            F.count("*").alias("n_windows"),
            dup.alias("dup_windows"),
            (dup.cast("double") / F.count("*").cast("double")).alias(
                "dup_frac"
            ),
        )


_register_q111()


# ---------------------------------------------------------------------------
# q113 — cross-source near-dup overlap matrix: the corpus-governance
# rollup of the q28b pair graph. Web corpora are assembled from feeds
# that mirror each other (crawl snapshots, aggregators, re-hosted wikis);
# before fixing mixture weights you need to know WHICH sources duplicate
# WHICH — a source pair with heavy overlap is double-counting the same
# underlying data, and its effective mixture weight is the sum.
# ---------------------------------------------------------------------------


def _register_q113() -> None:
    @register(
        "q113_source_overlap",
        oracle=f"""
        WITH {_DUCK_TRI},
        salts AS ({_DUCK_SALTS}),
        {_DUCK_LSH_CHAIN},
        vp AS (
            SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter)
                  >= {JACCARD_THRESHOLD}
        ),
        src AS (SELECT doc_id, source FROM documents)
        SELECT least(pa.source, pb.source) AS source_a,
               greatest(pa.source, pb.source) AS source_b,
               CAST(count(*) AS BIGINT) AS neardup_pairs
        FROM vp
        JOIN src pa ON pa.doc_id = vp.id_a
        JOIN src pb ON pb.doc_id = vp.id_b
        GROUP BY least(pa.source, pb.source), greatest(pa.source, pb.source)
        """,
        families=("bench",),
    )
    def q113_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Near-dup pair counts per (source, source) pair — which feeds
        mirror each other (pair orientation normalized least/greatest, so
        intra-source dup pressure shows on the diagonal).

        Scale shape: the expensive part is q28b's banded LSH, already
        linear; this rollup BROADCASTS the verified pair list (bounded by
        dup density, not corpus size) into two passes over the
        doc→source projection — the fact table is never shuffled — and
        the final groupBy is sources² at most, driver-trivial. If dup
        density ever made the pair list non-broadcastable, the identical
        plan degrades to two shuffle joins on doc_id; the rollup itself
        is unchanged.
        """
        pairs = _pairs_persisted(spark, sf_dir)
        src = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source"
        )
        sa = src.select(
            F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")
        )
        sb = src.select(
            F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")
        )
        # chain the two source attachments so the pair list appears ONCE
        # in the plan (a second reference would re-run the whole LSH
        # pipeline); each stage broadcasts the pair-sized side into one
        # pass over the doc→source projection.
        half = sa.join(F.broadcast(pairs), "id_a").select(
            "id_a", "id_b", "src_a"
        )
        return (
            sb.join(F.broadcast(half), "id_b")
            .groupBy(
                F.least("src_a", "src_b").alias("source_a"),
                F.greatest("src_a", "src_b").alias("source_b"),
            )
            .agg(F.count("*").alias("neardup_pairs"))
        )


_register_q113()


# ---------------------------------------------------------------------------
# q206 — LSH dedup RECALL certification: exact ground truth (every pair
# with true shingle-Jaccard ≥ θ whose overlap touches ≥1 NON-STOP
# shingle, found via the shingle inverted-index join — no banding, no
# cartesian) vs the banded-LSH pair set. Candidate generation is
# anchored on shingles with document frequency ≤ {_TRUTH_DF_CAP} (the
# standard stop-shingle bound: boilerplate shingles generate quadratic
# candidate pairs and no dedup signal), which bounds the join
# intermediate at CAP·|shingles| — LINEAR in the corpus even under
# adversarial duplication (an all-duplicates 30× replica OOM'd the
# uncapped join; with the cap it degrades gracefully by design).
# Max df on the testdata is 25, so the capped truth is bit-identical
# to the uncapped one at every tested scale. Jaccard for generated
# candidates is still computed over FULL shingle sets — exact. The
# one-row verdict carries recall AND a zero-false-positive proof
# (n_lsh_only must be 0 because q28b exact-verifies its candidates).
# Production analog: run the exact side on an eval sample to monitor the
# band/row parameters as the corpus drifts; the q200 recall eval is the
# same pattern for ANN retrieval.
# ---------------------------------------------------------------------------


_TRUTH_DF_CAP = 100  # stop-shingle bound for truth candidates

# exact ground-truth near-dup pairs per (session, corpus) — like the
# pair/cluster memos this is a corpus-snapshot materialization: the
# recall certificate (q206) and any future eval consumer read the same
# persisted frame, and bench prices the build once as its own labeled
# line (memo:truth) instead of attributing it to whichever consumer
# happens to run first.
_TRUTH_CACHE: dict[tuple[str, str], DataFrame] = {}


def _truth_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from spark_state_provider_spark.dfcache import get_or_build

    return get_or_build(
        _TRUTH_CACHE,
        spark,
        (sf_dir,),
        lambda: _truth_pairs_build(spark, sf_dir).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )


def _truth_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard-≥-{JACCARD_THRESHOLD} ground-truth pairs, candidates
    anchored on df≤{_TRUTH_DF_CAP} shingles (the stop-shingle cap that
    bounds the inverted-index walk — see SCALE.md exact-truth story).

    Round-10 plan (§2.3/§2.4/§3.1; before: 8 exchanges, two of them the
    FULL shingle table re-exchanged per verify join, plus a
    |cand|×|shingles(a)| row explosion into a pair groupBy):

    * candidates come from ONE groupBy over the anti-joined shingle
      stream — grams above the df cap (the tiny stop set, broadcast by
      AQE at its runtime size) are dropped first, so every grouped row
      holds ≤ {_TRUTH_DF_CAP} doc ids and the pair fan-out is the same
      JVM-side array expansion _runs_for_docs uses (no tri⋈tri
      self-join);
    * verification intersects PRE-COLLECTED per-doc shingle-set arrays
      (the exact verify shape the LSH builder already uses:
      `size(array_intersect)` over two doc-keyed joins) instead of
      re-joining the row-level shingle table per side and re-counting —
      the per-pair cost is O(|set_a|+|set_b|) and the set table is one
      row per doc. Set sizes ride along (tri is distinct per doc, so
      size(tset) == the old count(*) sizes frame).

    Same candidate set, same intersection counts, same output pairs —
    the q206 oracle replays the original inverted-index SQL and must
    (and does) hash-match.
    """
    tri = _trigrams_persisted(spark, sf_dir)
    stop = (
        tri.groupBy("tri")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > _TRUTH_DF_CAP)
        .select("tri")
    )
    # anti(stop) ≡ the old semi/inner against the df≤cap keep list: every
    # shingle of tri appears in the df aggregate exactly once
    occ = (
        tri.join(stop, "tri", "left_anti")
        .groupBy("tri")
        .agg(F.collect_list("doc_id").alias("ds"))
    )
    cand = (
        occ.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, a -> "
                    "transform(filter(ds, b -> a < b), b -> "
                    "struct(a AS id_a, b AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )
    sets = tri.groupBy("doc_id").agg(F.collect_set("tri").alias("tset"))
    withA = cand.join(
        sets.select(
            F.col("doc_id").alias("id_a"),
            F.col("tset").alias("set_a"),
            F.size("tset").alias("na"),
        ),
        "id_a",
    )
    withB = withA.join(
        sets.select(
            F.col("doc_id").alias("id_b"),
            F.col("tset").alias("set_b"),
            F.size("tset").alias("nb"),
        ),
        "id_b",
    )
    return (
        withB.select(
            "id_a",
            "id_b",
            "na",
            "nb",
            F.size(F.array_intersect("set_a", "set_b")).alias("n_inter"),
        )
        .where(
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter"))
            >= JACCARD_THRESHOLD
        )
        .select("id_a", "id_b")
    )


def _register_q206() -> None:
    from spark_state_provider_spark.operators.registry import get as _get

    lsh_oracle = _get("q28b_minhash_lsh").oracle

    @register(
        "q206_lsh_dedup_recall",
        oracle=f"""
        WITH {_DUCK_TRI},
        sizes AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
        rare AS (
            SELECT tri FROM (
                SELECT tri, count(*) AS df FROM tri GROUP BY tri
            ) WHERE df <= {_TRUTH_DF_CAP}
        ),
        cand AS (
            SELECT DISTINCT ta.doc_id AS id_a, tb.doc_id AS id_b
            FROM tri ta
            JOIN rare r ON r.tri = ta.tri
            JOIN tri tb ON tb.tri = ta.tri AND ta.doc_id < tb.doc_id
        ),
        allint AS (
            SELECT c.id_a, c.id_b, count(*) AS n_inter
            FROM cand c
            JOIN tri ta ON ta.doc_id = c.id_a
            JOIN tri tb ON tb.doc_id = c.id_b AND tb.tri = ta.tri
            GROUP BY c.id_a, c.id_b
        ),
        truth AS (
            SELECT i.id_a, i.id_b
            FROM allint i
            JOIN sizes sa ON sa.doc_id = i.id_a
            JOIN sizes sb ON sb.doc_id = i.id_b
            WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter)
                  >= {JACCARD_THRESHOLD}
        ),
        lsh AS (SELECT id_a, id_b FROM ({lsh_oracle}))
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
            (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh,
            (SELECT CAST(count(*) AS BIGINT)
             FROM truth t JOIN lsh l
               ON t.id_a = l.id_a AND t.id_b = l.id_b) AS n_found,
            (SELECT CAST(count(*) AS BIGINT)
             FROM lsh l LEFT JOIN truth t
               ON t.id_a = l.id_a AND t.id_b = l.id_b
             WHERE t.id_a IS NULL) AS n_lsh_only,
            CAST((SELECT count(*) FROM truth t JOIN lsh l
                  ON t.id_a = l.id_a AND t.id_b = l.id_b) AS DOUBLE)
              / NULLIF((SELECT count(*) FROM truth), 0) AS recall
        """,
        families=("text", "multibyte", "bench"),
    )
    def q206_lsh_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
        """One-row recall certificate of the banded MinHash-LSH dedup
        against the exact Jaccard-≥-{JACCARD_THRESHOLD} ground truth
        (candidates anchored on df≤{_TRUTH_DF_CAP} shingles; exact
        full-set Jaccard for every candidate).

        Scale shape: ground truth is the memoized `_truth_persisted`
        frame (self-equijoin of the persisted shingle index on the
        shingle key — bounded by co-shingle pair count, an
        inverted-index walk, never all-pairs); the LSH side is the
        memoized verified-pair frame. At 100 TB the exact side runs
        on a sampled eval slice with the identical plan.
        """
        truth = _truth_persisted(spark, sf_dir)
        lsh = _pairs_persisted(spark, sf_dir)
        # ONE full-outer membership join + ONE aggregate: the expensive
        # truth chain is evaluated once (four separate scalar counts
        # re-ran it three times — 16s -> ~6s at sf0.1)
        j = truth.withColumn("in_truth", F.lit(1)).join(
            lsh.withColumn("in_lsh", F.lit(1)),
            ["id_a", "id_b"],
            "full_outer",
        )
        return j.agg(
            F.count("in_truth").cast("bigint").alias("n_true"),
            F.count("in_lsh").cast("bigint").alias("n_lsh"),
            F.count(F.when(F.col("in_truth").isNotNull(), F.col("in_lsh")))
            .cast("bigint")
            .alias("n_found"),
            F.count(
                F.when(F.col("in_truth").isNull(), F.col("in_lsh"))
            )
            .cast("bigint")
            .alias("n_lsh_only"),
        ).select(
            "n_true",
            "n_lsh",
            "n_found",
            "n_lsh_only",
            # NULL (both engines) on a duplicate-free corpus — unguarded,
            # Spark's double 0/0 (NaN-ish NULL) and DuckDB's error/NULL
            # semantics diverge when n_true = 0
            F.when(
                F.col("n_true") > 0,
                F.col("n_found").cast("double") / F.col("n_true"),
            ).alias("recall"),
        )


_register_q206()


# ---------------------------------------------------------------------------
# q213 — GOLDEN RECORD per duplicate cluster (MDM survivorship): each
# near-dup cluster collapses to one merged record — canonical id (min),
# the longest member as the surviving text carrier (ties → lowest id),
# the union of sources, and size accounting. This is what dedup is FOR:
# downstream consumers read the survivor table, not the pair graph.
# Reuses the memoized cluster labels; the oracle replays the full
# LSH + transitive-closure chain (q28e's CTE) and merges in SQL.
# ---------------------------------------------------------------------------


def _register_q213() -> None:
    from spark_state_provider_spark.operators.registry import get as _get

    cluster_oracle = _get("q28e_dedup_clusters").oracle

    @register(
        "q213_golden_record",
        oracle=f"""
        WITH labels AS ({cluster_oracle})
        SELECT l.cluster_id,
               CAST(count(*) AS BIGINT) AS n_members,
               min(d.doc_id) AS canonical_id,
               CAST((min(struct_pack(neg := -d.n_chars, id := d.doc_id))).id
                    AS BIGINT) AS survivor_id,
               CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
               string_agg(DISTINCT d.source, ',' ORDER BY d.source)
                   AS sources_csv
        FROM labels l JOIN documents d ON d.doc_id = l.doc_id
        GROUP BY l.cluster_id
        """,
        families=("text", "multibyte", "bench"),
    )
    def q213_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
        """One merged survivor row per near-dup cluster: canonical id,
        longest-member survivor via an explicit lexicographic struct
        argmin on (−n_chars, doc_id) — longest text wins, ties break to
        the lowest id, with NO packed-integer range assumptions (the
        earlier 10^10-packed form silently required n_chars ≤ 999 999
        and doc_id < 10^10) — source union as an ordered CSV,
        member/char accounting.

        Scale shape: the cluster labels are the memoized CC output
        (log-round, linear); the merge is ONE map-side-combined
        aggregate over (cluster, doc) rows. Struct min is combinable,
        so survivorship stays a single map-side-partial aggregate.
        """
        labels = _clusters_persisted(spark, sf_dir)
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )
        j = labels.join(d, "doc_id")
        survivor_key = F.struct(
            (-F.col("n_chars")).alias("neg"),
            F.col("doc_id").alias("id"),
        )
        return j.groupBy("cluster_id").agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.min("doc_id").alias("canonical_id"),
            F.min(survivor_key)
            .getField("id")
            .cast("bigint")
            .alias("survivor_id"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.array_join(
                F.array_sort(F.collect_set("source")), ","
            ).alias("sources_csv"),
        )


_register_q213()


# ---------------------------------------------------------------------------
# q224 — MinHash estimator calibration against exact Jaccard.
# q206 certifies the PIPELINE's recall; this pins the ESTIMATOR itself:
# P(minhash_i(A) = minhash_i(B)) = J(A,B) (Broder 1997), so the match
# count over the 8 salts is a Binomial(8, J) draw per pair. Grouping the
# banded candidates by their match count and pooling exact intersections
# per group yields the empirical calibration curve (est 0/8…8/8 vs pooled
# exact Jaccard) — the table that tells a pipeline operator whether
# N_SALTS is adequate BEFORE trusting the estimate at 100 TB, where the
# exact verify join is the cost being traded away.
#
# Everything aggregated is a BIGINT (match counts, intersection and
# union sizes); pooled Jaccard = Σinter/Σunion is ONE exact division per
# output row (never a mean of per-pair floats, whose summation order
# would diverge between engines), and the band-capture S-curve
# 1−(1−j⁴)² is expanded into fixed-order multiplies shared textually by
# both engines.
# ---------------------------------------------------------------------------

_CAPTURE_EXPR = (
    "1.0 - (1.0 - ((pooled_jaccard * pooled_jaccard)"
    " * (pooled_jaccard * pooled_jaccard)))"
    " * (1.0 - ((pooled_jaccard * pooled_jaccard)"
    " * (pooled_jaccard * pooled_jaccard)))"
)


@register(
    "q224_minhash_calibration",
    oracle=f"""
    WITH {_DUCK_TRI},
    salts AS ({_DUCK_SALTS}),
    {_DUCK_LSH_CHAIN},
    m AS (
        SELECT c.id_a, c.id_b,
               CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT)
                   AS matches
        FROM cand c
        JOIN mh a ON a.doc_id = c.id_a
        JOIN mh b ON b.doc_id = c.id_b AND b.salt = a.salt
        GROUP BY c.id_a, c.id_b
    ),
    p AS (
        SELECT m.matches,
               COALESCE(i.n_inter, 0) AS n_inter,
               sa.n + sb.n - COALESCE(i.n_inter, 0) AS n_union
        FROM m
        LEFT JOIN inter i ON i.id_a = m.id_a AND i.id_b = m.id_b
        JOIN sizes sa ON sa.doc_id = m.id_a
        JOIN sizes sb ON sb.doc_id = m.id_b
    ),
    g AS (
        SELECT matches,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(n_inter) AS BIGINT) AS sum_inter,
               CAST(sum(n_union) AS BIGINT) AS sum_union
        FROM p GROUP BY matches
    )
    SELECT matches, n_pairs, sum_inter, sum_union, est_jaccard,
           pooled_jaccard,
           {_CAPTURE_EXPR} AS band_capture_prob
    FROM (
        SELECT *,
               CAST(matches AS DOUBLE) / {float(N_SALTS)} AS est_jaccard,
               CAST(sum_inter AS DOUBLE) / CAST(sum_union AS DOUBLE)
                   AS pooled_jaccard
        FROM g
    )
    """,
    families=("text", "multibyte", "bench"),
)
def q224_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical MinHash calibration: banded candidate pairs grouped by
    signature match count ({N_SALTS} salts), each group carrying its
    pooled exact Jaccard and the theoretical band-capture probability
    1−(1−j⁴)² at that pooled similarity.

    Scale shape: rides the memoized candidate pipeline
    (`_lsh_scored_candidates` — the same frame q28b/q136 verify from, so
    the exact intersections are already paid for) plus one signature
    re-aggregation of the persisted trigram frame; the scalar candidate
    table broadcasts onto the signature frame twice (the verify-join
    discipline of the candidate builder). Output is ≤ {N_SALTS + 1} rows
    — the whole calibration is two broadcast joins and one {N_SALTS + 1}
    -group aggregate on top of already-materialized state.
    """
    pairs = _lsh_scored_candidates(spark, sf_dir)
    tri = _trigrams_persisted(spark, sf_dir)
    sig = tri.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat_ws("|", F.lit(s), F.col("tri")))
            ).alias(f"h{i}")
            for i, s in enumerate(_SALTS)
        ]
    )
    pa = sig.join(
        F.broadcast(pairs), F.col("doc_id") == F.col("id_a")
    ).select(
        "id_a",
        "id_b",
        "na",
        "nb",
        "n_inter",
        *[F.col(f"h{i}").alias(f"ah{i}") for i in range(N_SALTS)],
    )
    pb = sig.join(
        F.broadcast(pairs.select("id_a", "id_b")),
        F.col("doc_id") == F.col("id_b"),
    ).select(
        F.col("id_a").alias("id_a2"),
        F.col("id_b").alias("id_b2"),
        *[F.col(f"h{i}").alias(f"bh{i}") for i in range(N_SALTS)],
    )
    matches = sum(
        F.when(F.col(f"ah{i}") == F.col(f"bh{i}"), 1).otherwise(0)
        for i in range(N_SALTS)
    )
    per_pair = (
        pa.join(
            pb,
            (F.col("id_a") == F.col("id_a2"))
            & (F.col("id_b") == F.col("id_b2")),
        )
        .select(
            matches.cast("long").alias("matches"),
            F.col("n_inter").cast("long").alias("n_inter"),
            (F.col("na") + F.col("nb") - F.col("n_inter"))
            .cast("long")
            .alias("n_union"),
        )
    )
    g = per_pair.groupBy("matches").agg(
        F.count("*").alias("n_pairs"),
        F.sum("n_inter").cast("long").alias("sum_inter"),
        F.sum("n_union").cast("long").alias("sum_union"),
    )
    enriched = g.select(
        "matches",
        "n_pairs",
        "sum_inter",
        "sum_union",
        (F.col("matches").cast("double") / F.lit(float(N_SALTS))).alias(
            "est_jaccard"
        ),
        (
            F.col("sum_inter").cast("double")
            / F.col("sum_union").cast("double")
        ).alias("pooled_jaccard"),
    )
    return enriched.withColumn(
        "band_capture_prob", F.expr(_CAPTURE_EXPR)
    )


# ---------------------------------------------------------------------------
# q226 — exact-substring dedup, suffix-anchor form (the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" ExactSubstr
# semantics, re-expressed relationally): for every document pair, the
# length of the LONGEST shared character substring, computed from sorted
# k-mer anchors instead of a monolithic suffix array. A shared substring
# of length L ≥ K contains exactly L−K+1 of the K-char anchors on ONE
# anti-diagonal (pos_a − pos_b constant), at consecutive positions — so
# max-run-per-diagonal recovers L exactly. This upgrades q111 (boolean
# duplicated-span profile) to the pairwise LCS the paper thresholds on.
# ---------------------------------------------------------------------------

_SUB_K = 16        # anchor width (chars); LCS below K is invisible by design
_SUB_MIN = 32      # report pairs sharing a substring of ≥ this many chars
_SUB_DF_CAP = 50   # anchors in more docs than this are stop-anchors:
                   # excluded on BOTH engines (bounds join fan-out the same
                   # way q206's stop-shingle cap bounds the exact truth)


@register(
    "q226_substring_lcs_dedup",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, i, substr(text, i, {_SUB_K}) AS gram
        FROM documents,
             unnest(generate_series(1, length(text) - {_SUB_K - 1})) AS t(i)
        WHERE length(text) >= {_SUB_K}
    ),
    df AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram),
    gk AS (SELECT g.* FROM g JOIN df USING (gram) WHERE df.df <= {_SUB_DF_CAP}),
    m AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.i AS pa, a.i - b.i AS diag
        FROM gk a JOIN gk b USING (gram)
        WHERE a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT doc_a, doc_b, diag, pa,
               pa - row_number() OVER (
                   PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
        FROM m
    ),
    runs AS (
        SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS run
        FROM isl GROUP BY doc_a, doc_b, diag, grp
    )
    SELECT doc_a, doc_b,
           CAST({_SUB_K} + max(run) - 1 AS BIGINT) AS lcs_len
    FROM runs
    GROUP BY doc_a, doc_b
    HAVING {_SUB_K} + max(run) - 1 >= {_SUB_MIN}
    """,
    families=("multibyte", "bench"),
)
def q226_substring_lcs_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of documents sharing an exact substring of ≥ {_SUB_MIN} chars,
    with the exact longest-shared-substring length — ExactSubstr dedup's
    decision quantity (Lee et al. 2022 §4.1), via sorted {_SUB_K}-char
    anchors + per-diagonal run-length instead of a suffix array.

    Exactness contract: LCS is exact for any pair whose longest shared
    substring contains no stop-anchor (df > {_SUB_DF_CAP}); the cap is
    applied identically in the oracle, so the two engines agree by
    construction (the q206 bounded-truth discipline).

    Scale shape (see _substring_runs for the round-8 plan): anchor
    extraction is a narrow codegen map (substring over a sequence — no
    Python); ONE groupBy(gram) is simultaneously the df cap (bounding
    fan-out to ≤ C({_SUB_DF_CAP},2) pairs per anchor, the role LSH
    banding plays in q28b) and the pair expansion (JVM array transform
    inside the grouped row — the old self-join and its no-op distinct
    are gone, 4.8s → 2.1s min-of-3 at sf0.1); diagonal run-length is a
    fold over each (pair, diag)'s sorted positions. The strided
    candidate path (detect-at-K+stride−1 guarantee, implemented and
    equality-pinned in test_round8_ops) is available for corpora where
    candidate pairs ≪ anchor-sharing pairs; on this fixture it costs
    more than it saves, so the dense plan runs. Suffix arrays beat this
    on one node; at cluster scale the gram groupBy IS the distributed
    suffix sort, expressed as shuffles Catalyst can plan.
    """
    runs = _runs_persisted(spark, sf_dir)
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg((F.lit(_SUB_K) + F.max("run") - F.lit(1)).cast("long").alias("lcs_len"))
        .where(F.col("lcs_len") >= _SUB_MIN)
    )


# pair expansion inside a grouped gram row: every (a, b) occurrence pair
# with a.doc_id < b.doc_id becomes one match struct — the self-join's
# output without the self-join's shuffle (the grouped row already holds
# every occurrence of the gram).
_SUB_EXPAND = """
flatten(transform(os, a ->
  transform(filter(os, b -> a.doc_id < b.doc_id), b ->
    struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.i AS pa, a.i - b.i AS diag))))
"""

# fold over the per-(pair, diag) SORTED position list: emit every maximal
# run of consecutive positions as (start, length) — the gaps-and-islands
# window, computed inside one aggregation buffer instead of a sort-based
# window exec.
_SUB_RUNS_FOLD = """
aggregate(ps,
  struct(CAST(array() AS ARRAY<STRUCT<s: INT, l: INT>>) AS runs,
         CAST(-2147483648 AS INT) AS prev,
         CAST(0 AS INT) AS cs, CAST(0 AS INT) AS cl),
  (s, x) -> IF(x = s.prev + 1,
     named_struct('runs', s.runs, 'prev', x, 'cs', s.cs, 'cl', s.cl + 1),
     named_struct(
        'runs', IF(s.cl > 0,
                   array_append(s.runs, named_struct('s', s.cs, 'l', s.cl)),
                   s.runs),
        'prev', x, 'cs', x, 'cl', 1)),
  s -> IF(s.cl > 0,
          array_append(s.runs, named_struct('s', s.cs, 'l', s.cl)),
          s.runs))
"""

# phase-1 strided candidate pairs: one struct per (a, b) occurrence pair
# where the b-side anchor sits on the stride lattice. Detection
# guarantee: a maximal surviving run of R ≥ stride consecutive anchors
# contains ≥ 1 lattice position on EITHER doc's coordinates, so every
# pair the dense plan would report (R ≥ _SUB_MIN − _SUB_K + 1 = stride)
# appears here; sub-threshold pairs may be missed — which is the point.
_SUB_CAND_FMT = """
flatten(transform(os, a ->
  transform(filter(os, b -> b.doc_id != a.doc_id
                            AND b.i % {stride} = 0), b ->
    struct(least(a.doc_id, b.doc_id) AS doc_a,
           greatest(a.doc_id, b.doc_id) AS doc_b))))
"""


def _substring_runs(
    spark: SparkSession, sf_dir: str, stride: int | None = None
) -> DataFrame:
    """Shared anchor-match run table: one row per maximal diagonal run of
    surviving {_SUB_K}-char anchors per (doc_a < doc_b) pair — (doc_a,
    doc_b, diag, start_pa, run). q226 thresholds the max run (pairwise
    LCS); q231 turns every ≥{_SUB_MIN}-char run into a removal span in
    the later doc.

    Plan (round-8 shootout, min-of-3 at sf0.1 on local[32]; committed in
    SCALE.md; round-9 skew hardening per ADVICE): the stop-anchor df cap
    is a count_distinct df table left_semi-joined on gram BEFORE the
    collect — so no grouped row ever materializes a stop-anchor's
    corpus-wide occurrence list (the round-8 post-group filter's
    single-row OOM hazard on boilerplate-heavy corpora). One
    groupBy(gram) then collects the SURVIVING (≤ df-cap docs) grams and
    the pair "join" is a JVM-side array transform inside the grouped row
    (the old gk⋈gk self-join and its provably no-op .distinct() are gone
    — 4.78s → 2.1s). Run detection is a fold over the per-(pair, diag)
    sorted position list instead of a sort-based window (one groupBy, no
    window exec). Shuffles: gram df-agg + semi join + gram groupBy
    (O(total chars) slim rows — the distributed suffix-sort analog, same
    asymptotics as Lee et al.'s suffix array build), match groupBy
    (bounded by the df cap), final per-pair agg. Residual bound: a
    grouped row holds ≤ cap docs × per-doc occurrences of ONE gram —
    within-doc repetition (e.g. "aaaa…") is the only remaining fat-row
    source, identical to the oracle's gk CTE semantics.

    ``stride`` enables the two-phase candidate filter: phase 1 detects
    candidate pairs from anchors on a stride lattice of ONE side
    (detect-at-(K + stride − 1) guarantee), phase 2 computes dense runs
    only for matches of candidate pairs. OUTPUT-EQUIVALENT to the dense
    plan whenever stride ≤ _SUB_MIN − _SUB_K + 1: every reported pair
    needs a run of ≥ stride consecutive surviving anchors, and any
    stride consecutive integers contain a lattice point, so phase 1
    cannot miss a reportable pair (pytest pins equality). Worth it when
    candidate pairs ≪ anchor-sharing pairs (loose df caps / heavy shared
    vocabulary); on the driver fixture cand = 396k of 1.2M sharing pairs
    and the broadcast-semi costs more than it saves (2.6s vs 2.1s), so
    q226 runs the dense plan and the stride path stays available for
    corpora where the fan-out, not the scan, dominates.
    """
    # repartition: the documents table arrives as ONE parquet file, so
    # without this the anchor explode (the widest narrow stage) runs on a
    # single core — measured 8.9s → 3.4s min-of-3 at sf0.1 on local[32]
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return _runs_for_docs(docs, stride=stride)


def _runs_for_docs(
    docs: DataFrame, stride: int | None = None
) -> DataFrame:
    """_substring_runs over an arbitrary (doc_id, text) frame — q235
    audits the REBUILT corpus (q231's output) with exactly the plan the
    original corpus was deduplicated with."""
    d = docs.where(F.length("text") >= _SUB_K)
    g = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(text) - {_SUB_K - 1}), "
                f"i -> struct(i AS i, substring(text, i, {_SUB_K}) AS gram))"
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.i").alias("i"), F.col("x.gram").alias("gram"))
    # Stop-anchor df cap applied BEFORE collect_list (round-8 ADVICE):
    # filtering after the group would first materialize every occurrence
    # of a high-frequency gram corpus-wide inside ONE aggregation row —
    # a single-row skew/OOM hazard on boilerplate-heavy corpora. Grouped
    # rows stay bounded by the cap (≤ _SUB_DF_CAP docs per gram reach the
    # collect), matching the oracle's df-CTE-then-join shape exactly.
    #
    # Round 10 (§2.3/§3.1): the cap is applied as a LEFT ANTI join against
    # the STOP set (df > cap) instead of round 9's left_semi against the
    # keep set (df ≤ cap). Equivalent by construction — every gram of g
    # appears in the df aggregate exactly once, so anti(stop) ≡ semi(ok) —
    # but 16-char anchors are mostly unique, so the keep list is ~all
    # distinct grams (far over any broadcast threshold: the semi planned
    # as a sort-merge join that exchanged AND sorted both the keep list
    # and the whole O(total chars) anchor stream) while the stop side is
    # only the boilerplate anchors: AQE sees its real size at runtime and
    # broadcasts it, leaving the anchor stream completely unshuffled until
    # the one groupBy(gram) exchange. On an adversarial corpus whose stop
    # set outgrows the broadcast threshold AQE falls back to the same SMJ
    # as before — the cap semantics never change. Cost of the df pass
    # itself (one slim (gram, doc_id) agg over g) is unchanged; the
    # round-9 tiered count-then-distinct rejection still stands.
    df_stop = (
        g.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") > _SUB_DF_CAP)
        .select("gram")
    )
    occ = (
        g.join(df_stop, "gram", "left_anti")
        .groupBy("gram")
        .agg(F.collect_list(F.struct("doc_id", "i")).alias("os"))
    )
    m = occ.select(F.explode(F.expr(_SUB_EXPAND)).alias("p")).select("p.*")
    if stride is not None:
        # residue-0 lattice (round-8 ADVICE): every positive-integer
        # window of `stride` consecutive anchor positions contains an
        # i ≡ 0 (mod stride), for ANY stride ≥ 1 — stride=1 degenerates
        # to the dense plan (all anchors are lattice points) instead of
        # silently emitting an empty candidate set as the old residue-1
        # lattice did.
        assert 1 <= stride <= _SUB_MIN - _SUB_K + 1, (
            f"stride {stride} breaks the detect-at-(K+stride-1) guarantee"
            f" for threshold {_SUB_MIN}"
        )
        cand = (
            occ.select(
                F.explode(F.expr(_SUB_CAND_FMT.format(stride=stride))).alias(
                    "c"
                )
            )
            .select("c.*")
            .distinct()
        )
        m = m.join(F.broadcast(cand), ["doc_a", "doc_b"], "left_semi")
    per_diag = m.groupBy("doc_a", "doc_b", "diag").agg(
        F.sort_array(F.collect_list("pa")).alias("ps")
    )
    return per_diag.select(
        "doc_a",
        "doc_b",
        "diag",
        F.explode(F.expr(_SUB_RUNS_FOLD)).alias("r"),
    ).select(
        "doc_a",
        "doc_b",
        "diag",
        F.col("r.s").alias("start_pa"),
        F.col("r.l").cast("long").alias("run"),
    )


# anchor-run table per (session, corpus) — q226, q231, and (via q231)
# q232 all start from this frame; like the trigram/pair/cluster memos it
# is the production materialization boundary (a corpus-snapshot artifact
# built once, read by every consumer) and keeps bench attribution stable.
_RUNS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _runs_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from spark_state_provider_spark.dfcache import get_or_build

    return get_or_build(
        _RUNS_CACHE,
        spark,
        (sf_dir,),
        lambda: _substring_runs(spark, sf_dir).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )


# ---------------------------------------------------------------------------
# q231 — span-removal corpus REWRITE: the output side of ExactSubstr dedup.
# q226 emits the decision quantity (pairwise LCS); Lee et al. 2022's actual
# product is the deduplicated corpus with every duplicated span of
# ≥ threshold chars CUT from all but the first occurrence (reference
# semantics §4.1: remove the span, keep the surrounding text). Keep rule
# here: the id-earlier doc keeps the span; every id-later doc sharing it
# loses its copy. Removal decisions are computed on the ORIGINAL texts
# (like the paper), so overlapping spans from different partners simply
# union before cutting.
# ---------------------------------------------------------------------------

# shared CTE chain: anchors → df cap → diagonal runs → removal spans in the
# id-later doc → per-doc merged intervals. Interpolated into q231's (and
# q233's streaming-twin) oracle.
# interval-merge CTEs (gaps-and-islands) on top of a `spans(doc_id, s, e)`
# CTE — shared by q231's batch oracle and q233's streaming-twin oracle.
_MERGE_CTES = """
    ordd AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max
        FROM (SELECT DISTINCT doc_id, s, e FROM spans)
    ),
    isl2 AS (
        SELECT doc_id, s, e,
               sum(CASE WHEN prev_max IS NULL OR s > prev_max + 1
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s, e) AS island
        FROM ordd
    ),
    merged AS (
        SELECT doc_id, island, min(s) AS s, max(e) AS e
        FROM isl2 GROUP BY doc_id, island
    )
"""

_SPAN_CTES = f"""
    g AS (
        SELECT doc_id, i, substr(text, i, {_SUB_K}) AS gram
        FROM documents,
             unnest(generate_series(1, length(text) - {_SUB_K - 1})) AS t(i)
        WHERE length(text) >= {_SUB_K}
    ),
    df AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram),
    gk AS (SELECT g.* FROM g JOIN df USING (gram) WHERE df.df <= {_SUB_DF_CAP}),
    m AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.i AS pa, a.i - b.i AS diag
        FROM gk a JOIN gk b USING (gram)
        WHERE a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT doc_a, doc_b, diag, pa,
               pa - row_number() OVER (
                   PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
        FROM m
    ),
    spans AS (
        SELECT doc_b AS doc_id,
               min(pa) - diag AS s,
               min(pa) - diag + ({_SUB_K} + count(*) - 1) - 1 AS e
        FROM isl GROUP BY doc_a, doc_b, diag, grp
        HAVING {_SUB_K} + count(*) - 1 >= {_SUB_MIN}
    ),
    {_MERGE_CTES}
"""

# rebuild CTEs on top of `merged`: kept pieces = head/gap before each
# removed interval + the tail after the last one; string_agg in position
# order reassembles the cleaned text.
_REBUILD_SQL = """
    pieces AS (
        SELECT doc_id, COALESCE(prev_e, 0) + 1 AS ps, s - 1 AS pe
        FROM (SELECT doc_id, s, e,
                     lag(e) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e
              FROM merged)
        UNION ALL
        SELECT doc_id, max(e) + 1 AS ps, NULL AS pe
        FROM merged GROUP BY doc_id
    ),
    rebuilt AS (
        SELECT d.doc_id,
               string_agg(
                   CASE WHEN p.pe IS NULL THEN substr(d.text, p.ps)
                        ELSE substr(d.text, p.ps, p.pe - p.ps + 1) END,
                   '' ORDER BY p.ps) AS cleaned_text
        FROM documents d JOIN pieces p USING (doc_id)
        GROUP BY d.doc_id
    ),
    removed AS (
        SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS removed_chars
        FROM merged GROUP BY doc_id
    )
"""


def _merged_removal_intervals(spans: DataFrame) -> DataFrame:
    """(doc_id, s, e) spans → per-doc merged disjoint intervals (the same
    gaps-and-islands construction as the oracle's ordd/isl2/merged CTEs).
    Overlapping AND adjacent intervals merge; output intervals are
    pairwise disjoint with at least one kept char between them.

    No input distinct (the oracle's ordd CTE has one): the merge is
    idempotent to duplicate spans — duplicates sort adjacent under
    (s, e), a copy's prev_max ≥ its own e so it never opens an island
    (increment 0 whichever copy sorts first), and island min(s)/max(e)
    are unchanged by repeats — so deduplicating first would only add a
    full-width exchange of the span stream for the same merged output."""
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordd = spans.withColumn("prev_max", F.max("e").over(w_prev))
    isl2 = ordd.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_max").isNull()
                | (F.col("s") > F.col("prev_max") + 1),
                1,
            ).otherwise(0)
        ).over(w_run),
    )
    return isl2.groupBy("doc_id", "island").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )


def _rewrite_with_intervals(docs: DataFrame, merged: DataFrame) -> DataFrame:
    """Cut merged removal intervals out of each doc's text: one JVM-side
    ``aggregate`` fold over the per-doc sorted interval array builds the
    cleaned text from substring pieces — no per-character explode, no
    Python, O(text + intervals) per doc."""
    iv = merged.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("s").cast("int").alias("s"),
                    F.col("e").cast("int").alias("e"),
                )
            )
        ).alias("ivs"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("removed_chars"),
    )
    rebuilt = F.expr(
        "aggregate(ivs, "
        "struct(CAST('' AS STRING) AS t, CAST(1 AS INT) AS c), "
        "(acc, iv) -> struct(concat(acc.t, substring(text, acc.c, iv.s - acc.c)), "
        "CAST(iv.e + 1 AS INT)), "
        "acc -> concat(acc.t, substring(text, acc.c, length(text) - acc.c + 1)))"
    )
    return docs.join(iv, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("ivs").isNotNull(), rebuilt)
        .otherwise(F.col("text"))
        .alias("cleaned_text"),
        F.coalesce(F.col("removed_chars"), F.lit(0).cast("long")).alias(
            "removed_chars"
        ),
    )


@register(
    "q231_span_removal_rewrite",
    oracle=f"""
    WITH {_SPAN_CTES},
    {_REBUILD_SQL}
    SELECT d.doc_id,
           COALESCE(r.cleaned_text, d.text) AS cleaned_text,
           COALESCE(rm.removed_chars, CAST(0 AS BIGINT)) AS removed_chars
    FROM documents d
    LEFT JOIN rebuilt r USING (doc_id)
    LEFT JOIN removed rm USING (doc_id)
    """,
    families=("text", "multibyte", "bench"),
)
def q231_span_removal_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: every shared substring of ≥
    {_SUB_MIN} chars (q226's runs) is CUT from the id-later doc of each
    sharing pair — the id-earliest occurrence corpus-wide survives — and
    the doc is reassembled around the cut. Emits EVERY document:
    (doc_id, cleaned_text, removed_chars), untouched docs pass through
    with removed_chars = 0 (NULL-text docs stay NULL).

    Scale shape: rides q226's bounded anchor-match plan (df-capped
    equijoin, per-(pair,diag) windows — never corpus×corpus); the new
    work is per-DOC only: interval merge is one window over each doc's
    spans (gaps-and-islands), and the text surgery is one JVM
    ``aggregate`` fold over the doc's sorted interval array — no
    per-character explode, no Python, cost O(text + spans) per doc. At
    100 TB the rewrite joins intervals back to the corpus on doc_id (the
    table's natural key), so it co-partitions with any doc-keyed layout.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _span_rewrite(docs, _runs_persisted(spark, sf_dir))


def _spans_from_runs(runs: DataFrame) -> DataFrame:
    """Every ≥-threshold run as a removal interval in the id-later doc."""
    return runs.where(
        F.lit(_SUB_K) + F.col("run") - F.lit(1) >= F.lit(_SUB_MIN)
    ).select(
        F.col("doc_b").alias("doc_id"),
        (F.col("start_pa") - F.col("diag")).alias("s"),
        (
            F.col("start_pa")
            - F.col("diag")
            + (F.lit(_SUB_K) + F.col("run") - F.lit(1))
            - F.lit(1)
        ).alias("e"),
    )


def _span_rewrite(docs: DataFrame, runs: DataFrame) -> DataFrame:
    """runs → spans → merged intervals → rebuilt corpus: the full
    surgery over any (doc_id, text) frame — q231 uses it on the original
    corpus, q237 applies it AGAIN to the pass-1 output."""
    merged = _merged_removal_intervals(_spans_from_runs(runs))
    return _rewrite_with_intervals(docs, merged)


# Pass-1 rebuilt corpus and its pass-2 anchor-run table, memoized per
# (session, corpus) — q235, q237, and q240 all audit the SAME rebuilt
# snapshot; before round 9 each independently re-ran the rewrite AND the
# second detector pass (~9s apiece at sf0.1). Like the trigram/pair/
# cluster/runs memos this is the production materialization boundary:
# the rewrite is written once per corpus snapshot, every audit reads it.
_REBUILT1_CACHE: dict[tuple, DataFrame] = {}
_RUNS2_CACHE: dict[tuple, DataFrame] = {}


def _rebuilt1_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q231's output (doc_id, text, removed_chars) with cleaned_text
    already renamed for pass-2 consumption."""
    from pyspark.storagelevel import StorageLevel

    from spark_state_provider_spark.dfcache import get_or_build

    # repartition before persisting: the rewrite join inherits the
    # documents scan's partitioning (ONE single-row-group parquet file =
    # one partition at bench scale), so without this every pass-2
    # consumer — above all memo:runs2's anchor explode, the widest
    # narrow stage of the whole audit family — ran single-core off the
    # cached blocks (the same 1-task floor _substring_runs already fixes
    # for the original corpus). Hash on doc_id: deterministic, and the
    # audit consumers all join/aggregate by doc_id anyway.
    return get_or_build(
        _REBUILT1_CACHE,
        spark,
        ("rebuilt1", sf_dir),
        lambda: q231_span_removal_rewrite(spark, sf_dir)
        .select(
            "doc_id",
            F.col("cleaned_text").alias("text"),
            "removed_chars",
        )
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK),
    )


def _runs2_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr run table over the pass-1-rebuilt corpus."""
    from pyspark.storagelevel import StorageLevel

    from spark_state_provider_spark.dfcache import get_or_build

    return get_or_build(
        _RUNS2_CACHE,
        spark,
        ("runs2", sf_dir),
        lambda: _runs_for_docs(
            _rebuilt1_persisted(spark, sf_dir).select("doc_id", "text")
        ).persist(StorageLevel.MEMORY_AND_DISK),
    )


# ---------------------------------------------------------------------------
# q235 — post-rewrite residual audit: run the ExactSubstr detector over
# q231's REBUILT corpus and report what survives. Span removal is not
# idempotent in general — cutting X+S+Y down to X+Y can create a brand-new
# duplicate against a doc that was already X+Y (Lee et al. 2022 run
# ExactSubstr iteratively for exactly this reason) — so the audit is the
# pipeline step that decides whether another pass is needed.
# ---------------------------------------------------------------------------


def _register_q235() -> None:
    # _REGISTRY_ORACLE raises KeyError if q231 has not registered yet, so
    # registration order is enforced by the lookup itself (round-8 ADVICE:
    # the old `q231_span_removal_rewrite and ...` guard was a no-op).
    rewrite_sql = _REGISTRY_ORACLE("q231_span_removal_rewrite")

    @register(
        "q235_rewrite_residual_audit",
        oracle=f"""
        WITH rc AS (
            SELECT doc_id, cleaned_text AS text FROM ({rewrite_sql})
        ),
        g2 AS (
            SELECT doc_id, i, substr(text, i, {_SUB_K}) AS gram
            FROM rc,
                 unnest(generate_series(1, length(text) - {_SUB_K - 1}))
                     AS t(i)
            WHERE length(text) >= {_SUB_K}
        ),
        df2 AS (
            SELECT gram, count(DISTINCT doc_id) AS df
            FROM g2 GROUP BY gram
        ),
        gk2 AS (
            SELECT g2.* FROM g2 JOIN df2 USING (gram)
            WHERE df2.df <= {_SUB_DF_CAP}
        ),
        m2 AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.i AS pa, a.i - b.i AS diag
            FROM gk2 a JOIN gk2 b USING (gram)
            WHERE a.doc_id < b.doc_id
        ),
        isl3 AS (
            SELECT doc_a, doc_b, diag, pa,
                   pa - row_number() OVER (
                       PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
            FROM m2
        ),
        runs2 AS (
            SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS run
            FROM isl3 GROUP BY doc_a, doc_b, diag, grp
        ),
        resid AS (
            SELECT doc_a, doc_b,
                   CAST({_SUB_K} + max(run) - 1 AS BIGINT) AS lcs_len
            FROM runs2 GROUP BY doc_a, doc_b
            HAVING {_SUB_K} + max(run) - 1 >= {_SUB_MIN}
        )
        SELECT CAST(count(*) AS BIGINT) AS n_residual_pairs,
               CAST(COALESCE(max(lcs_len), 0) AS BIGINT)
                   AS max_residual_lcs,
               CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_needing_pass2
        FROM resid
        """,
        families=("text", "multibyte", "bench"),
    )
    def q235_rewrite_residual_audit(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """One-row audit of the deduplicated corpus: how many doc pairs
        STILL share an exact substring of ≥ {_SUB_MIN} chars after
        q231's rewrite, the longest such residue, and how many docs a
        second pass would touch. Nonzero is legitimate — cutting a span
        can concatenate its flanks into a new duplicate (why ExactSubstr
        is run iteratively); the audit is the convergence check.

        Scale shape: exactly q231's detector plan replayed over the
        rebuilt frame (one gram groupBy that is both the df cap and the
        pair expansion, fold-based runs) — auditing costs one more pass
        of the same shape, nothing new; the final rollup is a one-row
        global aggregate.
        """
        runs = _runs2_persisted(spark, sf_dir)
        resid = (
            runs.groupBy("doc_a", "doc_b")
            .agg(
                (F.lit(_SUB_K) + F.max("run") - F.lit(1))
                .cast("long")
                .alias("lcs_len")
            )
            .where(F.col("lcs_len") >= _SUB_MIN)
        )
        return resid.agg(
            F.count("*").cast("long").alias("n_residual_pairs"),
            F.coalesce(F.max("lcs_len"), F.lit(0))
            .cast("long")
            .alias("max_residual_lcs"),
            F.count_distinct("doc_b")
            .cast("long")
            .alias("n_docs_needing_pass2"),
        )


def _REGISTRY_ORACLE(name: str) -> str:
    from spark_state_provider_spark.operators.registry import _REGISTRY

    return _REGISTRY[name].oracle


_register_q235()


# ---------------------------------------------------------------------------
# q237 — iterative span removal, pass 2: ExactSubstr as Lee et al. 2022
# actually run it. q235 proved the rewrite can MANUFACTURE new duplicates
# (cutting X+S+Y to X+Y may equal an existing X+Y); the remedy is another
# pass over the rebuilt corpus. q237 emits the corpus after TWO passes
# with per-pass removal accounting — the convergence step q235's audit
# asks for.
# ---------------------------------------------------------------------------


def _span_chain_sql(src: str, sfx: str) -> str:
    """The full anchor → df-cap → matches → runs → spans → merged →
    rebuilt/removed CTE chain over relation ``src``, every CTE name
    suffixed with ``sfx`` so TWO passes compose inside one WITH (CTE
    names cannot shadow across nesting levels in the pass-2 oracle)."""
    return f"""
    g{sfx} AS (
        SELECT doc_id, i, substr(text, i, {_SUB_K}) AS gram
        FROM {src},
             unnest(generate_series(1, length(text) - {_SUB_K - 1})) AS t(i)
        WHERE length(text) >= {_SUB_K}
    ),
    df{sfx} AS (
        SELECT gram, count(DISTINCT doc_id) AS df
        FROM g{sfx} GROUP BY gram
    ),
    gk{sfx} AS (
        SELECT g{sfx}.* FROM g{sfx} JOIN df{sfx} USING (gram)
        WHERE df{sfx}.df <= {_SUB_DF_CAP}
    ),
    m{sfx} AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.i AS pa, a.i - b.i AS diag
        FROM gk{sfx} a JOIN gk{sfx} b USING (gram)
        WHERE a.doc_id < b.doc_id
    ),
    isl{sfx} AS (
        SELECT doc_a, doc_b, diag, pa,
               pa - row_number() OVER (
                   PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
        FROM m{sfx}
    ),
    spans{sfx} AS (
        SELECT doc_b AS doc_id,
               min(pa) - diag AS s,
               min(pa) - diag + ({_SUB_K} + count(*) - 1) - 1 AS e
        FROM isl{sfx} GROUP BY doc_a, doc_b, diag, grp
        HAVING {_SUB_K} + count(*) - 1 >= {_SUB_MIN}
    ),
    ordd{sfx} AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max
        FROM (SELECT DISTINCT doc_id, s, e FROM spans{sfx})
    ),
    isl2{sfx} AS (
        SELECT doc_id, s, e,
               sum(CASE WHEN prev_max IS NULL OR s > prev_max + 1
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s, e) AS island
        FROM ordd{sfx}
    ),
    merged{sfx} AS (
        SELECT doc_id, island, min(s) AS s, max(e) AS e
        FROM isl2{sfx} GROUP BY doc_id, island
    ),
    pieces{sfx} AS (
        SELECT doc_id, COALESCE(prev_e, 0) + 1 AS ps, s - 1 AS pe
        FROM (SELECT doc_id, s, e,
                     lag(e) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e
              FROM merged{sfx})
        UNION ALL
        SELECT doc_id, max(e) + 1 AS ps, NULL AS pe
        FROM merged{sfx} GROUP BY doc_id
    ),
    rebuilt{sfx} AS (
        SELECT d.doc_id,
               string_agg(
                   CASE WHEN p.pe IS NULL THEN substr(d.text, p.ps)
                        ELSE substr(d.text, p.ps, p.pe - p.ps + 1) END,
                   '' ORDER BY p.ps) AS cleaned_text
        FROM {src} d JOIN pieces{sfx} p USING (doc_id)
        GROUP BY d.doc_id
    ),
    removed{sfx} AS (
        SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS removed_chars
        FROM merged{sfx} GROUP BY doc_id
    )"""


def _register_q237() -> None:
    @register(
        "q237_iterative_span_removal",
        oracle=f"""
        WITH {_span_chain_sql("documents", "_p1")},
        rc1 AS (
            SELECT d.doc_id,
                   COALESCE(r.cleaned_text, d.text) AS text,
                   COALESCE(rm.removed_chars, CAST(0 AS BIGINT)) AS rem1
            FROM documents d
            LEFT JOIN rebuilt_p1 r USING (doc_id)
            LEFT JOIN removed_p1 rm USING (doc_id)
        ),
        {_span_chain_sql("rc1", "_p2")}
        SELECT rc1.doc_id,
               COALESCE(r2.cleaned_text, rc1.text) AS cleaned_text,
               CAST(rc1.rem1 AS BIGINT) AS removed_pass1,
               COALESCE(rm2.removed_chars, CAST(0 AS BIGINT))
                   AS removed_pass2
        FROM rc1
        LEFT JOIN rebuilt_p2 r2 USING (doc_id)
        LEFT JOIN removed_p2 rm2 USING (doc_id)
        """,
        families=("text", "multibyte", "bench"),
    )
    def q237_iterative_span_removal(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The corpus after TWO ExactSubstr passes — pass 2 removes the
        duplicates pass 1 can manufacture (q235's finding) — with
        per-pass removal accounting: (doc_id, cleaned_text,
        removed_pass1, removed_pass2). Untouched docs pass through
        (NULL text stays NULL); removed_pass2 > 0 marks exactly the
        docs the q235 audit flags.

        Scale shape: pass 1 rides the memoized anchor-run frame; pass 2
        is one more detector pass of the identical plan over the rebuilt
        frame (the q235 cost class). At 100 TB this is how the paper's
        pipeline actually runs — detector and surgery alternate until
        the residual audit reads zero, each pass the same bounded
        shuffles; nothing about iteration changes the per-pass shape.
        """
        rc1 = _rebuilt1_persisted(spark, sf_dir).select(
            "doc_id",
            "text",
            F.col("removed_chars").alias("removed_pass1"),
        )
        p2 = _span_rewrite(
            rc1.select("doc_id", "text"),
            _runs2_persisted(spark, sf_dir),
        )
        return p2.join(
            rc1.select("doc_id", "removed_pass1"), "doc_id"
        ).select(
            "doc_id",
            "cleaned_text",
            F.col("removed_pass1").cast("long").alias("removed_pass1"),
            F.col("removed_chars").cast("long").alias("removed_pass2"),
        )


_register_q237()


# ---------------------------------------------------------------------------
# q240 — span-removal provenance (round-9 verdict #6c): the WHY behind
# every cut. Each removal span as a first-class queryable row —
# (doc_id, partner, s, e, pass_no): which earlier doc caused the cut,
# where, and in which surgery pass (pass 2 coordinates are in the
# pass-1-rebuilt text, as production provenance would record). Spans are
# PRE-merge: one row per (partner, diagonal run), so audits can ask "which
# partner contributed most removals" — information the merged intervals
# (q231) deliberately collapse.
# ---------------------------------------------------------------------------


def _provenance_from_runs(runs: DataFrame, pass_no: int) -> DataFrame:
    """Reportable runs → provenance rows with the causing partner kept."""
    return (
        runs.where(F.lit(_SUB_K) + F.col("run") - F.lit(1) >= F.lit(_SUB_MIN))
        .select(
            F.col("doc_b").cast("long").alias("doc_id"),
            F.col("doc_a").cast("long").alias("partner"),
            (F.col("start_pa") - F.col("diag")).cast("long").alias("s"),
            (
                F.col("start_pa")
                - F.col("diag")
                + (F.lit(_SUB_K) + F.col("run") - F.lit(1))
                - F.lit(1)
            ).cast("long").alias("e"),
        )
        .distinct()
        .withColumn("pass_no", F.lit(pass_no).cast("int"))
    )


def _register_q240() -> None:
    def _prov_sql(sfx: str, pass_no: int) -> str:
        return f"""
        SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(partner AS BIGINT) AS partner,
               CAST(s AS BIGINT) AS s, CAST(e AS BIGINT) AS e,
               CAST({pass_no} AS INT) AS pass_no
        FROM (
            SELECT doc_b AS doc_id, doc_a AS partner,
                   min(pa) - diag AS s,
                   min(pa) - diag + ({_SUB_K} + count(*) - 1) - 1 AS e
            FROM isl{sfx} GROUP BY doc_a, doc_b, diag, grp
            HAVING {_SUB_K} + count(*) - 1 >= {_SUB_MIN}
        )"""

    @register(
        "q240_span_removal_provenance",
        oracle=f"""
        WITH {_span_chain_sql("documents", "_p1")},
        rc1 AS (
            SELECT d.doc_id, COALESCE(r.cleaned_text, d.text) AS text
            FROM documents d
            LEFT JOIN rebuilt_p1 r USING (doc_id)
        ),
        {_span_chain_sql("rc1", "_p2")}
        {_prov_sql("_p1", 1)}
        UNION ALL
        {_prov_sql("_p2", 2)}
        """,
        families=("text", "multibyte", "bench"),
    )
    def q240_span_removal_provenance(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Every ExactSubstr removal span with its causing partner and
        surgery pass: (doc_id, partner, s, e, pass_no). Pass 1 spans are
        in original-text coordinates, pass 2 (the q237 iteration) in
        pass-1-rebuilt coordinates — exactly what a production provenance
        ledger records so a removal can be traced to the duplicate that
        triggered it.

        Scale shape: pass 1 is a projection of the memoized anchor-run
        frame (zero new shuffles beyond its build); pass 2 re-runs the
        identical detector over the rebuilt frame (q235/q237's cost
        class). The distinct() dedupes per-(pair, diag) rows — bounded
        by the run table itself, never corpus².
        """
        return _provenance_from_runs(
            _runs_persisted(spark, sf_dir), 1
        ).unionAll(
            _provenance_from_runs(_runs2_persisted(spark, sf_dir), 2)
        )


_register_q240()


# ---------------------------------------------------------------------------
# q243 — per-partner dedup attribution: the question q240's docstring
# promises an answer to — "which partner contributed most removals".
# Grouped over the pre-merge provenance spans so attribution is per
# causing doc; chars_attributed is per-span (overlapping spans from
# different partners each claim their span — NET removal is q231/q232's
# number, attribution is deliberately gross).
# ---------------------------------------------------------------------------


def _register_q243() -> None:
    prov_sql = _REGISTRY_ORACLE("q240_span_removal_provenance")

    @register(
        "q243_partner_attribution",
        oracle=f"""
        SELECT partner, pass_no,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_victim_docs,
               CAST(sum(e - s + 1) AS BIGINT) AS chars_attributed
        FROM ({prov_sql})
        GROUP BY partner, pass_no
        """,
        families=("text", "multibyte", "bench"),
    )
    def q243_partner_attribution(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Removal attribution per CAUSING doc and surgery pass:
        (partner, pass_no, n_spans, n_victim_docs, chars_attributed) —
        the boilerplate-source leaderboard (a template doc that seeds
        thousands of cuts shows up here first). Gross per-span
        attribution by design; net corpus shrinkage is q231/q232's
        accounting.

        Scale shape: one groupBy over q240's provenance rows, which ride
        the memoized pass-1/pass-2 run tables — no new detector pass,
        no corpus scan; the aggregate is combinable (count/sum +
        count_distinct on the bounded victim set).
        """
        prov = _provenance_from_runs(
            _runs_persisted(spark, sf_dir), 1
        ).unionAll(
            _provenance_from_runs(_runs2_persisted(spark, sf_dir), 2)
        )
        return prov.groupBy("partner", "pass_no").agg(
            F.count("*").cast("long").alias("n_spans"),
            F.count_distinct("doc_id").cast("long").alias("n_victim_docs"),
            F.sum(F.col("e") - F.col("s") + 1)
            .cast("long")
            .alias("chars_attributed"),
        )


_register_q243()
