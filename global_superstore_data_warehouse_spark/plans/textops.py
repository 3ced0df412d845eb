"""Text-analysis & deduplication queries over the ``documents`` table
(beyond-reference, training-data pipeline ops; BASELINE.json north
star). Every operator has a value-exact DuckDB oracle — md5 is the
shared hash primitive across engines.

Scale notes: all per-doc features are array expressions inside
whole-stage codegen (no UDFs, no shuffle); pair-generation operators
shuffle only on candidate keys (content hash, LSH band, (lang,
len-bucket) block), never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from global_superstore_data_warehouse_spark.catalog import load
from global_superstore_data_warehouse_spark.functions import text as T
from global_superstore_data_warehouse_spark.operators.dedup import dedup_exact
from global_superstore_data_warehouse_spark.operators.graph import connected_components
from global_superstore_data_warehouse_spark.operators.hints import (
    cpu_repartition,
    maybe_broadcast,
    spread_scan,
)
from global_superstore_data_warehouse_spark.operators.intervals import (
    interval_union_islands,
)

TOKS_SQL = "list_distinct(string_split_regex(trim(text), '\\s+'))"
ALL_TOKS_SQL = "string_split_regex(trim(text), '\\s+')"


def _hashed_sql(expr: str) -> str:
    """DuckDB twin of ``functions.text.hashed_set``: distinct 60-bit
    md5-prefix hashes of a string list, for primitive-typed set
    intersections in the verification CTEs."""
    return (
        f"list_distinct(list_transform({expr},"
        " w -> ('0x' || substr(md5(w), 1, 15))::BIGINT))"
    )


# --- token counting --------------------------------------------------

def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize in its OWN projection (see _shingles' note): every
    # toks reference below then reads a cheap attribute instead of
    # re-running the split
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        T.tokens("text").alias("toks"),
    )
    toks = F.col("toks")
    return tok.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        "n_chars_actual",
        T.total_token_chars(toks).alias("total_token_chars"),
    )


TOKEN_STATS_ORACLE = f"""
    SELECT doc_id,
           CAST(len({ALL_TOKS_SQL}) AS INTEGER) AS n_tokens,
           CAST(len({TOKS_SQL}) AS INTEGER) AS n_distinct,
           CAST(length(text) AS INTEGER) AS n_chars_actual,
           CAST(list_aggregate(list_transform({ALL_TOKS_SQL}, w -> length(w)), 'sum') AS INTEGER)
               AS total_token_chars
    FROM documents
"""


# --- quality scoring -------------------------------------------------

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features: distinct-token ratio, stopword
    ratio, mean token length, composite score."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", T.tokens("text").alias("toks"))
    toks = F.col("toks")
    n = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    n_stop = T.stopword_count(toks, T.EN_STOPWORDS).cast("double")
    distinct_ratio = F.round(n_distinct / n, 6)
    stop_ratio = F.round(n_stop / n, 6)
    mean_len = F.round(T.total_token_chars(toks).cast("double") / n, 6)
    score = F.round(
        0.5 * (n_distinct / n) + 0.3 * (1 - n_stop / n) + 0.2 * F.least(F.lit(1.0), n / 100.0),
        6,
    )
    return tok.select(
        "doc_id",
        distinct_ratio.alias("distinct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_len.alias("mean_token_len"),
        score.alias("quality_score"),
    )


_EN = ", ".join(f"'{w}'" for w in T.EN_STOPWORDS)

TEXT_QUALITY_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               {ALL_TOKS_SQL} AS toks,
               CAST(len({ALL_TOKS_SQL}) AS DOUBLE) AS n
        FROM documents
    )
    SELECT doc_id,
           ROUND(len(list_distinct(toks)) / n, 6) AS distinct_ratio,
           ROUND(len(list_filter(toks, w -> w IN ({_EN}))) / n, 6) AS stopword_ratio,
           ROUND(CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum') AS DOUBLE) / n, 6)
               AS mean_token_len,
           ROUND(0.5 * (len(list_distinct(toks)) / n)
                 + 0.3 * (1 - len(list_filter(toks, w -> w IN ({_EN}))) / n)
                 + 0.2 * least(1.0, n / 100.0), 6) AS quality_score
    FROM t
"""


# --- language-ID heuristic -------------------------------------------

def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID with a fixed precedence order
    (en > es > de on ties) — deterministic, and honest about being a
    heuristic: scores are returned alongside the prediction."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", T.tokens("text").alias("toks"))
    s = T.lang_scores(F.col("toks"))
    predicted = (
        F.when((s["es"] > s["en"]) & (s["es"] >= s["de"]), F.lit("es"))
        .when(s["de"] > s["en"], F.lit("de"))
        .otherwise(F.lit("en"))
    )
    return tok.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        s["en"].alias("score_en"),
        s["es"].alias("score_es"),
        s["de"].alias("score_de"),
        predicted.alias("predicted_lang"),
    )


_ES = ", ".join(f"'{w}'" for w in T.ES_STOPWORDS)
_DE = ", ".join(f"'{w}'" for w in T.DE_STOPWORDS)

LANG_ID_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, lang, {ALL_TOKS_SQL} AS toks FROM documents
    ), s AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(toks, w -> w IN ({_EN}))) AS INTEGER) AS score_en,
               CAST(len(list_filter(toks, w -> w IN ({_ES}))) AS INTEGER) AS score_es,
               CAST(len(list_filter(toks, w -> w IN ({_DE}))) AS INTEGER) AS score_de
        FROM t
    )
    SELECT doc_id, lang AS labeled_lang, score_en, score_es, score_de,
           CASE WHEN score_es > score_en AND score_es >= score_de THEN 'es'
                WHEN score_de > score_en THEN 'de'
                ELSE 'en' END AS predicted_lang
    FROM s
"""


# --- fingerprints ----------------------------------------------------

def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        T.bow_fingerprint("text").alias("bow_fingerprint"),
        T.min_token_hash("text").alias("min_token_hash"),
    )


DOC_FINGERPRINTS_ORACLE = f"""
    SELECT doc_id,
           md5(text) AS content_md5,
           md5(array_to_string(list_sort({TOKS_SQL}), ' ')) AS bow_fingerprint,
           list_min(list_transform({TOKS_SQL}, w -> md5(w))) AS min_token_hash
    FROM documents
"""


# --- exact dedup -----------------------------------------------------

def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup_exact(docs, on="text", id_col="doc_id")


DEDUP_EXACT_DOCS_ORACLE = """
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS copies
    FROM documents GROUP BY md5(text)
"""


# --- MinHash constants (shared by the whole near-dup family) ---------

NUM_HASHES = 8
ROWS_PER_BAND = 4


def _sig_sql_from(hashed_expr: str) -> str:
    """DuckDB SQL for the 8-seed MinHash signature of a PRE-HASHED
    60-bit token-hash list (``_hashed_sql`` output) — min of XOR
    mixes, the exact twin of ``functions.text.minhash_signature``
    (same inlined seed constants)."""
    seeds = T.minhash_seeds(NUM_HASHES)
    return ",\n               ".join(
        f"list_min(list_transform({hashed_expr}, h -> xor(h, {seeds[i]})))"
        f" AS mh{i}"
        for i in range(NUM_HASHES)
    )


def _sig_sql() -> str:
    return _sig_sql_from("tokh")


# --- bounded-block candidate generation ------------------------------

LEN_BUCKET = 64
NGRAM_BANDS = 8  # 8 bands x 1 row over the 8-hash signature


def _blocked_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Bounded-block candidate pairs for the 0.3-Jaccard family:
    same ``lang``, same 64-char length bucket, and >=1 collision
    among 8 one-row MinHash bands. Unlike an exact ``(lang,
    n_chars)`` block, every block component is bounded at 100 TB —
    the LSH bucket keeps block populations small regardless of how
    many documents share a language/length, and the length bucket
    gives recall across small edits that change the char count.

    Recall math (b bands of r rows: P[candidate] = 1-(1-j^r)^b):
    with 8 bands x 1 row, a true pair at the j=0.3 threshold is
    caught with probability 1-(1-0.3)^8 ≈ 94.2% (99.6% at j=0.5).
    The round-2 4x2 banding had only ~31% recall at 0.3 — 1-row
    bands trade a looser pre-filter (more candidates to verify) for
    near-complete recall at the family's own threshold. The oracle
    applies the identical banding, so parity checks the same set.

    Plan: the 8-seed signature is materialized ONCE with an eager
    ``localCheckpoint`` (narrow rows: ids + block keys + 8 longs),
    then exploded to (band_id, bucket) rows for a SINGLE bucket
    self-join + pair dedup — token arrays never ride the shuffle,
    and the expensive tokenize+8xmd5 lineage is never recomputed
    per join branch (the round-2 union-of-branches plan recomputed
    it ~8x and regressed the bench 3.4x).
    """
    # explicit repartition before the checkpoint: AQE coalesces
    # shuffles by BYTES, and minhash rows are tiny relative to their
    # CPU cost (an md5 per token + 8 mixes) — without this the checkpoint
    # freezes a 1-partition layout and every downstream join runs
    # single-threaded. Hash-spread by doc_id is also the layout the
    # signature scan wants at 100 TB.
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    # tokenize+hash ONCE in a standalone projection: minhash_signature
    # references the array 8x (one transform per seed), and inlined
    # that would re-split and re-md5 the document 8x per row (see
    # _shingles); the signature mixes the 60-bit hashes, never the
    # token strings
    base = docs.repartition(n_part, "doc_id").select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / F.lit(LEN_BUCKET)).cast("int").alias("len_b"),
        T.hashed_set(T.tokens("text")).alias("toks"),
    )
    sig = base.select(
        "doc_id",
        "lang",
        "len_b",
        *T.minhash_signature(F.col("toks"), NUM_HASHES),
    ).localCheckpoint(eager=True)
    exploded = sig.select(
        "doc_id",
        "lang",
        "len_b",
        F.posexplode(
            F.array(*[F.col(f"mh{i}") for i in range(NUM_HASHES)])
        ).alias("band_id", "bucket"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_b") == F.col("b.len_b"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )


# --- n-gram Jaccard near-dup -----------------------------------------

def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by token-set Jaccard, with 3-gram-shingle
    Jaccard reported alongside. Candidate generation uses the bounded
    block key (lang, length-bucket, 8x1 MinHash band) of
    ``_blocked_candidate_pairs`` — never all-pairs, never an
    unbounded exact-length block — then re-attaches token/shingle
    payloads once per distinct candidate pair. Recall at the j=0.3
    threshold is 1-(1-0.3)^8 ≈ 94.2% (see the block docstring); the
    oracle applies the identical banding so parity is exact over the
    same candidate set.
    """
    docs = load(spark, sf_dir, "documents")
    cand = _blocked_candidate_pairs(docs)
    # standalone tokenize projection: _shingles references the array
    # per gram position, which inlined would re-split per element.
    # spread the payload scan — tokenize + shingle + md5 otherwise
    # run in the single scan split (guide §2.5; no-op at scale)
    base = spread_scan(docs, sf_dir, "documents", by="doc_id").select(
        "doc_id", T.tokens("text").alias("t0")
    )
    payload = base.select(
        "doc_id",
        T.hashed_set(F.col("t0")).alias("toks"),
        T.hashed_set(_shingles(F.col("t0"), 3)).alias("sh3"),
    )
    pa, pb = payload.alias("pa"), payload.alias("pb")
    # pin the verify stage's width (same AQE byte-coalesce hazard as
    # _verified_cluster_pairs — the shingle intersections are CPU)
    joined = cpu_repartition(cand, "doc_id_a").join(
        pa, F.col("doc_id_a") == F.col("pa.doc_id")
    ).join(pb, F.col("doc_id_b") == F.col("pb.doc_id"))
    j1 = T.jaccard(F.col("pa.toks"), F.col("pb.toks"))
    # compute the cheap token-Jaccard first and FILTER before the
    # 3-gram-shingle Jaccard: most candidates fail the 0.3 threshold,
    # so the expensive shingle intersection runs only for survivors
    # (the Filter between the two projections stops Catalyst from
    # collapsing them into one compute-everything pass)
    scored = joined.select(
        "doc_id_a",
        "doc_id_b",
        F.round(j1, 6).alias("jaccard_tokens"),
        F.col("pa.sh3").alias("sh3_a"),
        F.col("pb.sh3").alias("sh3_b"),
    ).filter(F.col("jaccard_tokens") >= 0.3)
    j3 = T.jaccard(F.col("sh3_a"), F.col("sh3_b"))
    return scored.select(
        "doc_id_a",
        "doc_id_b",
        "jaccard_tokens",
        F.when(
            F.size(F.col("sh3_a")) + F.size(F.col("sh3_b")) > 0, F.round(j3, 6)
        ).alias("jaccard_shingles3"),
    )


def _shingles(toks: Column, n: int) -> Column:
    """Distinct n-gram shingles of a token array (empty when the doc
    has fewer than n tokens).

    PASS A MATERIALIZED COLUMN, not an inline ``split(...)``
    expression: the lambda body references ``toks`` at every gram
    position, and codegen subexpression elimination does not reach
    inside LambdaFunction bodies — an inlined tokenizer would re-split
    the document once per element (O(N^2) retokenization; measured
    11.2 s vs 0.7 s on the 5-gram decontamination explode at sf0.1).
    Projecting the token array in its OWN ``select`` suffices:
    CollapseProject declines to inline a non-cheap expression that is
    referenced more than once (collapseProjectAlwaysInline=false, the
    Spark default), so the array stays a per-row attribute."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + k) for k in range(n)]
    )
    return F.when(
        F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))
    ).otherwise(F.array().cast("array<string>"))


SHINGLES3_SQL = (
    "list_distinct(CASE WHEN len(t) >= 3 THEN "
    "list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) "
    "ELSE [] END)"
)

# >=1 of the 8 one-row bands collides == any per-seed min-hash matches
_BAND_OR_SQL = " OR ".join(f"a.mh{i} = b.mh{i}" for i in range(NUM_HASHES))


NGRAM_JACCARD_PAIRS_ORACLE = f"""
    WITH raw AS (
        SELECT doc_id, lang, n_chars, {ALL_TOKS_SQL} AS t FROM documents
    ), d AS (
        SELECT doc_id, lang,
               CAST(FLOOR(n_chars / {LEN_BUCKET}.0) AS INTEGER) AS len_b,
               {_hashed_sql('t')} AS toks,
               {_hashed_sql(SHINGLES3_SQL)} AS sh3,
               {_sig_sql_from(_hashed_sql('t'))}
        FROM raw
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           ROUND(len(list_intersect(a.toks, b.toks)) * 1.0
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6)
               AS jaccard_tokens,
           ROUND(CASE WHEN len(a.sh3) + len(b.sh3) = 0 THEN NULL
                 ELSE len(list_intersect(a.sh3, b.sh3)) * 1.0
                      / (len(a.sh3) + len(b.sh3) - len(list_intersect(a.sh3, b.sh3))) END, 6)
               AS jaccard_shingles3
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.len_b = b.len_b AND a.doc_id < b.doc_id
     AND ({_BAND_OR_SQL})
    WHERE len(list_intersect(a.toks, b.toks)) * 1.0
          / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.3
"""


# --- MinHash + LSH dedup ---------------------------------------------

def _bow_classes(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Collapse documents into Jaccard-equivalence classes keyed by
    the bag-of-words fingerprint (md5 of sorted distinct tokens).
    Two docs with the same distinct-token set have identical MinHash
    signatures, identical LSH buckets, and Jaccard 1.0 with each
    other — so near-dup search only ever needs ONE representative
    per class. This is the scale fix the round-1 verdict asked for:
    duplicate-heavy corpora make the bucket self-join O(c²) per
    duplicate cluster; collapsing first makes it O(r²) over class
    representatives (the sf0.1 corpus has a 248-member class that
    otherwise lands 248 identical rows in every one of its buckets).

    Returns ``(member, classes)``: membership (cls, doc_id) and one
    exemplar row (cls, rep, text) per class. The groupBy doubles as
    the parallelism spreader — exemplar tokenization and signature
    hashing run distributed across shuffle partitions even when the
    input scan is a single small file.
    """
    cls = T.bow_fingerprint("text")
    member = docs.select(cls.alias("cls"), "doc_id")
    classes = (
        docs.select(cls.alias("cls"), "doc_id", "text")
        .groupBy("cls")
        .agg(F.min("doc_id").alias("rep"), F.min_by("text", "doc_id").alias("text"))
    )
    return member, classes


def _class_band_candidates(banded: DataFrame, n_bands: int) -> DataFrame:
    """Distinct candidate class pairs from banded signatures without
    a pair-level shuffle: band *i* contributes a pair only when no
    earlier band matched (first-matching-band-wins)."""
    a, b = banded.alias("a"), banded.alias("b")
    out = None
    for i in range(n_bands):
        cond = (F.col(f"a.band{i}") == F.col(f"b.band{i}")) & (
            F.col("a.rep") < F.col("b.rep")
        )
        for k in range(i):
            cond = cond & (F.col(f"a.band{k}") != F.col(f"b.band{k}"))
        pairs = a.join(b, cond).select(
            F.col("a.cls").alias("cls_a"), F.col("b.cls").alias("cls_b")
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out


def _lsh_verified_doc_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-LSH near-dup pairs verified at Jaccard >= 0.5, the
    100 TB-shaped plan: bag-of-words class collapse → signatures (8
    md5 min-hashes) over one exemplar per class → 2 bands →
    self-join per band on the bucket (never an OR-join, never
    all-pairs, narrow rows only) → ONE true-Jaccard verification per
    class pair → expand back to doc pairs through the membership
    table. Intra-class pairs are emitted directly with Jaccard 1.0
    (identical token sets collide in every band by construction, so
    this matches the uncollapsed semantics exactly).

    ``sig`` and ``member`` are materialized eagerly with
    ``localCheckpoint`` because the plan fans out over them (2 band
    branches x 2 join sides + 2 token re-attaches + 4 membership
    refs): without the checkpoint each branch independently
    recomputes the tokenize+8xmd5 signature lineage — the exact
    cause of round 2's 3.4x bench regression on this query. Rows
    are narrow (one exemplar per class / id+fingerprint), so the
    checkpoint footprint is bounded at 100 TB.
    """
    member, classes = _bow_classes(docs)
    # repartition before the checkpoint: AQE coalesces the class
    # groupBy's shuffle by BYTES (a few MB of fingerprints → 1
    # partition), which would freeze a serial layout under the
    # CPU-heavy signature + verification stages. Hash-spread by cls
    # keeps every downstream self-join 32-way here and N-way on a
    # cluster.
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    # tokenize+hash ONCE in a standalone projection (9 downstream
    # references: verification set + 8 minhash mixes — see _shingles);
    # the hashed longs serve BOTH the signature (XOR mixes) and the
    # verification intersections (primitive-long array_intersect)
    base = classes.repartition(n_part, "cls").select(
        "cls",
        "rep",
        T.hashed_set(T.tokens("text")).alias("t0"),
    )
    # the membership and signature checkpoints are independent (both
    # derive from the scan, neither from the other) — materialize
    # them in two driver threads (guide §2.6, operators/par.py):
    # same two jobs, overlapped wall clock
    from global_superstore_data_warehouse_spark.operators.par import (
        build_concurrently,
    )

    member, sig = build_concurrently(
        lambda: member.localCheckpoint(eager=True),
        lambda: base.select(
            "cls",
            "rep",
            F.col("t0").alias("toks"),
            *T.minhash_signature(F.col("t0"), NUM_HASHES),
        ).localCheckpoint(eager=True),
    )
    n_bands = NUM_HASHES // ROWS_PER_BAND
    banded = sig.select(
        "cls",
        "rep",
        *T.lsh_bands([f"mh{i}" for i in range(NUM_HASHES)], ROWS_PER_BAND),
    )
    cand = _class_band_candidates(banded, n_bands)
    tok_tbl = sig.select("cls", "toks")
    ta, tb = tok_tbl.alias("ta"), tok_tbl.alias("tb")
    j = T.jaccard(F.col("ta.toks"), F.col("tb.toks"))
    class_pairs = (
        cand.join(ta, F.col("cls_a") == F.col("ta.cls"))
        .join(tb, F.col("cls_b") == F.col("tb.cls"))
        .select("cls_a", "cls_b", F.round(j, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )
    ma, mb = member.alias("ma"), member.alias("mb")
    cross = (
        class_pairs.join(ma, F.col("cls_a") == F.col("ma.cls"))
        .join(mb, F.col("cls_b") == F.col("mb.cls"))
        .select(
            F.least(F.col("ma.doc_id"), F.col("mb.doc_id")).alias("doc_id_a"),
            F.greatest(F.col("ma.doc_id"), F.col("mb.doc_id")).alias("doc_id_b"),
            "jaccard",
        )
    )
    x, y = member.alias("x"), member.alias("y")
    intra = x.join(
        y, (F.col("x.cls") == F.col("y.cls")) & (F.col("x.doc_id") < F.col("y.doc_id"))
    ).select(
        F.col("x.doc_id").alias("doc_id_a"),
        F.col("y.doc_id").alias("doc_id_b"),
        F.lit(1.0).alias("jaccard"),
    )
    return cross.unionByName(intra)


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection over ``documents``; see
    ``_lsh_verified_doc_pairs`` for the class-collapsed plan.
    Output: verified pairs with jaccard >= 0.5."""
    # spread the single-split scan: the bow-fingerprint md5 feeding
    # the class collapse (and the member checkpoint) otherwise runs
    # single-task ahead of the plan's own repartition (guide §2.5)
    docs = spread_scan(
        load(spark, sf_dir, "documents"), sf_dir, "documents", by="doc_id"
    )
    return _lsh_verified_doc_pairs(docs)


MINHASH_LSH_CANDIDATES_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {TOKS_SQL} AS toks, {_hashed_sql(TOKS_SQL)} AS tokh
        FROM documents
    ), sig AS (
        SELECT doc_id, tokh,
               {_sig_sql()}
        FROM t
    ), banded AS (
        SELECT doc_id, tokh,
               md5(concat_ws('|', mh0, mh1, mh2, mh3)) AS band0,
               md5(concat_ws('|', mh4, mh5, mh6, mh7)) AS band1
        FROM sig
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM banded a JOIN banded b
          ON a.doc_id < b.doc_id AND (a.band0 = b.band0 OR a.band1 = b.band1)
    )
    SELECT c.doc_id_a, c.doc_id_b,
           ROUND(len(list_intersect(ta.tokh, tb.tokh)) * 1.0
                 / (len(ta.tokh) + len(tb.tokh) - len(list_intersect(ta.tokh, tb.tokh))), 6)
               AS jaccard
    FROM cand c
    JOIN t ta ON ta.doc_id = c.doc_id_a
    JOIN t tb ON tb.doc_id = c.doc_id_b
    WHERE len(list_intersect(ta.tokh, tb.tokh)) * 1.0
          / (len(ta.tokh) + len(tb.tokh) - len(list_intersect(ta.tokh, tb.tokh))) >= 0.5
"""


# --- SimHash ---------------------------------------------------------

SIMHASH_BITS = 16


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over distinct tokens: per-token 16-bit md5
    hash; each bit position accumulates +1/-1 across tokens; the
    sign vector is the fingerprint. Explode + conditional-sum
    groupBy — one shuffle on doc_id, fully codegen'd."""
    # spread the single-split scan: the explode + per-token md5 feed
    # the groupBy's MAP side, which otherwise runs in one task
    # (measured 2.0 s single-task at sf0.1; guide §2.5 — no-op once
    # the table splits on its own)
    docs = spread_scan(
        load(spark, sf_dir, "documents"), sf_dir, "documents", by="doc_id"
    )
    toks = F.array_distinct(T.tokens("text"))
    exploded = docs.select("doc_id", F.explode(toks).alias("w")).withColumn(
        "v", T.hex16_of_md5(F.col("w"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("v"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = exploded.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    return agg.select("doc_id", simhash.cast("int").alias("simhash"))


def _simhash_sql() -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (v >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {2**b} ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    return f"""
    WITH e AS (
        SELECT doc_id, ('0x' || substr(md5(w.w), 1, 4))::INTEGER AS v
        FROM documents, unnest({TOKS_SQL}) AS w(w)
    ), s AS (
        SELECT doc_id, {sums} FROM e GROUP BY doc_id
    )
    SELECT doc_id, CAST({combine} AS INTEGER) AS simhash FROM s
    """


SIMHASH_DOCS_ORACLE = _simhash_sql()


# --- near-dup clustering (connected components) ----------------------

CLUSTER_JACCARD = 0.3


def _verified_cluster_pairs(docs: DataFrame, sf_dir: str) -> DataFrame:
    """Shared near-dup edge builder for both clustering plans:
    blocked candidates → token-set Jaccard verify at
    CLUSTER_JACCARD → checkpointed (src, dst) pairs.

    Round-13 optimization (measured at sf0.1): the payload scan is
    SPREAD (tokenize + per-token md5 otherwise ran in the single
    scan split — guide §2.5) and the verify stage's width is PINNED
    with an explicit repartition — the candidate pairs arrive from
    the banded self-join's exchange, which AQE byte-coalescing had
    shrunk to 3 tasks holding ~32 s of set-intersection CPU (11 s
    wall); cpu_repartition is exempt from coalescing and scales
    with the session's shuffle setting."""
    cand = _blocked_candidate_pairs(docs)
    toks = T.hashed_set(T.tokens("text"))
    payload = spread_scan(docs, sf_dir, "documents", by="doc_id").select(
        "doc_id", toks.alias("toks")
    )
    pa, pb = payload.alias("pa"), payload.alias("pb")
    j1 = T.jaccard(F.col("pa.toks"), F.col("pb.toks"))
    return (
        cpu_repartition(cand, "doc_id_a")
        .join(pa, F.col("doc_id_a") == F.col("pa.doc_id"))
        .join(pb, F.col("doc_id_b") == F.col("pb.doc_id"))
        .filter(j1 >= CLUSTER_JACCARD)
        .select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
        .localCheckpoint()
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame: near-dup pairs → connected components →
    canonical document per cluster (min doc_id). Every document gets
    a cluster_id; docs with no near-dup are their own canonical.

    Components come from ``operators/graph.connected_components``
    (min-contraction over a hashed node order: O(log n) levels even
    on adversarial chains, and the edge set shrinks geometrically, so
    level 1 is the only pass over the full pair set). Only
    edge-incident nodes iterate; singleton docs (no candidate pair
    survived the Jaccard gate — the vast majority of a real corpus)
    bypass the loop and rejoin at the end as their own canonical.
    """
    docs = load(spark, sf_dir, "documents")
    pairs = _verified_cluster_pairs(docs, sf_dir)
    labeled = connected_components(pairs)
    pairs.unpersist()  # folded into the operator's edge checkpoint
    # singletons fused into ONE left join (round-14): `labeled` holds
    # exactly the edge-incident docs, so docs LEFT JOIN labeled +
    # coalesce is row-identical to an anti-join + union
    label = F.coalesce("component", F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(labeled.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            label.alias("cluster_id"),
            (label == F.col("doc_id")).alias("is_canonical"),
        )
    )


DEDUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE raw AS MATERIALIZED (
        SELECT doc_id, lang, n_chars, {ALL_TOKS_SQL} AS t FROM documents
    ), d AS MATERIALIZED (
        SELECT doc_id, lang,
               CAST(FLOOR(n_chars / {LEN_BUCKET}.0) AS INTEGER) AS len_b,
               {_hashed_sql('t')} AS toks,
               {_sig_sql_from(_hashed_sql('t'))}
        FROM raw
    ), pairs AS MATERIALIZED (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.len_b = b.len_b AND a.doc_id < b.doc_id
         AND ({_BAND_OR_SQL})
        WHERE len(list_intersect(a.toks, b.toks)) * 1.0
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
              >= {CLUSTER_JACCARD}
    ), sym AS MATERIALIZED (
        SELECT src, dst FROM pairs
        UNION ALL
        SELECT dst, src FROM pairs
    ), reach(n, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        -- hash-to-min prune (see DEDUP_BCUBED_AGREEMENT_ORACLE's
        -- sh_reach for the safety argument): labels only propagate
        -- to larger ids; MIN per node is unchanged on a symmetric
        -- edge set
        SELECT s.dst, r.r
        FROM reach r JOIN sym s ON s.src = r.n
        WHERE r.r < s.dst
    )
    SELECT n AS doc_id,
           MIN(r) AS cluster_id,
           (MIN(r) = n) AS is_canonical
    FROM reach
    GROUP BY n
"""


# --- cross-modal near-dup (text + embedding agreement) ---------------

COSINE_DUP_THRESHOLD = 0.4


def crossmodal_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone training-data dedup: MinHash-LSH candidate pairs
    verified by BOTH signals — token-set Jaccard AND embedding cosine
    (documents.doc_id ≡ embeddings.vec_id). A pair is a duplicate
    only when lexical and semantic evidence agree — filtering out
    template text that shares tokens but not meaning, and unrelated
    documents that happen to collide in an LSH bucket.

    Plan: class-collapsed LSH candidates with one Jaccard
    verification per class pair (``_lsh_verified_doc_pairs``) →
    per-pair re-attach of unit-normalized embeddings (embeddings are
    per-DOCUMENT, not per-class, so the cosine check genuinely runs
    at doc-pair grain) → one dot-fold per surviving pair.
    """
    from global_superstore_data_warehouse_spark.operators import similarity as S

    # spread both single-split scans (same rationale as
    # minhash_lsh_candidates / embedding_near_dup)
    docs = spread_scan(
        load(spark, sf_dir, "documents"), sf_dir, "documents", by="doc_id"
    )
    pairs = _lsh_verified_doc_pairs(docs)

    emb = spread_scan(
        load(spark, sf_dir, "embeddings"), sf_dir, "embeddings", by="vec_id"
    )
    emb_n = emb.select(
        "vec_id", S.norm(F.col("embedding")).alias("nrm"), "embedding"
    ).select("vec_id", S.normalize(F.col("embedding"), F.col("nrm")).alias("emb_n"))

    ea, eb = emb_n.alias("ea"), emb_n.alias("eb")
    verified = pairs.join(ea, F.col("doc_id_a") == F.col("ea.vec_id")).join(
        eb, F.col("doc_id_b") == F.col("eb.vec_id")
    )
    cos = F.round(S.dot(F.col("ea.emb_n"), F.col("eb.emb_n")), 6)
    return verified.select(
        "doc_id_a",
        "doc_id_b",
        "jaccard",
        cos.alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= COSINE_DUP_THRESHOLD)


def _crossmodal_oracle() -> str:
    from global_superstore_data_warehouse_spark.operators import similarity as S

    nd = S.ndot_sql("ea.embedding", "ea.nrm", "eb.embedding", "eb.nrm", 64)
    return f"""
    WITH t AS (
        SELECT doc_id, {TOKS_SQL} AS toks, {_hashed_sql(TOKS_SQL)} AS tokh
        FROM documents
    ), sig AS (
        SELECT doc_id, tokh,
               {_sig_sql()}
        FROM t
    ), banded AS (
        SELECT doc_id,
               md5(concat_ws('|', mh0, mh1, mh2, mh3)) AS band0,
               md5(concat_ws('|', mh4, mh5, mh6, mh7)) AS band1
        FROM sig
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM banded a JOIN banded b
          ON a.doc_id < b.doc_id AND (a.band0 = b.band0 OR a.band1 = b.band1)
    ), en AS (
        SELECT vec_id, embedding, {S.norm_sql('embedding', 64)} AS nrm FROM embeddings
    )
    SELECT c.doc_id_a, c.doc_id_b,
           ROUND(len(list_intersect(ta.tokh, tb.tokh)) * 1.0
                 / (len(ta.tokh) + len(tb.tokh) - len(list_intersect(ta.tokh, tb.tokh))), 6)
               AS jaccard,
           ROUND({nd}, 6) AS cosine_sim
    FROM cand c
    JOIN t ta ON ta.doc_id = c.doc_id_a
    JOIN t tb ON tb.doc_id = c.doc_id_b
    JOIN en ea ON ea.vec_id = c.doc_id_a
    JOIN en eb ON eb.vec_id = c.doc_id_b
    WHERE ROUND(len(list_intersect(ta.tokh, tb.tokh)) * 1.0
          / (len(ta.tokh) + len(tb.tokh) - len(list_intersect(ta.tokh, tb.tokh))), 6) >= 0.5
      AND ROUND({nd}, 6) >= {COSINE_DUP_THRESHOLD}
"""


CROSSMODAL_NEAR_DUP_ORACLE = _crossmodal_oracle()


# --- incremental dedup (new batch vs established corpus) -------------

NEW_BATCH_MOD = 10  # doc_id % 10 == 0 -> the incoming "crawl batch"


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of an incoming batch against an ESTABLISHED
    corpus — the shape a production training pipeline actually runs
    per crawl: re-clustering the whole corpus per batch is O(corpus)
    every day, while this is O(batch) plus index probes.

    Split (deterministic, so the driver can hash-check): doc_id %
    NEW_BATCH_MOD == 0 is the incoming batch; the rest is the corpus.
    Stage 1 (exact): the batch's md5 content fingerprints probe the
    corpus fingerprint set. Stage 2 (near): the batch's MinHash band
    buckets probe the corpus's banded signature index within the
    (lang, length-bucket) block — the same bounded block as
    ``_blocked_candidate_pairs`` — and candidates are verified by
    hashed-token Jaccard >= CLUSTER_JACCARD. Verdict per batch doc:
    'exact_dup' > 'near_dup' > 'new', with the matched corpus doc
    (min doc_id among matches, NULL for new).

    At 100 TB the corpus side is a PERSISTED index — fingerprints and
    (band, bucket) keys bucketed on disk (sources/bucketed.py), so a
    daily batch join is shuffle-free on the corpus side and the
    corpus text is never re-read; here both sides derive from the
    same static table so the result is oracle-checkable. Both probes
    shuffle only batch-sized or hit-sized rows; signatures ride one
    eager checkpoint exactly like ``minhash_lsh_candidates``."""
    docs = load(spark, sf_dir, "documents")
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    # tokenize ONCE in a standalone projection (see _shingles)
    base = docs.repartition(n_part, "doc_id").select(
        "doc_id",
        (F.col("doc_id") % NEW_BATCH_MOD == 0).alias("is_new"),
        "lang",
        F.floor(F.col("n_chars") / F.lit(LEN_BUCKET)).cast("int").alias("len_b"),
        F.md5("text").alias("fp"),
        T.hashed_set(T.tokens("text")).alias("t0"),
    )
    sig = base.select(
        "doc_id",
        "is_new",
        "lang",
        "len_b",
        "fp",
        F.col("t0").alias("toks"),
        *T.minhash_signature(F.col("t0"), NUM_HASHES),
    ).localCheckpoint(eager=True)
    batch = sig.filter("is_new")
    corpus = sig.filter(~F.col("is_new"))

    # stage 1: exact fingerprint probe
    exact = (
        batch.select("doc_id", "fp")
        .join(corpus.select("fp", F.col("doc_id").alias("c_id")), "fp")
        .groupBy("doc_id")
        .agg(F.min("c_id").alias("exact_match"))
    )

    # stage 2: banded signature index probe (block-bounded, per-band
    # equi-join — never an OR-join, never batch x corpus)
    def _bands(df: DataFrame, id_alias: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(id_alias),
            "lang",
            "len_b",
            F.posexplode(
                F.array(*[F.col(f"mh{i}") for i in range(NUM_HASHES)])
            ).alias("band_id", "bucket"),
        )

    cand = (
        _bands(batch, "b_id")
        .join(_bands(corpus, "c_id"), ["lang", "len_b", "band_id", "bucket"])
        .select("b_id", "c_id")
        .dropDuplicates()
    )
    bt = batch.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks"))
    ct = corpus.select(F.col("doc_id").alias("c_id"), F.col("toks").alias("c_toks"))
    near = (
        cand.join(bt, "b_id")
        .join(ct, "c_id")
        .filter(T.jaccard(F.col("b_toks"), F.col("c_toks")) >= CLUSTER_JACCARD)
        .groupBy("b_id")
        .agg(F.min("c_id").alias("near_match"))
        .withColumnRenamed("b_id", "doc_id")
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce("exact_match", "near_match").alias("matched_doc_id"),
        )
    )


_BC_BAND_OR_SQL = " OR ".join(f"b.mh{i} = c.mh{i}" for i in range(NUM_HASHES))

DEDUP_INCREMENTAL_ORACLE = f"""
    WITH raw AS (
        SELECT doc_id, (doc_id % {NEW_BATCH_MOD} = 0) AS is_new, lang,
               n_chars, text, list_distinct({ALL_TOKS_SQL}) AS t
        FROM documents
    ), d AS (
        SELECT doc_id, is_new, lang,
               CAST(FLOOR(n_chars / {LEN_BUCKET}.0) AS INTEGER) AS len_b,
               md5(text) AS fp,
               {_hashed_sql('t')} AS toks,
               {_sig_sql_from(_hashed_sql('t'))}
        FROM raw
    ), b AS (SELECT * FROM d WHERE is_new
    ), c AS (SELECT * FROM d WHERE NOT is_new
    ), exact AS (
        SELECT b.doc_id, MIN(c.doc_id) AS exact_match
        FROM b JOIN c USING (fp) GROUP BY 1
    ), near AS (
        SELECT b.doc_id, MIN(c.doc_id) AS near_match
        FROM b JOIN c
          ON b.lang = c.lang AND b.len_b = c.len_b AND ({_BC_BAND_OR_SQL})
        WHERE len(list_intersect(b.toks, c.toks)) * 1.0
              / (len(b.toks) + len(c.toks) - len(list_intersect(b.toks, c.toks)))
              >= {CLUSTER_JACCARD}
        GROUP BY 1
    )
    SELECT b.doc_id,
           CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
                WHEN n.near_match IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS verdict,
           COALESCE(e.exact_match, n.near_match) AS matched_doc_id
    FROM b
    LEFT JOIN exact e ON b.doc_id = e.doc_id
    LEFT JOIN near n ON b.doc_id = n.doc_id
"""


# --- span-level duplicate detection (corpus-wide) --------------------

SPAN_W = 8  # tokens per span (the "paragraph" unit of this corpus)


def span_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-SPAN detection — the C4/Dolma
    paragraph-dedup shape re-expressed for this corpus's single-line
    documents: each document is cut into consecutive non-overlapping
    ``SPAN_W``-token spans (the trailing partial span included), each
    span is content-hashed, and a span is a duplicate when the SAME
    hash appears in >= 2 DISTINCT documents. Output is the per-doc
    repetition ledger a removal pass would filter on: span count,
    duplicated-span count, duplicated fraction.

    Plan (the only scale-correct shape): spans are built as one
    per-row array expression (zero shuffle, whole-stage codegen),
    posexplode'd to (doc_id, span_hash) rows, counted per hash with a
    map-side-combined distinct-doc groupBy, joined back to the
    positions on the hash, and re-aggregated per doc — two shuffles
    total (hash, doc_id), both on high-cardinality uniform keys. The
    naive alternative (a span x span self-join) is quadratic in
    corpus size and never runs at 100 TB. Within-doc repeats of a
    span count once toward the distinct-doc tally (repetition INSIDE
    a doc is ``repetition_stats``' job, not this operator's).
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", T.tokens("text").alias("toks"))
    n = F.size("toks")
    n_spans = F.ceil(n / F.lit(float(SPAN_W))).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(F.col("toks"), i * SPAN_W + 1, SPAN_W))
        ),
    )
    pos = tok.select("doc_id", F.explode(spans).alias("h"))
    docs_per_span = (
        pos.distinct()  # within-doc repeats count once
        .groupBy("h")
        .agg(F.count("*").alias("ndocs"))
    )
    return (
        pos.join(docs_per_span, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_spans"),
            F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0))
            .cast("int")
            .alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans").cast("double"), 6).alias(
                "dup_span_frac"
            ),
        )
    )


SPAN_DUP_STATS_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {ALL_TOKS_SQL} AS toks FROM documents
    ), s AS (
        SELECT doc_id,
               list_transform(
                   range(0, CAST(ceil(len(toks) / {SPAN_W}.0) AS INTEGER)),
                   i -> md5(array_to_string(
                            toks[i * {SPAN_W} + 1 : i * {SPAN_W} + {SPAN_W}], ' ')))
                   AS hs
        FROM t
    ), p AS (
        SELECT doc_id, unnest(hs) AS h FROM s
    ), c AS (
        SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM p GROUP BY h
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_spans,
           CAST(SUM(CASE WHEN c.ndocs > 1 THEN 1 ELSE 0 END) AS INTEGER)
               AS n_dup_spans,
           ROUND(SUM(CASE WHEN c.ndocs > 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_span_frac
    FROM p JOIN c USING (h)
    GROUP BY p.doc_id
"""


# --- cluster representative selection (dedup endgame, final pass) ----

def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-decision after near-dup clustering: one REPRESENTATIVE
    document per cluster — the longest (``n_chars``), ties broken by
    smallest doc_id — plus the cluster's size and how many characters
    the removal pass would drop. This is the policy step real dedup
    pipelines run between ``dedup_clusters`` and the filtered
    re-write of the corpus (keep the best exemplar, not the min-id).

    Plan: the min-contraction labels (``dedup_clusters``) joined to
    the doc-length projection, then ONE groupBy(cluster_id) whose
    arg-max rides ``max_by`` over a (n_chars, -doc_id) struct — the
    lexicographic struct ordering makes the tie-break exact without a
    second window pass. One extra shuffle on cluster_id beyond the
    clustering itself; cluster count <= doc count, keys uniform.
    """
    labels = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = labels.join(docs, "doc_id")
    return j.groupBy("cluster_id").agg(
        F.count("*").cast("int").alias("cluster_size"),
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg"))
        ).alias("rep_doc_id"),
        (F.sum("n_chars") - F.max_by("n_chars", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg"))))
        .cast("bigint")
        .alias("chars_dropped"),
    )


CLUSTER_REPRESENTATIVES_ORACLE = f"""
    WITH labels AS (
        {DEDUP_CLUSTERS_ORACLE}
    ), j AS (
        SELECT l.doc_id, l.cluster_id, d.n_chars
        FROM labels l JOIN documents d USING (doc_id)
    ), ranked AS (
        SELECT cluster_id, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM j
    ), agg AS (
        SELECT cluster_id,
               CAST(COUNT(*) AS INTEGER) AS cluster_size,
               SUM(n_chars) AS tot_chars
        FROM j GROUP BY cluster_id
    )
    SELECT a.cluster_id,
           a.cluster_size,
           r.doc_id AS rep_doc_id,
           CAST(a.tot_chars - r.n_chars AS BIGINT) AS chars_dropped
    FROM agg a JOIN ranked r ON a.cluster_id = r.cluster_id AND r.rn = 1
"""


# --- normalization-keyed exact dedup ---------------------------------

def dedup_normalized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a NORMALIZED content key: casefold, strip
    non-alphanumerics to spaces, collapse whitespace — the cheap
    canonicalization every web-scale dedup runs before hashing, so
    trivially-reformatted copies (case, punctuation, spacing) collapse
    into one group that byte-exact hashing would miss. Same one-
    shuffle md5-groupBy shape as ``dedup_exact_docs``; the normalizer
    is three regexp/lower JVM expressions in the scan projection.
    Groups here are always a coarsening of the byte-exact groups
    (tested: every byte-exact pair stays together)."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "), " +", " "
        )
    )
    return (
        docs.select(F.md5(norm).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("copies"))
    )


DEDUP_NORMALIZED_DOCS_ORACLE = """
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS content_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS copies
    FROM documents
    GROUP BY 1
"""


# --- per-source corpus report (pipeline observability) ---------------

def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-SOURCE corpus card a curation pipeline publishes with
    every snapshot: document count, token volume, language spread,
    mean lexical diversity, and the exact-duplicate fraction — the
    at-a-glance numbers that decide which crawl sources get
    upweighted, capped, or dropped. One row per ``source``.

    Plan: a single tokenize projection feeds everything; the dup
    flag needs corpus-wide content-hash counts, so hashes groupBy
    once (uniform fixed-width key) and join back before the final
    small groupBy(source). Two shuffles on high-cardinality keys +
    one on the handful of sources; no window over the corpus.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        "lang",
        F.md5("text").alias("h"),
        F.size(T.tokens("text")).alias("n_toks"),
        (
            F.size(F.array_distinct(T.tokens("text")))
            / F.size(T.tokens("text")).cast("double")
        ).alias("distinct_ratio"),
    )
    copies = tok.groupBy("h").agg(F.count("*").alias("copies"))
    flagged = tok.join(copies, "h")
    return flagged.groupBy("source").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").cast("int").alias("n_langs"),
        F.round(F.avg("distinct_ratio"), 6).alias("avg_distinct_ratio"),
        F.round(
            F.avg((F.col("copies") > 1).cast("double")), 6
        ).alias("exact_dup_frac"),
    )


CORPUS_REPORT_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, source, lang, md5(text) AS h,
               CAST(len({ALL_TOKS_SQL}) AS INTEGER) AS n_toks,
               len(list_distinct({ALL_TOKS_SQL}))
                   / CAST(len({ALL_TOKS_SQL}) AS DOUBLE) AS distinct_ratio
        FROM documents
    ), c AS (
        SELECT h, COUNT(*) AS copies FROM t GROUP BY h
    )
    SELECT t.source,
           CAST(COUNT(*) AS INTEGER) AS n_docs,
           CAST(SUM(t.n_toks) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT t.lang) AS INTEGER) AS n_langs,
           ROUND(AVG(t.distinct_ratio), 6) AS avg_distinct_ratio,
           ROUND(AVG(CASE WHEN c.copies > 1 THEN 1.0 ELSE 0.0 END), 6)
               AS exact_dup_frac
    FROM t JOIN c USING (h)
    GROUP BY t.source
"""


# --- language-ID evaluation (confusion matrix) ------------------------

def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language identifier against
    the labeled ``lang`` column — the measure-don't-guess eval for
    the classifier the pipeline gates on (same posture as
    ``ann_recall`` for the ANN indexes): one row per (labeled,
    predicted) pair with the count and the within-label share (row-
    normalized recall). Diagonal = recall per language. Cost: the
    lang_id projection + one tiny two-key aggregate."""
    from pyspark.sql import Window as W

    pred = lang_id(spark, sf_dir).select("doc_id", "labeled_lang", "predicted_lang")
    per_label = W.partitionBy("labeled_lang")
    return (
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("label_total", F.sum("n").over(per_label))
        .select(
            "labeled_lang",
            "predicted_lang",
            "n",
            F.round(F.col("n") / F.col("label_total"), 6).alias("recall_share"),
        )
    )


LANG_ID_CONFUSION_ORACLE = f"""
    WITH pred AS ({LANG_ID_ORACLE})
    SELECT labeled_lang, predicted_lang, COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0 /
                 SUM(COUNT(*)) OVER (PARTITION BY labeled_lang), 6)
               AS recall_share
    FROM pred
    GROUP BY labeled_lang, predicted_lang
"""


# --- MinHash-LSH recall evaluation ------------------------------------


# Deterministic md5-bucket document sample for the recall eval's
# exact-ground-truth side: an eval harness you run at 100 TB takes a
# sample, not the corpus (the exact join is quadratic in its output).
# 25% keeps the sf0.01/sf0.1 pair population statistically meaty; at
# production scale dial it down (0.01% of 100 TB is still ~10 GB of
# ground-truth documents). The LSH side stays FULL-corpus — that is
# the index under evaluation, and it is cheap by construction.
RECALL_SAMPLE_PCT = 25


def _recall_sample_pred() -> Column:
    from global_superstore_data_warehouse_spark.plans.stats import _md5_bucket

    return _md5_bucket(F.col("doc_id")) < RECALL_SAMPLE_PCT


def _recall_eval_from_exact(spark, sf_dir: str, exact_thunk) -> DataFrame:
    # ground truth and the LSH index under evaluation are independent
    # pipelines, each with eager checkpoints inside — build them in
    # two driver threads (guide §2.6; operators/par.py): same jobs,
    # same result, overlapped latency
    from global_superstore_data_warehouse_spark.operators.par import (
        build_concurrently,
    )

    exact, cand = build_concurrently(
        exact_thunk,
        lambda: minhash_lsh_candidates(spark, sf_dir).select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            F.lit(1).alias("hit"),
        ),
    )
    joined = exact.join(cand, ["doc_a", "doc_b"], "left")
    found = F.coalesce(F.col("hit"), F.lit(0))
    return joined.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(found).alias("n_found"),
        F.round(F.avg(found), 6).alias("recall"),
    )


def minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the probabilistic MinHash-LSH candidate
    generator against EXACT ground truth: every pair the
    prefix-filter join (plans/setsim.py, guaranteed recall 1.0)
    proves has Jaccard >= its TAU=0.95 should also collide in some
    LSH band — one summary row (n_true, n_found, recall). The
    eval-the-evaluator companion to ann_recall: dedup quality is a
    first-class output, not an assumption.

    SAMPLE-BOUNDED by construction: the exact side runs over a
    deterministic RECALL_SAMPLE_PCT% md5-bucket document sample
    (both endpoints in-sample — doc-level sampling induces an
    unbiased pair sample), so every ground-truth stage runs at
    sample cardinality while the LSH index under evaluation still
    covers the full corpus. The full-corpus eval survives as
    ``minhash_recall_eval_full`` (pytest-only, slow marker).

    Scale shape: composes two bounded candidate generators and
    left-joins their PAIR KEYS only — token arrays and signatures
    never ride this join; the final aggregate is one row.
    """
    from global_superstore_data_warehouse_spark.plans import setsim

    def _exact() -> DataFrame:
        # spread before the sample filter: the ground-truth tokenize
        # runs over the sample at full width instead of the scan's
        # single split
        docs = spread_scan(
            load(spark, sf_dir, "documents"), sf_dir, "documents", by="doc_id"
        ).filter(_recall_sample_pred())
        return setsim.jaccard_pairs_for_docs(docs).select("doc_a", "doc_b")

    return _recall_eval_from_exact(spark, sf_dir, _exact)


def minhash_recall_eval_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus ground truth — exhaustive but quadratic in true
    pairs; kept for pytest (slow) and ad-hoc audits at small SF."""
    from global_superstore_data_warehouse_spark.plans import setsim

    return _recall_eval_from_exact(
        spark,
        sf_dir,
        lambda: setsim.jaccard_prefix_pairs(spark, sf_dir).select(
            "doc_a", "doc_b"
        ),
    )


from global_superstore_data_warehouse_spark.plans import setsim as _setsim  # noqa: E402
from global_superstore_data_warehouse_spark.plans.stats import (  # noqa: E402
    _md5_bucket_sql as _recall_bucket_sql,
)


def _recall_oracle(doc_filter: str) -> str:
    return f"""
    WITH exact_pairs AS (
        {_setsim.exact_pairs_oracle(doc_filter)}
    ), cand AS (
        {MINHASH_LSH_CANDIDATES_ORACLE}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COUNT(c.doc_id_a) AS BIGINT) AS n_found,
           ROUND(COUNT(c.doc_id_a) * 1.0 / COUNT(*), 6) AS recall
    FROM exact_pairs e
    LEFT JOIN cand c ON e.doc_a = c.doc_id_a AND e.doc_b = c.doc_id_b
"""


MINHASH_RECALL_EVAL_ORACLE = _recall_oracle(
    f"{_recall_bucket_sql('doc_id')} < {RECALL_SAMPLE_PCT}"
)
MINHASH_RECALL_EVAL_FULL_ORACLE = _recall_oracle("TRUE")


# --- Zipf rank-frequency diagnostic -----------------------------------

ZIPF_TOP_RANKS = 30


def zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf diagnostic: the least-squares slope of
    ln(freq) against ln(rank) over each source's top-ranked terms.
    Natural text sits near -1; a slope far off flags templated/
    machine-generated feeds or tokenizer breakage before the corpus
    enters a training mix.

    Scale shape: explode -> (source, term) count partial-aggregates
    map-side; the rank window shuffles the VOCABULARY-sized count
    table (not the corpus) partitioned by source; the regression is
    a built-in ``regr_slope`` aggregate over <= ZIPF_TOP_RANKS rows
    per source. One corpus scan total.
    """
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tf = (
        docs.select("source", F.explode(T.tokens("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("freq"), F.asc("w"))
    ranked = tf.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= ZIPF_TOP_RANKS
    )
    return ranked.groupBy("source").agg(
        F.round(F.regr_slope(F.log("freq"), F.log("rank")), 6).alias("zipf_slope"),
        F.count(F.lit(1)).alias("n_ranks"),
    )


ZIPF_SLOPE_BY_SOURCE_ORACLE = f"""
    WITH tf AS (
        SELECT source, token, COUNT(*) AS freq
        FROM documents d,
             LATERAL (SELECT unnest(string_split_regex(trim(d.text), '\\s+'))
                      AS token) t
        WHERE token <> ''
        GROUP BY source, token
    ),
    ranked AS (
        SELECT source, freq,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY freq DESC, token ASC) AS rank
        FROM tf
    )
    SELECT source,
           ROUND(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope,
           CAST(COUNT(*) AS BIGINT) AS n_ranks
    FROM ranked
    WHERE rank <= {ZIPF_TOP_RANKS}
    GROUP BY source
"""


# --- token-distribution entropy ---------------------------------------


def token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each source's token distribution,
    with volume and vocabulary size — the companion diagnostic to
    ``zipf_slope_by_source``: low entropy flags repetitive/templated
    feeds, entropy near ln(vocab) flags uniform machine-generated
    text (natural language sits well below its vocabulary bound).

    Scale shape: explode -> (source, term) counts partial-aggregate
    map-side; entropy folds the VOCABULARY-sized count table (never
    the corpus) through one more keyed aggregate:
    H = ln(total) - sum(freq * ln(freq)) / total, computed in that
    algebraic form so it needs no per-term share column.
    """
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(T.tokens("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = F.sum("freq")
    return tf.groupBy("source").agg(
        total.alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(
            F.log(total) - F.sum(F.col("freq") * F.log("freq")) / total, 6
        ).alias("entropy_nats"),
    )


TOKEN_ENTROPY_BY_SOURCE_ORACLE = """
    WITH tf AS (
        SELECT source, token, COUNT(*) AS freq
        FROM documents d,
             LATERAL (SELECT unnest(string_split_regex(trim(d.text), '\\s+'))
                      AS token) t
        WHERE token <> ''
        GROUP BY source, token
    )
    SELECT source,
           CAST(SUM(freq) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           ROUND(ln(SUM(freq)) - SUM(freq * ln(freq)) / SUM(freq), 6)
               AS entropy_nats
    FROM tf
    GROUP BY source
"""


# --- BPE-style adjacent-pair counting ---------------------------------

BPE_TOP_PAIRS = 50


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies, top
    BPE_TOP_PAIRS — the counting step of one BPE merge round (and
    the general collocation/bigram-frequency primitive). Counts ALL
    occurrences (not per-doc distinct), which is what the merge
    objective maximizes.

    Plan shape: pair generation is a zero-shuffle ``zip_with`` over
    two slices of the token array (the array never leaves its row);
    the only shuffle is the map-side-combined pair count, and the
    top-k is a rank over the PAIR-VOCABULARY-sized aggregate. At
    100 TB the iterated-BPE swap-in keeps merges as a broadcast
    table applied per-row and re-counts — each round is this same
    single-shuffle plan.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(T.tokens("text").alias("t"))
    n = F.size("t")
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), F.lit(1), n - 1),
                F.slice(F.col("t"), F.lit(2), n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_occurrences"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BPE_TOP_PAIRS)
        .select("pair", "n_occurrences", "rank")
    )


BPE_PAIR_COUNTS_ORACLE = f"""
    WITH toks AS (
        SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), pairs AS (
        SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i + 1])) AS pair
        FROM toks
    ), counted AS (
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM pairs GROUP BY pair
    )
    SELECT pair, n_occurrences,
           CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair ASC)
                AS INTEGER) AS rank
    FROM counted
    QUALIFY rank <= {BPE_TOP_PAIRS}
"""


# --- order-of-magnitude document-length histogram ---------------------

# power-of-two length buckets, generated as the SAME explicit
# comparison chain on both engines: floor(log2(x)) via log() has
# float-boundary hazards at exact powers of two (log(x)/log(2) can
# land a hair under the integer), so the bucket is integer-compared
DOCLEN_BUCKETS = [2 ** k for k in range(4, 14)]  # 16 .. 8192


def _bucket_when():
    expr = F.lit(len(DOCLEN_BUCKETS))  # fallthrough: >= top bound
    for i in reversed(range(len(DOCLEN_BUCKETS))):
        expr = F.when(F.col("n_chars") < DOCLEN_BUCKETS[i], F.lit(i)).otherwise(expr)
    return expr.cast("int")


def _bucket_case_sql() -> str:
    branches = "".join(
        f" WHEN n_chars < {b} THEN {i}" for i, b in enumerate(DOCLEN_BUCKETS)
    )
    return f"CAST(CASE{branches} ELSE {len(DOCLEN_BUCKETS)} END AS INTEGER)"


def doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length histogram over power-of-two char
    buckets, with each bucket's share of its source — the
    length-distribution fingerprint that catches truncation bugs and
    boilerplate floods at a glance.

    Plan shape: the bucket is a pure projection; one
    map-side-combined groupBy(source, bucket) to at most
    |sources| x |buckets| rows, shares via a window over that tiny
    aggregate. One corpus scan, one small shuffle.
    """
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    counts = (
        docs.select("source", _bucket_when().alias("len_bucket"))
        .groupBy("source", "len_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    per_source = Window.partitionBy("source")
    return counts.select(
        "source",
        "len_bucket",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(per_source), 6).alias(
            "share"
        ),
    )


DOCLEN_HISTOGRAM_ORACLE = f"""
    WITH counts AS (
        SELECT source, {_bucket_case_sql()} AS len_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents
        GROUP BY 1, 2
    )
    SELECT source, len_bucket, n_docs,
           ROUND(n_docs * 1.0 / SUM(n_docs) OVER (PARTITION BY source), 6)
               AS share
    FROM counts
"""


# --- per-source quality percentiles -----------------------------------


def quality_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-rank of each document's quality score WITHIN its
    source — the curriculum/mix input that a global threshold can't
    provide: "keep each source's best 40%" needs per-source ranks,
    because sources have wildly different score distributions and a
    global cut silently drops whole feeds.

    Plan shape: re-derives the text_quality score (pure zero-shuffle
    array projection), then ONE source-partitioned percent_rank
    window — the shuffle is on source, rows stay narrow (score only;
    token arrays never reach the window). Ties get identical
    percentiles (percent_rank semantics), deterministic across
    engines.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source", T.tokens("text").alias("toks"))
    toks = F.col("toks")
    n = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    n_stop = T.stopword_count(toks, T.EN_STOPWORDS).cast("double")
    score = F.round(
        0.5 * (n_distinct / n)
        + 0.3 * (1 - n_stop / n)
        + 0.2 * F.least(F.lit(1.0), n / 100.0),
        6,
    )
    scored = tok.select("doc_id", "source", score.alias("quality_score"))
    w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    return scored.select(
        "doc_id",
        "source",
        "quality_score",
        F.round(F.percent_rank().over(w), 6).alias("source_pctile"),
    )


QUALITY_PERCENTILES_ORACLE = """
    WITH toks AS (
        SELECT doc_id, source,
               string_split_regex(trim(text), '\\s+') AS t
        FROM documents
    ), scored AS (
        SELECT doc_id, source,
               ROUND(
                 0.5 * (len(list_distinct(t)) * 1.0 / len(t))
                 + 0.3 * (1 - len(list_filter(t, w -> w IN
                       ('the','a','of','and','to','in','is'))) * 1.0 / len(t))
                 + 0.2 * LEAST(1.0, len(t) / 100.0),
               6) AS quality_score
        FROM toks
    )
    SELECT doc_id, source, quality_score,
           ROUND(PERCENT_RANK() OVER (PARTITION BY source
                 ORDER BY quality_score, doc_id), 6) AS source_pctile
    FROM scored
"""


# --- unigram LM scoring (perplexity proxy) ----------------------------


def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token log-likelihood under the corpus's OWN
    unigram distribution, plus the bits-per-token equivalent — the
    cheap, fully-SQL-expressible stand-in for the LM-perplexity
    quality gate of the CCNet/Gopher-style curation stack (docs far
    off the corpus distribution — boilerplate, templated spam,
    wrong-tokenizer feeds — surface at the extremes). Train and
    score ride the same corpus scan.

    Scale shape: one explode -> vocabulary-count aggregate
    (map-side-combined; the unigram "model" IS this vocab table),
    the scalar token total rides a 1-row broadcast, and the
    vocabulary table broadcasts back onto the exploded tokens
    (vocab is Heaps-law sublinear in corpus size; at 100 TB swap
    the hint for a shuffle join — same plan). Per-doc aggregate is
    the only corpus-sized shuffle.
    """
    docs = load(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("w"))
        .filter(F.col("w") != "")
    )
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored = tok.join(F.broadcast(vocab), "w").crossJoin(F.broadcast(total))
    logp = F.log(F.col("cnt") / F.col("total"))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(logp), 6).alias("avg_logprob"),
        F.round(-F.avg(logp) / F.log(F.lit(2.0)), 6).alias("bits_per_token"),
    )


UNIGRAM_LOGPROB_SCORES_ORACLE = """
    WITH tok AS (
        SELECT doc_id, token
        FROM documents d,
             LATERAL (SELECT unnest(string_split_regex(trim(d.text), '\\s+'))
                      AS token) t
        WHERE token <> ''
    ), vocab AS (
        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ), tot AS (SELECT SUM(cnt) AS total FROM vocab)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(ln(cnt / total)), 6) AS avg_logprob,
           ROUND(-AVG(ln(cnt / total)) / ln(2), 6) AS bits_per_token
    FROM tok JOIN vocab USING (token) CROSS JOIN tot
    GROUP BY doc_id
"""


# --- dedup economics --------------------------------------------------


def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What near-dup deduplication would actually BUY, by cluster
    size: for each duplicate-cluster cardinality, how many clusters
    and documents exist and how many tokens the keep-one-canonical
    policy removes — the capacity-planning report run before paying
    for a corpus-wide dedup rewrite (and the honest answer to "is
    dedup worth it on this feed").

    Scale shape: composes the registered ``dedup_clusters`` plan
    (checkpointed, geometrically-shrinking CC) with a zero-shuffle
    per-doc token count; one groupBy per cluster, then a cluster-
    count-sized rollup by size. Output is at most O(max cluster
    size) rows.
    """
    docs = load(spark, sf_dir, "documents")
    clusters = dedup_clusters(spark, sf_dir)
    ntok = docs.select(
        "doc_id",
        F.size(F.filter(T.tokens("text"), lambda t: t != "")).alias("n_tokens"),
    )
    per_cluster = (
        clusters.join(ntok, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sum("n_tokens").alias("tokens_total"),
            F.sum(F.when(~F.col("is_canonical"), F.col("n_tokens")).otherwise(F.lit(0))).alias(
                "tokens_removable"
            ),
        )
    )
    return per_cluster.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.first("cluster_size")).alias("n_docs"),
        F.sum("tokens_total").alias("tokens_total"),
        F.sum("tokens_removable").alias("tokens_removable"),
    )


DEDUP_SAVINGS_REPORT_ORACLE = f"""
    WITH clusters AS (
        {DEDUP_CLUSTERS_ORACLE}
    ), ntok AS (
        SELECT doc_id,
               CAST(len(list_filter({ALL_TOKS_SQL}, w -> w <> '')) AS INTEGER)
                   AS n_tokens
        FROM documents
    ), per_cluster AS (
        SELECT c.cluster_id,
               COUNT(*) AS cluster_size,
               SUM(n.n_tokens) AS tokens_total,
               SUM(CASE WHEN NOT c.is_canonical THEN n.n_tokens ELSE 0 END)
                   AS tokens_removable
        FROM clusters c JOIN ntok n USING (doc_id)
        GROUP BY c.cluster_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs,
           CAST(SUM(tokens_total) AS BIGINT) AS tokens_total,
           CAST(SUM(tokens_removable) AS BIGINT) AS tokens_removable
    FROM per_cluster
    GROUP BY cluster_size
"""


def bigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conditional (bigram) companion to
    ``unigram_logprob_scores``: per-document mean log P(w2 | w1)
    under the corpus's own MLE bigram model, plus bits/token —
    sensitive to WORD-ORDER scrambling and boilerplate the unigram
    gate is blind to (a shuffled document keeps its unigram score
    but its bigram surprisal collapses). Scored on observed bigrams
    of the training corpus itself, so every probability is positive
    — no smoothing term to desynchronize the two engines.

    Scale shape: bigram generation is the zero-shuffle ``zip_with``
    slice idiom (bpe_pair_counts); the model IS the bigram-type
    count table c(w1,w2) with prefix totals c(w1·) derived from it
    (no second corpus scan), both collocation-vocabulary-sized and
    broadcast back onto the bigram stream; the per-doc aggregate is
    the only corpus-sized shuffle. Documents under two tokens carry
    no bigram and drop out, exactly like the oracle.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.filter(T.tokens("text"), lambda t: t != "").alias("t")
    )
    n = F.size("t")
    big = (
        toks.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("t"), F.lit(1), n - 1),
                    F.slice(F.col("t"), F.lit(2), n - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    cnt2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    cnt1 = cnt2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = big.join(F.broadcast(cnt2), ["w1", "w2"]).join(
        F.broadcast(cnt1), "w1"
    )
    logp = F.log(F.col("c2") / F.col("c1"))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(logp), 6).alias("avg_logprob"),
        F.round(-F.avg(logp) / F.log(F.lit(2.0)), 6).alias("bits_per_token"),
    )


BIGRAM_SURPRISAL_SCORES_ORACLE = """
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           w -> w <> '') AS t
        FROM documents
    ), big AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM base, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
        WHERE len(t) >= 2
    ), cnt2 AS (
        SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2
    ), cnt1 AS (
        SELECT w1, SUM(c2) AS c1 FROM cnt2 GROUP BY w1
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln(c2 / c1)), 6) AS avg_logprob,
           ROUND(-AVG(ln(c2 / c1)) / ln(2), 6) AS bits_per_token
    FROM big b
    JOIN cnt2 USING (w1, w2)
    JOIN cnt1 USING (w1)
    GROUP BY b.doc_id
"""


# --- SimHash Hamming-ball near-dup join (bit-band LSH) ---------------

SIMHASH_ND_BITS = 32
SIMHASH_ND_BANDS = 4
SIMHASH_ND_MAX_HAMMING = 3  # pigeonhole: <= bands - 1 => recall 1.0


def _simhash32(docs: DataFrame) -> DataFrame:
    """32-bit SimHash per doc (per-token 32-bit md5 prefix; each bit
    accumulates +1/-1 over distinct tokens; sign vector = hash).
    Explode + conditional sums — one shuffle on doc_id, codegen'd."""
    exploded = docs.select(
        "doc_id", F.explode(F.array_distinct(T.tokens("text"))).alias("w")
    ).withColumn(
        "v", F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
    )
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("v"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_ND_BITS)
    ]
    agg = exploded.groupBy("doc_id").agg(*sums)
    sim = None
    for b in range(SIMHASH_ND_BITS):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.cast("long").alias("sim"))


def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-ball near-dup pairs via bit-band LSH (the
    Google/Manku-Jain-Sarma simhash dedup shape): split each 32-bit
    SimHash into 4 contiguous 8-bit bands; by pigeonhole any pair
    within Hamming distance 3 agrees on at least ONE whole band, so
    a (band_idx, band_value) equi-self-join reaches RECALL 1.0
    without any all-pairs scan — the oracle IS the brute-force
    O(n^2) Hamming join, so hash-parity proves the recall claim,
    not just plausibility.

    Scale shape: candidate generation is an equi-join on the band
    key carrying only (doc_id, sim) — 16 bytes/row; expected bucket
    width is n/2^band_bits. Production scales the constants, not the
    plan: a 64-bit simhash with 16-bit bands (buckets ~n/65536,
    still Hamming <= 3) is the same code with SIMHASH_ND_BITS = 64 /
    8 hex chars -> 16 — held at 32 bits here so the DuckDB oracle's
    band arithmetic stays inside BIGINT without edge-casing the sign
    bit. Hot band values (boilerplate-heavy corpora) would ride the
    same class-collapse used by minhash_lsh_candidates."""
    # spread the scan feeding the simhash explode: the per-token md5
    # + 32 conditional sums otherwise map-aggregate in the single
    # scan split (measured 2.5 s single-task at sf0.1; guide §2.5)
    docs = spread_scan(
        load(spark, sf_dir, "documents"), sf_dir, "documents", by="doc_id"
    )
    sims = _simhash32(docs).localCheckpoint(eager=True)
    band_bits = SIMHASH_ND_BITS // SIMHASH_ND_BANDS
    mask = (1 << band_bits) - 1
    banded = sims.select(
        "doc_id",
        "sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sim"), b * band_bits).bitwiseAND(mask)
                    for b in range(SIMHASH_ND_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("sim").alias("sim_a"),
        "band_idx", "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("sim").alias("sim_b"),
        "band_idx", "band_val",
    )
    pairs = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()  # a pair may collide on several bands
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.filter(ham <= SIMHASH_ND_MAX_HAMMING).select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )


def _simhash32_sql() -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (v >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_ND_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_ND_BITS)
    )
    return f"""
    WITH e AS MATERIALIZED (
        SELECT doc_id, ('0x' || substr(md5(w.w), 1, 8))::BIGINT AS v
        FROM documents, unnest({TOKS_SQL}) AS w(w)
    ), s AS MATERIALIZED (
        SELECT doc_id, {sums} FROM e GROUP BY doc_id
    ), sim AS MATERIALIZED (
        SELECT doc_id, CAST({combine} AS BIGINT) AS sim FROM s
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= {SIMHASH_ND_MAX_HAMMING}
    """


# brute-force all-pairs Hamming join: O(n^2) lives ONLY in the oracle;
# hash-equality against the banded plan proves recall 1.0
SIMHASH_NEAR_DUP_PAIRS_ORACLE = _simhash32_sql()


# --- C4-style boilerplate strip (corpus-repeated span removal) -------

BOILER_CHUNK_TOKENS = 10
BOILER_MIN_REPEATS = 3  # C4's "line seen >= 3 times" rule


def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal, C4-style: any 10-token chunk
    occurring >= 3 times ACROSS the corpus (nav bars, license
    footers, cookie banners in a real crawl) is stripped from every
    document, and the cleaned text is RECONSTRUCTED in original
    chunk order — the transform itself, not just a report.

    Scale shape: one corpus-wide chunk count (the only full shuffle),
    then the boiler set — corpus-RARE by definition (only chunks
    repeated >= 3x) — is checkpointed and rides the size-gated
    ``maybe_broadcast`` into a left join that flags chunks without
    moving them; the per-doc regroup aggregates doc-sized rows. The
    rebuild (when-filter -> collect_list(struct) -> array_sort ->
    transform -> concat_ws) is entirely codegen'd JVM expressions."""
    K, R = BOILER_CHUNK_TOKENS, BOILER_MIN_REPEATS
    docs = load(spark, sf_dir, "documents")
    toks = T.tokens("text")
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(K)).cast("int"), F.lit(1)
    )
    chunked = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i * K + 1, K)),
            )
        ).alias("i", "chunk"),
    )
    boiler = (
        chunked.groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= R)
        .select("chunk", F.lit(True).alias("is_boiler"))
        .localCheckpoint(eager=True)  # pins the count for the gate
    )
    flagged = chunked.join(maybe_broadcast(boiler), "chunk", "left")
    kept_struct = F.when(
        F.col("is_boiler").isNull(), F.struct(F.col("i"), F.col("chunk"))
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0)).cast("int").alias(
            "n_boiler"
        ),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x.getField("chunk"),
            ),
        ).alias("clean_text"),
    )


BOILERPLATE_STRIP_ORACLE = f"""
    WITH toksrc AS (
        SELECT doc_id, {ALL_TOKS_SQL} AS l FROM documents
    ), chunks AS (
        SELECT doc_id, CAST(t.i AS INTEGER) AS i,
               array_to_string(
                   list_slice(l, CAST(t.i * {BOILER_CHUNK_TOKENS} + 1 AS BIGINT),
                              CAST(t.i * {BOILER_CHUNK_TOKENS}
                                   + {BOILER_CHUNK_TOKENS} AS BIGINT)), ' ')
                   AS chunk
        FROM toksrc,
             LATERAL (SELECT unnest(range(0, greatest(
                 CAST(ceil(len(l) / {BOILER_CHUNK_TOKENS}.0) AS BIGINT), 1)))
                 AS i) t
    ), boiler AS (
        SELECT chunk FROM chunks GROUP BY chunk
        HAVING COUNT(*) >= {BOILER_MIN_REPEATS}
    ), flagged AS (
        SELECT c.doc_id, c.i, c.chunk, b.chunk IS NOT NULL AS is_b
        FROM chunks c LEFT JOIN boiler b USING (chunk)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS INTEGER) AS n_boiler,
           COALESCE(string_agg(CASE WHEN NOT is_b THEN chunk END, ' '
                               ORDER BY i), '') AS clean_text
    FROM flagged GROUP BY doc_id
"""


# --- maximal duplicated-span islands (exact-substring dedup) ---------

DUPSPAN_W = 15  # rolling-window width in tokens


def duplicate_span_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate detection at ANY alignment (the
    Lee et al. "Deduplicating Training Data Makes Language Models
    Better" operator, window-granular): hash every ROLLING
    ``DUPSPAN_W``-token window (stride 1), keep windows whose hash
    occurs in >= 2 distinct documents, and merge each document's
    overlapping duplicated windows into MAXIMAL spans with the
    generic sweep-line ``interval_union_islands`` — the removal
    ledger an exact-substring dedup pass cuts by. Unlike
    ``span_dup_stats`` (block-aligned non-overlapping spans), a
    duplicated substring is caught wherever it starts.

    Scale shape: rolling windows cost one row per corpus token —
    that IS the honest cost of exact-substring dedup (suffix-array
    builds pay the same token-linear blowup); rows are narrow
    (doc_id, pos, 16-byte hash). Two uniform-key shuffles (hash
    count, hash join-back) + the per-doc island window reusing one
    doc_id exchange. Docs shorter than one window cannot contain a
    duplicated span and are filtered before the explode."""
    W = DUPSPAN_W
    # spread the single-split scan: the rolling-window explode + md5
    # per window otherwise map-aggregate in ONE task (measured 1.5 s
    # single-task at sf0.1; guide §2.5)
    docs = spread_scan(
        load(spark, sf_dir, "documents"), sf_dir, "documents", by="doc_id"
    )
    tok = docs.select("doc_id", T.tokens("text").alias("toks")).filter(
        F.size("toks") >= W
    )
    win = F.transform(
        F.sequence(F.lit(0), F.size("toks") - W),
        lambda i: F.struct(
            i.cast("int").alias("s"),
            F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i + 1, W))).alias("h"),
        ),
    )
    pos = tok.select("doc_id", F.explode(win).alias("w")).select(
        "doc_id", F.col("w.s").alias("s"), (F.col("w.s") + W).alias("e"),
        F.col("w.h").alias("h"),
    )
    heavy = (
        pos.select("doc_id", "h").distinct()
        .groupBy("h").agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("h")
    )
    dup = pos.join(heavy, "h").select("doc_id", "s", "e")
    islands = interval_union_islands(dup, ["doc_id"], "s", "e")
    return islands.select(
        "doc_id",
        F.col("island").cast("long").alias("island"),
        F.col("n_intervals").cast("long").alias("n_windows"),
        F.col("i_start").alias("span_start"),
        F.col("i_end").alias("span_end"),
        (F.col("i_end") - F.col("i_start")).alias("span_tokens"),
    )


DUPLICATE_SPAN_ISLANDS_ORACLE = f"""
    WITH toksrc AS (
        SELECT doc_id, {ALL_TOKS_SQL} AS l FROM documents
    ), w AS (
        SELECT doc_id,
               CAST(t.i AS INTEGER) AS s,
               CAST(t.i + {DUPSPAN_W} AS INTEGER) AS e,
               md5(array_to_string(
                   list_slice(l, CAST(t.i + 1 AS BIGINT),
                              CAST(t.i + {DUPSPAN_W} AS BIGINT)), ' ')) AS h
        FROM toksrc,
             LATERAL (SELECT unnest(range(0,
                 greatest(len(l) - {DUPSPAN_W} + 1, 0))) AS i) t
    ), heavy AS (
        SELECT h FROM (SELECT DISTINCT doc_id, h FROM w)
        GROUP BY h HAVING COUNT(*) >= 2
    ), dup AS (
        SELECT w.doc_id, w.s, w.e FROM w JOIN heavy USING (h)
    ), flagged AS (
        SELECT doc_id, s, e,
               CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                    OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS f
        FROM dup
    ), isl AS (
        SELECT doc_id, s, e,
               SUM(f) OVER (PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    )
    SELECT doc_id,
           CAST(island AS BIGINT) AS island,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           MIN(s) AS span_start,
           MAX(e) AS span_end,
           MAX(e) - MIN(s) AS span_tokens
    FROM isl GROUP BY doc_id, island
"""


def simhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the SIMHASH Hamming-ball detector against
    the same exact Jaccard ground truth ``minhash_recall_eval`` uses
    — the apples-to-apples audit of the two near-dup FAMILIES, not
    their internals (the banded simhash plan's recall-1.0 vs its own
    Hamming ball is already hash-proven against the brute-force
    oracle; this measures whether Hamming <= 3 on 32 bits DETECTS
    token-level near-dups at all). Same md5-bucket document sample,
    same one-row (n_true, n_found, recall) contract, so the two
    evals sit side by side in the driver output and the choice of
    family on a new corpus is a measurement, not a vibe."""
    from global_superstore_data_warehouse_spark.operators.par import (
        build_concurrently,
    )
    from global_superstore_data_warehouse_spark.plans import setsim

    # ground truth and the simhash index are independent eager
    # pipelines — overlapped driver threads (guide §2.6), same jobs
    exact, cand = build_concurrently(
        lambda: setsim.jaccard_pairs_for_docs(
            load(spark, sf_dir, "documents").filter(_recall_sample_pred())
        ).select("doc_a", "doc_b"),
        lambda: simhash_near_dup_pairs(spark, sf_dir).select(
            "doc_a", "doc_b", F.lit(1).alias("hit")
        ),
    )
    joined = exact.join(cand, ["doc_a", "doc_b"], "left")
    found = F.coalesce(F.col("hit"), F.lit(0))
    return joined.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(found).alias("n_found"),
        F.round(F.avg(found), 6).alias("recall"),
    )


SIMHASH_RECALL_EVAL_ORACLE = f"""
    WITH exact_pairs AS (
        {_setsim.exact_pairs_oracle(f"{_recall_bucket_sql('doc_id')} < {RECALL_SAMPLE_PCT}")}
    ), cand AS (
        {SIMHASH_NEAR_DUP_PAIRS_ORACLE}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COUNT(c.doc_a) AS BIGINT) AS n_found,
           ROUND(COUNT(c.doc_a) * 1.0 / COUNT(*), 6) AS recall
    FROM exact_pairs e
    LEFT JOIN cand c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
"""


# --- BPE merge learning (the iterated rounds bpe_pair_counts promises) ---

BPE_MERGE_ROUNDS = 6


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Run the BPE merge loop; returns (merges, encoded_vocab) where
    merges is [(step, l, r, merged, freq), ...] and encoded_vocab is
    the vocab-sized (w, wc, seq) DataFrame AFTER all merges applied —
    the learned tokenizer's encoding of every word."""
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(T.tokens("text")).alias("w0"))
        .select(F.lower("w0").alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
    )
    # one corpus scan; rounds re-read this vocab-sized snapshot
    cur = vocab.select(
        "w",
        "wc",
        F.concat(
            F.trim(F.regexp_replace("w", "(.)", "$1 ")), F.lit(" _")
        ).alias("seq"),
    ).localCheckpoint(eager=True)
    merges = []
    for step in range(1, BPE_MERGE_ROUNDS + 1):
        toks = cur.select("wc", F.split("seq", " ").alias("t"))
        n = F.size("t")
        pairs = toks.select(
            "wc",
            F.explode(
                F.zip_with(
                    F.slice(F.col("t"), F.lit(1), n - 1),
                    F.slice(F.col("t"), F.lit(2), n - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("pair"),
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("wc").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r = best[0]["pair"].split(" ")
        merges.append((step, l, r, l + r, int(best[0]["freq"])))
        cur = cur.withColumn(
            "seq",
            F.trim(
                F.expr(
                    f"replace(concat(' ', seq, ' '), ' {l} {r} ', ' {l}{r} ')"
                )
            ),
        )
    return merges, cur


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first {BPE_MERGE_ROUNDS} BPE merges from the corpus:
    the classic train-a-tokenizer loop (count adjacent symbol pairs →
    merge the most frequent pair everywhere → repeat), run the way it
    distributes — over the WORD VOCABULARY with word counts as
    weights, so after the one corpus scan that builds the vocab, no
    round ever touches the corpus again.

    Per round: pair generation is the same zero-shuffle ``zip_with``
    over two slices of the symbol array as bpe_pair_counts, weighted
    by word count and map-side-combined to the pair-vocabulary; the
    argmax pair (ONE row — the only driver-side state, scalar-class
    like the k-means round scalars) becomes a literal
    ``replace(' l r ' -> ' lr ')`` column transform applied to every
    vocab entry. Ties break deterministically on (freq DESC, pair
    ASC) in both engines.

    Merge application uses single-pass leftmost non-overlapping
    string replace — identical semantics in Spark and DuckDB, so
    parity is by construction. (For a run of >=4 identical symbols a
    greedy pairwise scanner would merge one pair more than replace
    does; real tokenizers differ on the same edge, and the learned
    merge TABLE — the operator's output — is unaffected.)

    Output: one row per learned merge (step, left_sym, right_sym,
    merged, pair_freq). Reference anchor: the reference has no
    tokenizer; this extends the training-data surface the way
    SURVEY §6's beyond-reference items commission.
    """
    merges, _ = _bpe_learn(spark, sf_dir)
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return spark.createDataFrame(
        merges,
        StructType(
            [
                StructField("step", LongType()),
                StructField("left_sym", StringType()),
                StructField("right_sym", StringType()),
                StructField("merged", StringType()),
                StructField("pair_freq", LongType()),
            ]
        ),
    )


def _bpe_stage_chain() -> str:
    """The shared unrolled {BPE_MERGE_ROUNDS}-stage WITH-chain both
    BPE oracles build on: vocab → s0 → (p_i, b_i, s_{i+1})*."""
    parts = [
        f"""vocab AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
        FROM (
            SELECT lower(unnest({ALL_TOKS_SQL})) AS w FROM documents
        )
        WHERE regexp_matches(w, '^[a-z]+$')
        GROUP BY w
    ), s0 AS (
        SELECT w, wc,
               trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' _' AS seq
        FROM vocab
    )"""
    ]
    for i in range(BPE_MERGE_ROUNDS):
        parts.append(
            f"""p{i} AS (
        SELECT string_split(pair, ' ')[1] AS l,
               string_split(pair, ' ')[2] AS r,
               CAST(SUM(wc) AS BIGINT) AS freq
        FROM (
            SELECT wc, unnest(list_transform(range(1, len(t)),
                              j -> t[j] || ' ' || t[j + 1])) AS pair
            FROM (SELECT wc, string_split(seq, ' ') AS t FROM s{i})
        )
        GROUP BY 1, 2
    ), b{i} AS (
        SELECT l, r, freq FROM p{i}
        ORDER BY freq DESC, l || ' ' || r ASC LIMIT 1
    ), s{i + 1} AS (
        SELECT w, wc, trim(replace(' ' || seq || ' ',
                                   ' ' || b.l || ' ' || b.r || ' ',
                                   ' ' || b.l || b.r || ' ')) AS seq
        FROM s{i}, b{i} b
    )"""
        )
    return "WITH " + ", ".join(parts)


def _bpe_learn_oracle() -> str:
    selects = " UNION ALL ".join(
        f"""SELECT CAST({i + 1} AS BIGINT) AS step, l AS left_sym,
               r AS right_sym, l || r AS merged, freq AS pair_freq
        FROM b{i}"""
        for i in range(BPE_MERGE_ROUNDS)
    )
    return _bpe_stage_chain() + " " + selects


BPE_LEARN_MERGES_ORACLE = _bpe_learn_oracle()


def bpe_vocab_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the learned BPE merges: encode every word with the
    {BPE_MERGE_ROUNDS}-merge tokenizer _bpe_learn trains and report,
    per source, how much the symbol stream shrank — word occurrences,
    symbols at the character baseline (chars + end marker, i.e. the
    zero-merge encoding), symbols after the merges, and the ratio.
    The measured "was the tokenizer worth it" readout, and the apply
    half of the train/apply pair (bpe_learn_merges is the train
    half).

    Scale shape: encoding happens on the VOCAB (one row per distinct
    word — the corpus is never re-encoded row by row); per-source
    word counts join the vocab-sized encoding table via a size-gated
    broadcast, then a sources-sized aggregate. At 100 TB the
    encoding table is exactly the artifact you'd ship to the
    tokenizer workers.
    """
    from global_superstore_data_warehouse_spark.operators.hints import (
        maybe_broadcast,
    )

    _, enc = _bpe_learn(spark, sf_dir)
    enc_len = enc.select(
        "w", F.size(F.split("seq", " ")).cast("bigint").alias("n_sym")
    )
    docs = load(spark, sf_dir, "documents")
    ws = (
        docs.select("source", F.explode(T.tokens("text")).alias("w0"))
        .select("source", F.lower("w0").alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    base = F.sum(F.col("n") * (F.length("w") + F.lit(1)))
    after = F.sum(F.col("n") * F.col("n_sym"))
    return (
        ws.join(maybe_broadcast(enc_len), "w")
        .groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_word_occurrences"),
            base.cast("bigint").alias("symbols_char_baseline"),
            after.cast("bigint").alias("symbols_after_merges"),
            F.round(after / base, 6).alias("compression_ratio"),
        )
    )


def _bpe_compression_oracle() -> str:
    chain = _bpe_stage_chain()
    last = f"s{BPE_MERGE_ROUNDS}"
    return f"""{chain}
    SELECT ws.source,
           CAST(SUM(ws.n) AS BIGINT) AS n_word_occurrences,
           CAST(SUM(ws.n * (len(ws.w) + 1)) AS BIGINT)
               AS symbols_char_baseline,
           CAST(SUM(ws.n * e.n_sym) AS BIGINT) AS symbols_after_merges,
           ROUND(SUM(ws.n * e.n_sym) * 1.0 /
                 SUM(ws.n * (len(ws.w) + 1)), 6) AS compression_ratio
    FROM (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT source, lower(unnest({ALL_TOKS_SQL})) AS w
            FROM documents
        )
        WHERE regexp_matches(w, '^[a-z]+$')
        GROUP BY source, w
    ) ws
    JOIN (
        SELECT w, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym
        FROM {last}
    ) e USING (w)
    GROUP BY ws.source
"""


BPE_VOCAB_COMPRESSION_ORACLE = _bpe_compression_oracle()


# --- CCNet-style perplexity bucketing ----------------------------------

CCNET_BUCKETS = ["head", "middle", "tail"]


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet shard split (Wenzek et al. 2020): within each
    language, rank documents by LM score and cut the ranking into
    thirds — head (closest to the reference distribution), middle,
    tail (likeliest boilerplate/spam; most pipelines keep head+middle
    and sample the tail). The LM here is the corpus's own unigram
    model (the ``unigram_logprob_scores`` gate); the output is the
    per-(lang, bucket) census a mixture planner consumes.

    Engine-exact discipline: per-token log-probs are quantized to
    integer MICRO units and summed per doc (exact integers — no
    float-avg order exposure), docs rank on the exact rational
    score_micro/n_tokens (identical doubles in both engines; ties on
    doc_id), and the bucket is pure integer arithmetic
    ``(3 * (rank - 1)) // n_lang``. Bucket-level means derive from
    integer sums at the very end.

    Scale shape: one corpus scan feeds the vocab (broadcast back),
    per-doc scores are one corpus-sized shuffle, the rank window is
    per-language over DOC-sized rows, and the final census is
    languages x 3.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(T.tokens("text")).alias("w")
    ).filter(F.col("w") != "")
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    contrib = F.round(
        F.log(F.col("cnt") / F.col("total")) * 1000000.0
    ).cast("long")
    per_doc = (
        tok.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(contrib).alias("score_micro"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc(F.col("score_micro") / F.col("n_tokens")), F.asc("doc_id")
    )
    nl = Window.partitionBy("lang")
    # exact integer floor division in BOTH engines: DuckDB's
    # CAST(double AS INT) rounds while Spark's truncates, so the
    # bucket edge would disagree — (a - a % b) / b sidesteps floats
    a = (F.row_number().over(w) - 1) * 3
    b = F.count(F.lit(1)).over(nl)
    bucketed = per_doc.withColumn(
        "bucket_i", ((a - a % b) / b).cast("int")
    )
    bucket_name = F.element_at(
        F.array(*[F.lit(b) for b in CCNET_BUCKETS]), F.col("bucket_i") + 1
    )
    return (
        bucketed.groupBy("lang", F.col("bucket_i"), bucket_name.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.sum("score_micro") / F.sum("n_tokens") / 1000000.0, 6
            ).alias("avg_token_logprob"),
        )
        .select(
            "lang",
            F.col("bucket_i").cast("int").alias("bucket_i"),
            "bucket",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
            "avg_token_logprob",
        )
    )


CCNET_PERPLEXITY_BUCKETS_ORACLE = """
    WITH tok AS (
        SELECT d.doc_id, d.lang, t.w
        FROM documents d,
             LATERAL (SELECT unnest(string_split_regex(trim(d.text), '\\s+'))
                      AS w) t
        WHERE t.w <> ''
    ), vocab AS (
        SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
    ), total AS (
        SELECT SUM(cnt) AS total FROM vocab
    ), per_doc AS (
        SELECT tok.doc_id, tok.lang,
               COUNT(*) AS n_tokens,
               SUM(CAST(ROUND(ln(v.cnt / t.total) * 1000000.0) AS BIGINT))
                   AS score_micro
        FROM tok JOIN vocab v USING (w) CROSS JOIN total t
        GROUP BY tok.doc_id, tok.lang
    ), ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY score_micro / n_tokens DESC, doc_id ASC) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n_lang
        FROM per_doc
    ), bucketed AS (
        SELECT *, CAST(((rk - 1) * 3) // n_lang AS INT) AS bucket_i
        FROM ranked
    )
    SELECT lang,
           CAST(bucket_i AS INTEGER) AS bucket_i,
           (['head', 'middle', 'tail'])[bucket_i + 1] AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(score_micro) / SUM(n_tokens) / 1000000.0, 6)
               AS avg_token_logprob
    FROM bucketed
    GROUP BY lang, bucket_i
"""


# --- B-cubed agreement between the two near-dup clusterings -----------


def dedup_bcubed_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall of the SIMHASH clustering against the
    MinHash+Jaccard-verified clustering — the standard extrinsic
    cluster-quality metric (Bagga & Baldwin), answering the
    operational question "if we switched dedup families, how many
    keep/drop decisions would change?". Per document d:
    precision(d) = |C(d) ∩ G(d)| / |C(d)|, recall(d) =
    |C(d) ∩ G(d)| / |G(d)| where C = the doc's simhash component and
    G = its minhash component; the report is the corpus roll-up.

    Integer-exactness: per-doc ratios are computed as
    ``(1e6 * n_cg) DIV n_c`` — exact integer division in both
    engines — and SUMMED as integers (all docs in one (C,G) cell
    share one ratio, so the doc sum is the cell value WEIGHTED by
    n_cg); the two final averages divide once and ROUND 6. No float
    accumulation order exposure.

    Plan shape: both pair generators are the banded equi-joins
    already proven at recall 1.0; components come from the one
    connected-components operator (``operators/graph.py``,
    min-contraction over a hashed node order) on both sides; ONE
    doc-scale groupBy collapses both assignments into the (C,G)
    contingency cells (checkpointed — the plan fans out over it
    three ways and must not re-run the dedup passes), and every
    frame after that is cell-count-sized. At 100 TB this audit costs
    the two dedup passes it compares, which an engineering team runs
    anyway when evaluating a cheaper dedup family.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id")

    def clusters(pairs: DataFrame, a: str, b: str, out: str) -> DataFrame:
        # singleton pass fused into ONE left join (round-14, same
        # rewrite as dedup_clusters): comp covers exactly the
        # edge-incident docs, so docs LEFT JOIN comp + coalesce is
        # row-identical to the old anti-join + union
        comp = connected_components(pairs, src=a, dst=b).select(
            F.col("node").alias("doc_id"), F.col("component").alias(out)
        )
        return docs.join(comp, "doc_id", "left").select(
            "doc_id", F.coalesce(out, F.col("doc_id")).alias(out)
        )

    # The two dedup passes are INDEPENDENT until the contingency join
    # below, and each is a serial chain of small eager jobs
    # (signature checkpoints, CC levels, probes) that leaves most
    # executors idle — build them in two driver threads so their
    # latencies overlap (guide §2.6; see operators/par.py — same jobs,
    # same results, wall ≈ max(side) instead of sum).
    from global_superstore_data_warehouse_spark.operators.par import (
        build_concurrently,
    )

    sh, mh = build_concurrently(
        lambda: clusters(
            simhash_near_dup_pairs(spark, sf_dir), "doc_a", "doc_b", "c_sh"
        ),
        # dedup_clusters already IS a full assignment (components +
        # singletons); reuse it directly as the reference side
        lambda: dedup_clusters(spark, sf_dir).select(
            "doc_id", F.col("cluster_id").alias("c_mh")
        ),
    )

    # One doc-scale groupBy collapses BOTH dedup passes into the
    # (c, g) contingency cells; everything after is cell-scale. The
    # cells frame is checkpointed because the plan fans out over it
    # THREE ways (row totals, column totals, the weighted sum) — the
    # fan-out must not re-execute the two upstream dedup passes. The
    # per-doc sums are recovered exactly by weighting each cell by
    # its population: sum_docs p_micro = sum_cells n_cg * (1e6*n_cg
    # div n_c) — the doc-scale join-back this replaces recomputed
    # identical per-doc values n_cg times.
    cells = (
        sh.join(mh, "doc_id")
        .groupBy("c_sh", "c_mh")
        .agg(F.count(F.lit(1)).alias("n_cg"))
        .localCheckpoint(eager=True)
    )
    n_c = cells.groupBy("c_sh").agg(F.sum("n_cg").alias("n_c"))
    n_g = cells.groupBy("c_mh").agg(F.sum("n_cg").alias("n_g"))
    per_cell = (
        cells.join(n_c, "c_sh")
        .join(n_g, "c_mh")
        .select(
            "n_cg",
            F.expr("n_cg * (1000000 * n_cg div n_c)").alias("p_micro"),
            F.expr("n_cg * (1000000 * n_cg div n_g)").alias("r_micro"),
        )
    )
    return per_cell.agg(
        F.sum("n_cg").cast("bigint").alias("n_docs"),
        F.sum("p_micro").cast("bigint").alias("sum_precision_micro"),
        F.sum("r_micro").cast("bigint").alias("sum_recall_micro"),
        F.round(F.sum("p_micro") / (F.lit(1000000.0) * F.sum("n_cg")), 6).alias(
            "bcubed_precision"
        ),
        F.round(F.sum("r_micro") / (F.lit(1000000.0) * F.sum("n_cg")), 6).alias(
            "bcubed_recall"
        ),
    )


DEDUP_BCUBED_AGREEMENT_ORACLE = f"""
    WITH sh_pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM ({SIMHASH_NEAR_DUP_PAIRS_ORACLE})
    ), sh_sym AS MATERIALIZED (
        SELECT doc_a AS s, doc_b AS d FROM sh_pairs
        UNION ALL SELECT doc_b, doc_a FROM sh_pairs
    ), sh_reach AS (
        WITH RECURSIVE r(n, m) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            -- hash-to-min prune: only propagate labels DOWNHILL
            -- (m < d). Safe for MIN-reachability on a SYMMETRIC edge
            -- set: every node trivially reaches itself, so its final
            -- min is <= its own id, and the component minimum meets
            -- no smaller node to block it — dropped uphill pairs can
            -- never be a node's min. Cuts the closure from
            -- sum(|comp|^2) rows toward half, the difference between
            -- a 40-minute and a feasible sweep at sf0.1.
            SELECT sh_sym.d, r.m FROM r JOIN sh_sym ON sh_sym.s = r.n
            WHERE r.m < sh_sym.d
        )
        SELECT n AS doc_id, MIN(m) AS c_sh FROM r GROUP BY n
    ), mh AS MATERIALIZED (
        SELECT doc_id, cluster_id AS c_mh FROM ({DEDUP_CLUSTERS_ORACLE})
    ), both_c AS MATERIALIZED (
        SELECT s.doc_id, s.c_sh, m.c_mh
        FROM sh_reach s JOIN mh m USING (doc_id)
    ), cg AS MATERIALIZED (
        SELECT c_sh, c_mh, COUNT(*) AS n_cg FROM both_c GROUP BY c_sh, c_mh
    ), cc AS MATERIALIZED (
        SELECT c_sh, COUNT(*) AS n_c FROM both_c GROUP BY c_sh
    ), gg AS MATERIALIZED (
        SELECT c_mh, COUNT(*) AS n_g FROM both_c GROUP BY c_mh
    ), per_doc AS (
        SELECT (1000000 * cg.n_cg) // cc.n_c AS p_micro,
               (1000000 * cg.n_cg) // gg.n_g AS r_micro
        FROM both_c b
        JOIN cg USING (c_sh, c_mh)
        JOIN cc USING (c_sh)
        JOIN gg USING (c_mh)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p_micro) AS BIGINT) AS sum_precision_micro,
           CAST(SUM(r_micro) AS BIGINT) AS sum_recall_micro,
           ROUND(SUM(p_micro) / (1000000.0 * COUNT(*)), 6)
               AS bcubed_precision,
           ROUND(SUM(r_micro) / (1000000.0 * COUNT(*)), 6)
               AS bcubed_recall
    FROM per_doc
"""


# --- winnowing fingerprints (Schleimer et al. 2003, the MOSS scheme) ----

WINNOW_K = 7  # character k-gram length (over the normalized text)
WINNOW_W = 4  # winnowing window (guarantee: any match >= k+w-1 chars
#               shares at least one selected fingerprint)
WINNOW_DF_CAP = 50  # drop fingerprints present in more docs (boilerplate)
WINNOW_MIN_SHARED = 2  # report pairs sharing at least this many


def winnowing_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING local fingerprints (Schleimer, Wilkerson & Aiken —
    the MOSS plagiarism-detector scheme) with cross-document match
    counts: normalize text (lowercase, strip non-alphanumerics),
    hash every {K}-char gram, slide a {W}-hash window selecting the
    MINIMUM hash (rightmost on ties), dedupe selections, and report
    document pairs sharing >= {MIN_SHARED} fingerprints. Winnowing's
    guarantee — any shared substring of length >= k+w-1 yields at
    least one shared fingerprint — is what separates it from
    whole-doc (``doc_fingerprints``) and sampled (MinHash)
    signatures: it localizes WHERE the overlap is, at a bounded
    (~2/(w+1)) selection density.

    Determinism: gram hashes are the repo's 48-bit md5 primitive,
    and the per-window argmin orders by (hash asc, position desc) —
    the canonical rightmost-tie rule — via a partial-aggregated
    min(struct(h, -pos)), no window function at all. Boilerplate
    fingerprints (document frequency > {DF_CAP}) are dropped before
    pairing, the standard winnowing hygiene that also bounds the
    pair join's bucket sizes.

    Scale shape: positions explode x~n_chars and windows x{W} — all
    zero-shuffle Generates over (doc, pos) rows; selection is one
    groupBy(doc, window) min-struct (map-side combined); the pair
    stage is a fingerprint-bucketed self-join (bucket sizes capped
    by the df filter), never doc x doc.
    """
    # spread the single-split scan: every downstream byte of work up
    # to the selection groupBy (the per-position md5s, both explodes)
    # is zero-shuffle and would otherwise run in ONE scan task
    # (measured 3.2 s single-task at sf0.1, twice — see below);
    # no-op once the table splits on its own (guide §2.5)
    docs = spread_scan(
        load(spark, sf_dir, "documents"), sf_dir, "documents", by="doc_id"
    ).select(
        "doc_id",
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", "").alias("t"),
    )
    n_grams = F.length("t") - (WINNOW_K - 1)
    pos = docs.filter(n_grams >= 1).select(
        "doc_id",
        "t",
        n_grams.alias("n"),
        F.explode(F.sequence(F.lit(1), n_grams)).alias("p"),
    )
    h = F.conv(
        F.substring(F.md5(F.expr(f"substring(t, p, {WINNOW_K})")), 1, 12),
        16,
        10,
    ).cast("long")
    hashed = pos.select("doc_id", "p", "n", h.alias("h"))
    # window s covers positions [s, s+W-1]; a position p belongs to
    # windows max(1, p-W+1)..min(p, n-W+1) — CLIPPED to the last full
    # window start, the canonical winnowing scheme (a trailing
    # partial window would add fingerprints MOSS never selects). A
    # doc with fewer than W hashes keeps the single window s=1 over
    # all of them (the standard short-document convention).
    last_start = F.greatest(F.lit(1), F.col("n") - (WINNOW_W - 1))
    win = hashed.select(
        "doc_id",
        "h",
        "p",
        F.explode(
            F.sequence(
                F.greatest(F.lit(1), F.col("p") - (WINNOW_W - 1)),
                F.least(F.col("p"), last_start),
            )
        ).alias("s"),
    )
    picked = (
        win.groupBy("doc_id", "s")
        .agg(F.min(F.struct(F.col("h"), (-F.col("p")).alias("np"))).alias("m"))
        .select("doc_id", F.col("m.h").alias("h"), (-F.col("m.np")).alias("p"))
        .distinct()
    )
    # materialize the selected fingerprints ONCE: both consumers (the
    # document-frequency cap and the pair join's kept side) otherwise
    # re-run the whole explode+md5+selection lineage — measured at
    # sf0.1 as two identical 3.2 s stages (guide §2.4: duplicated
    # subtrees). Narrow (doc_id, h) rows, bounded by the winnowing
    # selection density (~2/(w+1) of positions) at any scale.
    fps = picked.select("doc_id", "h").distinct().localCheckpoint(eager=True)
    df_ok = (
        fps.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_DF_CAP)
        .select("h")
    )
    kept = fps.join(df_ok, "h", "left_semi")
    a = kept.select(F.col("doc_id").alias("doc_a"), "h")
    b = kept.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


winnowing_matches.__doc__ = winnowing_matches.__doc__.format(
    K=WINNOW_K, W=WINNOW_W, DF_CAP=WINNOW_DF_CAP, MIN_SHARED=WINNOW_MIN_SHARED
)

WINNOWING_MATCHES_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
        FROM documents
    ), pos AS (
        SELECT doc_id, t, length(t) - {WINNOW_K - 1} AS n, r.p
        FROM d,
             LATERAL (SELECT unnest(range(1,
                 CAST(length(t) - {WINNOW_K - 1} AS BIGINT) + 1)) AS p) r
    ), hashed AS (
        SELECT doc_id, p, n,
               ('0x' || substr(md5(substr(t, CAST(p AS INTEGER),
                   {WINNOW_K})), 1, 12))::BIGINT AS h
        FROM pos
    ), win AS (
        -- window starts clipped to the last FULL window (n - W + 1),
        -- matching the Spark plan's canonical winnowing selection
        SELECT doc_id, h, p, w.s
        FROM hashed,
             LATERAL (SELECT unnest(range(GREATEST(1,
                 p - {WINNOW_W - 1}),
                 LEAST(p, GREATEST(1, n - {WINNOW_W - 1})) + 1)) AS s) w
    ), picked AS (
        SELECT DISTINCT doc_id, h, p FROM (
            SELECT doc_id, h, p,
                   ROW_NUMBER() OVER (PARTITION BY doc_id, s
                       ORDER BY h ASC, p DESC) AS rn
            FROM win
        ) WHERE rn = 1
    ), fps AS (
        SELECT DISTINCT doc_id, h FROM picked
    ), df_ok AS (
        SELECT h FROM fps GROUP BY h HAVING COUNT(*) <= {WINNOW_DF_CAP}
    ), kept AS (
        SELECT f.doc_id, f.h FROM fps f JOIN df_ok USING (h)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
"""
