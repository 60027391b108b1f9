"""Deduplication operators over `documents`: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design (100 TB):
- exact dedup: hash-groupBy on content digest — one combiner-backed
  shuffle keyed by md5, no skew (hash keys are uniform).
- MinHash+LSH: shingle → K minhashes → band buckets → self-join *within
  buckets only* (the classic sub-quadratic near-dup path). The band
  join is an equi-join on the band key, so Spark shuffles both sides
  by bucket — never the full cross product.
- n-gram Jaccard: exact verification, applied only to LSH candidate
  pairs (composition: LSH proposes, Jaccard disposes).
- SimHash: per-doc 32-bit signature via bit-vote aggregation; near-dup
  bucketing on the high half.

Hash functions are md5-derived so the DuckDB oracle can reproduce them
bit-for-bit; at production scale you'd swap in xxhash64 (also a Spark
builtin) without touching the topology.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..session import fan_out, prep, read_table
from .text import ws_tokens

N_MINHASH = 8

# Per-task input budget for the shingle/minhash map stages: the
# per-byte cost here is hashing (one md5 per shingle), so ~192 KB per
# task keeps tasks in the tens-of-ms range. A full defaultParallelism
# fan-out was measured and reverted (dedup_ngram_jaccard 1.8 s → 6.5 s,
# 32-task scheduling swamped the map work); the size-derived width
# took the pairs stage 1.9 → 1.2 s (isolated best-of-3, width ~4).
SHINGLE_BYTES_PER_TASK = 192 << 10
N_BANDS = 4  # 2 rows per band
# Buckets above this size stop emitting the O(k²) clique and fall back
# to a sorted O(k) chain (same connected components — see
# minhash_lsh_pairs). 32 is ~3× the largest bucket observed on normal
# corpora at sf0.1; only adversarial boilerplate crosses it.
LSH_BUCKET_CAP = 32
SHINGLE_K = 3


def exact_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest: keep the smallest doc_id per
    group, count members."""
    prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .groupBy("n_copies")
        .agg(
            F.count("*").alias("n_groups"),
            F.min("keeper_doc_id").alias("min_keeper"),
        )
    )


EXACT_DEDUP_SQL = """
WITH groups AS (
    SELECT md5(text) AS digest, MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
)
SELECT n_copies, COUNT(*) AS n_groups, MIN(keeper_doc_id) AS min_keeper
FROM groups GROUP BY n_copies
"""


def _shingles(col: Column) -> Column:
    """Word-level k-shingles as an array<string>.

    `col` must be an ATTRIBUTE reference to an already-computed token
    array (see _with_shingles), never an inline `split(...)` expression:
    the builder references it K times, and an inline expression would be
    cloned into the lambda and re-evaluated per shingle — O(tokens²)
    regex splits per doc (measured 7× slowdown at sf0.1).
    """
    n = F.size(col)
    idx = F.sequence(F.lit(1), F.greatest(n - (SHINGLE_K - 1), F.lit(1)))
    # F.get is 0-based and returns NULL out of range (ANSI-safe for short
    # docs); concat_ws drops NULLs — matching DuckDB's toks[i] semantics.
    # The K gram terms are GENERATED from SHINGLE_K (they were once
    # hardcoded to 3, so bumping the constant silently kept emitting
    # 3-token shingles) — same construction as curation._kgrams.
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            *[F.get(col, i + F.lit(j) - 1) for j in range(SHINGLE_K)],
        ),
    )


def _with_shingles(docs: DataFrame) -> DataFrame:
    """doc_id + shingle array, with the token split materialized in its
    own projection so it is computed once per row."""
    docs = fan_out(docs, SHINGLE_BYTES_PER_TASK)
    toked = docs.select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("toks")
    )
    return toked.select("doc_id", _shingles(F.col("toks")).alias("sh"))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → N_MINHASH minhashes, computed entirely narrow (no
    explode, no groupBy): shingles stay an array column; each shingle is
    hashed with exactly ONE md5 call whose 32 hex chars are sliced into
    8 disjoint 16-bit hash functions; the per-doc minhash is
    `array_min` over each slice. Lexicographic min over fixed-width hex
    == numeric min — portable to the SQL oracle. 16 bits per slice is
    enough for banding (2-row bands → 32-bit bucket keys); at 100 TB
    this is a pure map stage: zero exchanges, 8× less hashing than
    one-md5-per-seed (measured ~5% on the sf0.1 headliner vs the
    two-md5 variant — the interpreted HOF lambda, not the hashing,
    dominates at this scale; the hashing saving matters on real-size
    documents).
    """
    sh = _with_shingles(docs)
    hashed = sh.select(
        "doc_id",
        F.transform("sh", lambda s: F.md5(s)).alias("m0"),
    )
    def _slice(off):
        # single-arg lambda on purpose: a 2-arg lambda would be taken by
        # F.transform as (element, index) and shadow the offset
        return lambda x: F.substring(x, off, 4)

    cols = []
    for s in range(N_MINHASH):
        off = s * 4 + 1
        cols.append(
            F.array_min(F.transform(F.col("m0"), _slice(off))).alias(f"h{s}")
        )
    return hashed.select("doc_id", *cols)


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over the signatures.

    The bands are exploded from ONE signature computation (not a
    per-band union, which would recompute the expensive shingle+md5
    subtree N_BANDS times on each side of the self-join — Spark reuses
    the identical exchange for both sides instead)."""
    sig = minhash_signatures(docs)
    rows_per_band = N_MINHASH // N_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                ).alias("bucket"),
            )
            for b in range(N_BANDS)
        ]
    )
    banded = sig.select(
        "doc_id", F.explode(band_structs).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # Pairs via groupBy + in-bucket combination instead of a self-join:
    # the expensive signature subtree is evaluated ONCE (a self-join
    # scans and hashes it twice), and the only exchange is the combiner-
    # backed groupBy on (band, bucket). In-bucket pair expansion is the
    # same O(k²) the join would do, but k is the bucket size (tiny by
    # LSH design).
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # Mega-bucket guard (anti-hotspot, the analog of the reference's
    # salted row keys, HBaseRowKeyMapper.java:74-100): a bucket of k
    # near-identical docs — boilerplate-heavy corpora produce k in the
    # tens of thousands — would expand to k(k-1)/2 pairs inside ONE
    # task and become the stage straggler. Buckets larger than
    # LSH_BUCKET_CAP emit a sorted STAR (every id paired with the
    # bucket's min id: k-1 pairs) instead of the clique: connected
    # components are IDENTICAL (the star links exactly the same ids)
    # and its diameter-2 shape keeps the label-propagation round count
    # flat, so cluster-level dedup loses nothing; only the exhaustive
    # pair listing is thinned, and a thinned pair can still surface
    # via the other N_BANDS-1 bands.
    all_pairs = """flatten(transform(ids, (x, i) ->
        transform(slice(ids, i + 2, size(ids) - i - 1),
                  y -> struct(x AS doc_a, y AS doc_b))))"""
    star = """transform(slice(ids, 2, size(ids) - 1), y ->
        struct(element_at(ids, 1) AS doc_a, y AS doc_b))"""
    pairs = (
        buckets.select(
            F.explode(
                F.when(
                    F.size("ids") <= LSH_BUCKET_CAP, F.expr(all_pairs)
                ).otherwise(F.expr(star))
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return pairs


def minhash_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs)


# generated from SHINGLE_K in lockstep with the Spark builder
_SHINGLES_SQL = f"""
list_filter(
    list_transform(
        range(1, greatest(len(toks) - {SHINGLE_K - 1}, 1) + 1),
        i -> concat_ws(' ', {", ".join(
            "toks[i]" if j == 0 else f"toks[i+{j}]"
            for j in range(SHINGLE_K)
        )})),
    s -> s IS NOT NULL)
"""

_SIG_SLICES = ", ".join(
    "list_min(list_transform(m0, x -> substr(x, {off}, 4))) AS h{s}".format(
        off=s * 4 + 1, s=s
    )
    for s in range(N_MINHASH)
)

_SIG_SQL = f"""
WITH toked AS (
    SELECT doc_id,
        list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
    FROM documents
), shingled AS (
    SELECT doc_id, {_SHINGLES_SQL} AS sh FROM toked
), hashed AS (
    SELECT doc_id, list_transform(sh, s -> md5(s)) AS m0
    FROM shingled
), sig AS (
    SELECT doc_id, {_SIG_SLICES} FROM hashed
)
"""

# rows-per-band derived from (N_MINHASH, N_BANDS) exactly as the Spark
# side derives it — a hardcoded 2-row layout would silently desync
# every LSH-derived oracle if the banding knobs are retuned
_ROWS_PER_BAND = N_MINHASH // N_BANDS
_BANDED_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    + " || '|' || ".join(
        f"h{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
    )
    + " AS bucket FROM sig"
    for b in range(N_BANDS)
)

# Bucket → pair expansion with the same LSH_BUCKET_CAP clique/star
# rule as minhash_lsh_pairs (oversized buckets emit a sorted star).
_PAIRS_SQL = f"""buckets AS (
    SELECT band, bucket, list_sort(list(doc_id)) AS ids
    FROM banded GROUP BY band, bucket HAVING count(*) > 1
), expanded AS (
    SELECT unnest(CASE WHEN len(ids) <= {LSH_BUCKET_CAP} THEN
        flatten(list_transform(range(1, len(ids) + 1), i ->
            list_transform(range(i + 1, len(ids) + 1), j ->
                {{'doc_a': ids[i], 'doc_b': ids[j]}})))
    ELSE
        list_transform(range(2, len(ids) + 1), i ->
            {{'doc_a': ids[1], 'doc_b': ids[i]}})
    END) AS p
    FROM buckets
), pairs AS (
    SELECT DISTINCT p.doc_a AS doc_a, p.doc_b AS doc_b FROM expanded
)"""

MINHASH_LSH_SQL = (
    _SIG_SQL
    + f""", banded AS ({_BANDED_SQL}),
{_PAIRS_SQL}
SELECT doc_a, doc_b FROM pairs
"""
)


def ngram_jaccard_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity on the LSH candidate pairs —
    LSH proposes, Jaccard verifies (the standard two-phase near-dup)."""
    prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    sets = _with_shingles(docs).select(
        "doc_id", F.array_distinct(F.col("sh")).alias("sh")
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return joined.select(
        "doc_a",
        "doc_b",
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
    )


NGRAM_JACCARD_SQL = (
    _SIG_SQL
    + f""", banded AS ({_BANDED_SQL}),
{_PAIRS_SQL}, sets AS (
    SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh
    FROM (
        SELECT doc_id,
            list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
        FROM documents)
)
SELECT p.doc_a, p.doc_b,
    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
        AS jaccard
FROM pairs p
JOIN sets sa ON p.doc_a = sa.doc_id
JOIN sets sb ON p.doc_b = sb.doc_id
"""
)

# ------------------------------------------- containment (asymmetric)

# Jaccard is symmetric and misses near-SUBSET duplication — a short
# page fully quoted inside a long one scores low Jaccard but has
# containment(A in B) ≈ 1. Containment is the signal quote/boilerplate
# dedup actually thresholds on (and the reason big-corpus pipelines
# track it separately from the symmetric near-dup pass). Same
# propose/verify shape as ngram_jaccard: LSH candidates only, then
# |A∩B| scored against EACH side's size.
CONTAINMENT_T = 0.5


def containment_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per LSH candidate pair: containment in both directions (share of
    the smaller statement covered by the other), keeping pairs where
    either direction crosses CONTAINMENT_T."""
    prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    sets = _with_shingles(docs).select(
        "doc_id", F.array_distinct(F.col("sh")).alias("sh")
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    c_ab = inter / F.size("sh_a")
    c_ba = inter / F.size("sh_b")
    return (
        joined.select(
            "doc_a",
            "doc_b",
            F.round(c_ab, 6).alias("containment_a_in_b"),
            F.round(c_ba, 6).alias("containment_b_in_a"),
        )
        .where(
            (F.col("containment_a_in_b") >= CONTAINMENT_T)
            | (F.col("containment_b_in_a") >= CONTAINMENT_T)
        )
    )


CONTAINMENT_SQL = (
    _SIG_SQL
    + f""", banded AS ({_BANDED_SQL}),
{_PAIRS_SQL}, sets AS (
    SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh
    FROM (
        SELECT doc_id,
            list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
        FROM documents)
), scored AS (
    SELECT p.doc_a, p.doc_b,
        round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / len(sa.sh), 6) AS containment_a_in_b,
        round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / len(sb.sh), 6) AS containment_b_in_a
    FROM pairs p
    JOIN sets sa ON p.doc_a = sa.doc_id
    JOIN sets sb ON p.doc_b = sb.doc_id
)
SELECT * FROM scored
WHERE containment_a_in_b >= {CONTAINMENT_T}
   OR containment_b_in_a >= {CONTAINMENT_T}
"""
)

SIMHASH_BITS = 32
_HEX = "0123456789abcdef"


def simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: each token votes ±1 on every bit of
    its md5; the sign of the vote sum is the signature bit. Emitted as a
    bit-string plus the 8-bit prefix bucket (near-dup blocking key)."""
    prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("t")
    )
    hashed = tok.select(
        "doc_id", F.substring(F.md5(F.col("t")), 1, 8).alias("h8")
    )
    # bit b of the token hash: nibble = hexval(h8[b/4]); bit = nibble>>(3-b%4)&1
    votes = hashed.select(
        "doc_id",
        *[
            (
                (
                    (
                        F.instr(
                            F.lit(_HEX),
                            F.substring(F.col("h8"), b // 4 + 1, 1),
                        )
                        - 1
                    ).bitwiseAND(F.lit(8 >> (b % 4)))
                    > 0
                )
                .cast("int")
                .alias(f"b{b}")
            )
            for b in range(SIMHASH_BITS)
        ],
    )
    agg = votes.groupBy("doc_id").agg(
        *[
            (F.sum(F.col(f"b{b}") * 2 - 1) > 0).cast("int").alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = agg.select(
        "doc_id",
        F.concat(*[F.col(f"s{b}").cast("string") for b in range(SIMHASH_BITS)]).alias(
            "simhash"
        ),
    )
    return sig.select(
        "doc_id", "simhash", F.substring("simhash", 1, 8).alias("bucket8")
    )


_SIMHASH_BIT_SQL = ", ".join(
    f"CAST(((strpos('{_HEX}', substr(h8, {b // 4 + 1}, 1)) - 1) & {8 >> (b % 4)}) > 0 AS INT) AS b{b}"
    for b in range(SIMHASH_BITS)
)
_SIMHASH_SIGN_SQL = ", ".join(
    f"CAST(SUM(b{b} * 2 - 1) > 0 AS INT) AS s{b}" for b in range(SIMHASH_BITS)
)
_SIMHASH_CONCAT_SQL = " || ".join(
    f"CAST(s{b} AS VARCHAR)" for b in range(SIMHASH_BITS)
)

SIMHASH_SQL = f"""
WITH tok AS (
    SELECT doc_id,
        unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
            AS t
    FROM documents
), hashed AS (
    SELECT doc_id, substr(md5(t), 1, 8) AS h8 FROM tok
), votes AS (
    SELECT doc_id, {_SIMHASH_BIT_SQL} FROM hashed
), agg AS (
    SELECT doc_id, {_SIMHASH_SIGN_SQL} FROM votes GROUP BY doc_id
), sig AS (
    SELECT doc_id, {_SIMHASH_CONCAT_SQL} AS simhash FROM agg
)
SELECT doc_id, simhash, substr(simhash, 1, 8) AS bucket8 FROM sig
"""


# The synthetic embeddings are near-orthogonal (max pairwise cosine
# ≈ 0.47), so the threshold sits at the similarity tail to keep the
# operator's output non-empty; on a real corpus it would be ~0.95+.
EMB_NEAR_DUP_THRESHOLD = 0.30


def embedding_near_dup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: candidate pairs from shared
    random-hyperplane LSH buckets (sub-quadratic blocking), verified by
    exact cosine ≥ threshold. Same propose/dispose split as
    MinHash+Jaccard, over the vector modality."""
    from .similarity import _as_double, _dot, _norm, lsh_bucket_expr

    prep(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    bucketed = emb.select(
        "vec_id", lsh_bucket_expr(F.col("v")).alias("bucket")
    )
    buckets = (
        bucketed.groupBy("bucket")
        .agg(F.array_sort(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                """flatten(transform(ids, (x, i) ->
                    transform(slice(ids, i + 2, size(ids) - i - 1),
                              y -> struct(x AS vec_a, y AS vec_b))))"""
            )
        ).alias("p")
    ).select("p.vec_a", "p.vec_b")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        pairs.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (_norm(F.col("va")) * _norm(F.col("vb"))),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= EMB_NEAR_DUP_THRESHOLD)
    )


def _emb_near_dup_sql() -> str:
    from .similarity import _BUCKET_SQL, _dot_sql

    return f"""
WITH emb AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), bucketed AS (
    SELECT vec_id, {_BUCKET_SQL} AS bucket FROM emb
), pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
    round((0.0 + {_dot_sql("ea.v", "eb.v")})
        / (sqrt(0.0 + {_dot_sql("ea.v", "ea.v")})
           * sqrt(0.0 + {_dot_sql("eb.v", "eb.v")})), 6) AS cosine
FROM pairs
JOIN emb ea ON vec_a = ea.vec_id
JOIN emb eb ON vec_b = eb.vec_id
WHERE round((0.0 + {_dot_sql("ea.v", "eb.v")})
        / (sqrt(0.0 + {_dot_sql("ea.v", "ea.v")})
           * sqrt(0.0 + {_dot_sql("eb.v", "eb.v")})), 6)
      >= {EMB_NEAR_DUP_THRESHOLD}
"""


# ------------------------------------------------ threshold sweep
#
# Threshold-sensitivity curve for embedding near-dedup: over the SAME
# LSH-blocked candidate pairs as dedup_embedding_cosine, count pairs
# and distinct docs flagged at each cosine cutoff in a grid — the
# curve a curation owner reads before picking the production
# threshold (too low = over-merging, too high = dup leakage). One
# candidate scoring pass; the grid is a tiny conditional agg over it,
# so the sweep costs the same as a single-threshold run at 100 TB.

SWEEP_THRESHOLDS = (0.20, 0.25, 0.30, 0.35, 0.40, 0.45)


def threshold_sweep_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _as_double, _dot, _norm, lsh_bucket_expr

    prep(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    bucketed = emb.select(
        "vec_id", lsh_bucket_expr(F.col("v")).alias("bucket")
    )
    buckets = (
        bucketed.groupBy("bucket")
        .agg(F.array_sort(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                """flatten(transform(ids, (x, i) ->
                    transform(slice(ids, i + 2, size(ids) - i - 1),
                              y -> struct(x AS vec_a, y AS vec_b))))"""
            )
        ).alias("p")
    ).select("p.vec_a", "p.vec_b")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    scored = (
        pairs.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (_norm(F.col("va")) * _norm(F.col("vb"))),
                6,
            ).alias("cosine"),
        )
    )
    # ONE conditional aggregation over the scored pairs, not a
    # 6-branch union of per-threshold aggregates: the union shape
    # re-evaluated the whole bucket+score subtree once per threshold
    # (18 embedding scans at 100 TB — found by the round-8
    # redundant-scan audit); this computes every threshold's counts
    # in a single pass and explodes the constant grid back to rows.
    # countDistinct(greatest) = keep-lowest-id policy: at threshold t
    # every pair drops its higher id; distinct count = docs removed.
    aggs = []
    for i, t in enumerate(SWEEP_THRESHOLDS):
        cond = F.col("cosine") >= t
        aggs.append(F.sum(cond.cast("long")).alias(f"np_{i}"))
        aggs.append(
            F.countDistinct(
                F.when(cond, F.greatest("vec_a", "vec_b"))
            ).alias(f"nd_{i}")
        )
    one = scored.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.round(F.lit(t), 2).alias("threshold"),
                F.coalesce(F.col(f"np_{i}"), F.lit(0)).alias(
                    "n_pairs"
                ),
                F.coalesce(F.col(f"nd_{i}"), F.lit(0)).alias(
                    "n_docs_dropped"
                ),
            )
            for i, t in enumerate(SWEEP_THRESHOLDS)
        ]
    )
    return one.select(F.explode(rows).alias("r")).select(
        "r.threshold", "r.n_pairs", "r.n_docs_dropped"
    )


def _threshold_sweep_sql() -> str:
    from .similarity import _BUCKET_SQL, _dot_sql

    branches = " UNION ALL ".join(
        f"""
SELECT round({t}, 2) AS threshold,
    COUNT(*) AS n_pairs,
    COUNT(DISTINCT greatest(vec_a, vec_b)) AS n_docs_dropped
FROM scored WHERE cosine >= {t}"""
        for t in SWEEP_THRESHOLDS
    )
    return f"""
WITH emb AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), bucketed AS (
    SELECT vec_id, {_BUCKET_SQL} AS bucket FROM emb
), pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), scored AS (
    SELECT vec_a, vec_b,
        round((0.0 + {_dot_sql("ea.v", "eb.v")})
            / (sqrt(0.0 + {_dot_sql("ea.v", "ea.v")})
               * sqrt(0.0 + {_dot_sql("eb.v", "eb.v")})), 6) AS cosine
    FROM pairs
    JOIN emb ea ON vec_a = ea.vec_id
    JOIN emb eb ON vec_b = eb.vec_id
)
{branches}
"""


# ------------------------------------------- SemDeDup-style cell dedup
#
# Semantic deduplication in the SemDeDup shape (Abbas et al. 2023,
# arXiv:2303.09540): partition the embedding space into quantizer
# cells, then within each cell drop every vector whose cosine to a
# LOWER-id cellmate reaches the threshold (min-id representative —
# the repo's canonical keep rule, dedup_clusters' convention). Cells
# come from the corpus-scaled hyperplane quantizer sim_knn_graph
# introduced (cell count ≈ n / KNN_TARGET_CELL from one scalar
# count), so within-cell pair work stays LINEAR in corpus size at any
# scale — the property that makes SemDeDup runnable at 100 TB where a
# global pairwise cosine is n². Emits the full per-vector decision
# (cell, kept, dup_of) so downstream curation can join the verdicts.
#
# The threshold sits at the similarity tail for the near-orthogonal
# synthetic corpus (see EMB_NEAR_DUP_THRESHOLD's note); real corpora
# run ~0.95+.

SEMDEDUP_THRESHOLD = 0.30


def semantic_cells_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _as_double, _dot, _knn_cell, _knn_h, _norm

    prep(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    # sanctioned constant-size reduction (see knn_graph_query)
    h = _knn_h(emb.count())
    emb = fan_out(emb)  # §2.5 input-skew guard, as knn_graph
    celled = emb.select(
        "vec_id", "v", _knn_cell(F.col("v"), h).alias("cell")
    )
    normed = celled.select(
        "vec_id", "cell", "v", _norm(F.col("v")).alias("nv")
    )
    unit = normed.select(
        "vec_id", "cell",
        F.transform("v", lambda x: x / F.col("nv")).alias("u"),
    )
    lower = unit.select(
        F.col("vec_id").alias("cand_id"), "cell", F.col("u").alias("cu")
    )
    dup = (
        unit.join(lower, "cell")
        .where(F.col("cand_id") < F.col("vec_id"))
        .where(
            F.round(_dot(F.col("u"), F.col("cu")), 6)
            >= F.lit(SEMDEDUP_THRESHOLD)
        )
        .groupBy("vec_id")
        .agg(F.min("cand_id").alias("dup_of"))
    )
    return (
        celled.join(dup, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )


def _semantic_cells_sql() -> str:
    from .similarity import _KNN_CELL_SQL, _KNN_H_SQL, _dot_sql

    return f"""
WITH emb AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), hh AS (
    SELECT {_KNN_H_SQL} AS h FROM (SELECT COUNT(*) AS n_total FROM emb)
), celled AS MATERIALIZED (
    SELECT vec_id, v, {_KNN_CELL_SQL} AS cell
    FROM emb CROSS JOIN hh
), normed AS (
    SELECT vec_id, cell, v, sqrt(0.0 + {_dot_sql("v", "v")}) AS nv
    FROM celled
), unit AS MATERIALIZED (
    SELECT vec_id, cell, list_transform(v, x -> x / nv) AS u
    FROM normed
), dup AS (
    SELECT a.vec_id, MIN(b.vec_id) AS dup_of
    FROM unit a JOIN unit b USING (cell)
    WHERE b.vec_id < a.vec_id
      AND round(0.0 + {_dot_sql("a.u", "b.u")}, 6)
          >= {SEMDEDUP_THRESHOLD}
    GROUP BY a.vec_id
)
SELECT c.vec_id, c.cell, dup_of IS NULL AS kept, dup_of
FROM celled c LEFT JOIN dup USING (vec_id)
"""


# ------------------------------------- exact substring-span dedup
#
# Substring-level exact dedup (the Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" ExactSubstr recipe,
# re-expressed relationally): any W-token window whose exact token
# sequence occurs ≥2 times ANYWHERE in the corpus (other docs or a
# repeat within the same doc) marks its token span as duplicated;
# overlapping marked spans merge, and each doc reports its merged
# spans and duplicated-token fraction — the per-doc cut list a
# substring-dedup pass would apply. The suffix-array construction the
# paper uses is replaced by the relational equivalent: positional
# W-gram matching (every duplicated substring of length ≥ W contains
# a duplicated W-gram, and merged W-gram spans reconstruct exactly
# the maximal duplicated regions).
#
# Scale shape: positional W-gram explode (linear) → occurrence count
# as ONE window keyed by gram (the dupfrac single-shuffle trick —
# count-in-place instead of agg + join back, which would shuffle the
# expensive gram strings twice) → survivors shuffle ONCE by doc_id
# for the span merge, where per-doc window state is bounded by doc
# length. Nothing quadratic, no global sort.
#
# Determinism: all integers; span-merge windows order by pos, which
# is unique per doc.

SPAN_W = 8


def substring_spans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .curation import _kgrams

    prep(spark)
    toked = (
        fan_out(read_table(spark, sf_dir, "documents"))
        .select(
            "doc_id", ws_tokens(F.lower(F.col("text"))).alias("toks")
        )
        .where(F.size("toks") >= SPAN_W)
    )
    grams = toked.select(
        "doc_id",
        F.posexplode(_kgrams(F.col("toks"), SPAN_W)).alias("p0", "gram"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "gram")
    occ = grams.withColumn(
        "n_occ", F.count("*").over(W.partitionBy("gram"))
    )
    spans = occ.where(F.col("n_occ") >= 2).select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + SPAN_W - 1).alias("e"),
    )
    w_prev = (
        W.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_cum = (
        W.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    isl = spans.withColumn(
        "brk",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)),
            1,
        ).otherwise(0),
    ).withColumn("isl", F.sum("brk").over(w_cum))
    merged = isl.groupBy("doc_id", "isl").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("me") - F.col("ms") + 1).alias("dup_tokens"),
    )
    return (
        toked.select("doc_id", F.size("toks").alias("n_toks"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_toks"),
                6,
            ).alias("dup_frac"),
        )
    )


SUBSTRING_SPANS_SQL = f"""
WITH toked AS (
    SELECT * FROM (
        SELECT doc_id,
            list_filter(string_split(lower(text), ' '), t -> t <> '')
                AS toks
        FROM documents
    ) WHERE len(toks) >= {SPAN_W}
), pg AS (
    SELECT doc_id, toks,
        unnest(range(1, len(toks) - {SPAN_W - 1} + 1)) AS pos
    FROM toked
), grams AS (
    SELECT doc_id, pos,
        concat_ws(' ',
            {", ".join(f"toks[pos+{j}]" for j in range(SPAN_W))})
        AS gram
    FROM pg
), occ AS (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gram) AS n_occ
    FROM grams
), spans AS (
    SELECT doc_id, pos AS s, pos + {SPAN_W - 1} AS e
    FROM occ WHERE n_occ >= 2
), isl AS (
    SELECT doc_id, s, e,
        CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            -1) THEN 1 ELSE 0 END AS brk
    FROM spans
), isl2 AS (
    SELECT doc_id, s, e,
        SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
            ROWS UNBOUNDED PRECEDING) AS isl
    FROM isl
), merged AS (
    SELECT doc_id, isl, MIN(s) AS ms, MAX(e) AS me
    FROM isl2 GROUP BY doc_id, isl
), per_doc AS (
    SELECT doc_id, COUNT(*) AS n_spans,
        SUM(me - ms + 1) AS dup_tokens
    FROM merged GROUP BY doc_id
)
SELECT t.doc_id, len(t.toks) AS n_toks,
    CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
    CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
    round(CAST(COALESCE(dup_tokens, 0) AS DOUBLE) / len(t.toks), 6)
        AS dup_frac
FROM toked t LEFT JOIN per_doc USING (doc_id)
"""


# ------------------------------------------- LSH band/row tuning
#
# Expected-detection audit of alternative MinHash banding configs:
# for every (bands b, rows-per-band r) split of the 8-hash signature,
# the S-curve P(candidate | s) = 1 - (1 - s^r)^b evaluated over the
# MEASURED similarity histogram of the current candidate population
# (exact n-gram Jaccard of the LSH pairs, 20 bins at bin midpoints).
# Answers the banding-threshold question ("would (2,4) still catch
# our observed near-dups?") from data instead of the abstract curve.
#
# Determinism: bin midpoints are dyadic; s^r and (1-s^r)^b use
# EXPLICIT repeated-multiplication chains built column-by-column
# (identical CTE steps in both engines — pow() is not correctly
# rounded, squaring chains are plain IEEE multiplies); per-bin
# detection probs round to 9 dp and weight the integer histogram as
# DECIMAL (order-exact sums).
#
# Scale: rides the propose/verify plan (one LSH pass + one Jaccard
# verify); the histogram is 20 rows, the config grid a constant
# fan-out. Nothing new shuffles.

BAND_CONFIGS = ((8, 1), (4, 2), (2, 4), (1, 8))  # b x r = N_MINHASH
BAND_BINS = 20


def minhash_band_tuning_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = ngram_jaccard_query(spark, sf_dir)
    hist = (
        scored.select(
            F.least(
                F.floor(F.col("jaccard") * BAND_BINS), F.lit(BAND_BINS - 1)
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n_pairs"))
    )
    cfg = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("bands"),
                    F.lit(r).alias("rows_per_band"),
                )
                for b, r in BAND_CONFIGS
            ]
        )
    ).alias("cfg")
    fan = hist.select("bin", "n_pairs", cfg).select(
        "bin", "n_pairs", "cfg.bands", "cfg.rows_per_band"
    )
    powed = (
        fan.withColumn(
            "s",
            F.expr(
                f"(CAST(bin AS DOUBLE) + 0.5E0) / {BAND_BINS}.0E0"
            ),
        )
        .withColumn("s2", F.expr("s * s"))
        .withColumn("s4", F.expr("s2 * s2"))
        .withColumn("s8", F.expr("s4 * s4"))
        .withColumn(
            "pr",
            F.expr(
                "CASE rows_per_band WHEN 1 THEN s WHEN 2 THEN s2"
                " WHEN 4 THEN s4 ELSE s8 END"
            ),
        )
        .withColumn("q", F.expr("1.0E0 - pr"))
        .withColumn("q2", F.expr("q * q"))
        .withColumn("q4", F.expr("q2 * q2"))
        .withColumn("q8", F.expr("q4 * q4"))
        .withColumn(
            "pd",
            F.expr(
                "1.0E0 - CASE bands WHEN 1 THEN q WHEN 2 THEN q2"
                " WHEN 4 THEN q4 ELSE q8 END"
            ),
        )
    )
    agg = powed.groupBy("bands", "rows_per_band").agg(
        F.sum("n_pairs").alias("n_pairs"),
        # widths chosen so the product stays exact under Spark's
        # 38-precision cap: (19,0)x(10,9) -> (30,9). pd is in [0,1]
        # so DECIMAL(10,9) holds it exactly after round(...,9); a
        # (20,0)x(20,9) product hits precision 41 > 38 and Spark
        # silently drops scale to 7, and the earlier (10,0) count
        # cast overflowed (NULL) for bins with >= 1e10 candidate
        # pairs — plausible at the 100 TB design point (r8 ADVICE).
        # DuckDB mirrors the exact same widths below.
        F.sum(
            F.col("n_pairs").cast("decimal(19,0)")
            * F.round("pd", 9).cast("decimal(10,9)")
        ).alias("_exp"),
    )
    # integer outputs only: the decimal sum is an exact multiple of
    # 1e-9 (nano-units cast exactly), and the rate uses the
    # engine-identical floor(x*1e6 + 0.5) fold — round(double, 6)
    # disagrees across engines within an ulp of a 5e-7 boundary
    # (caught by the sf0.001 parity sweep)
    return agg.select(
        "bands",
        "rows_per_band",
        "n_pairs",
        (F.col("_exp") * F.lit(1_000_000_000))
        .cast("long")
        .alias("expected_detected_nano"),
        F.floor(
            F.col("_exp").cast("double")
            / F.col("n_pairs").cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long").alias("detect_rate_ppm"),
    )


def _band_tuning_sql() -> str:
    cfg_rows = ", ".join(f"({b}, {r})" for b, r in BAND_CONFIGS)
    return (
        "WITH j AS ("
        + NGRAM_JACCARD_SQL
        + f"""
), hist AS (
    SELECT least(CAST(floor(jaccard * {BAND_BINS}.0E0) AS BIGINT),
                 {BAND_BINS - 1}) AS bin,
        COUNT(*) AS n_pairs
    FROM j GROUP BY 1
), fan AS (
    SELECT bin, n_pairs, bands, rows_per_band
    FROM hist CROSS JOIN (VALUES {cfg_rows})
        AS cfg(bands, rows_per_band)
), st1 AS (
    SELECT *, (CAST(bin AS DOUBLE) + 0.5E0) / {BAND_BINS}.0E0 AS s
    FROM fan
), st2 AS (SELECT *, s * s AS s2 FROM st1),
st3 AS (SELECT *, s2 * s2 AS s4 FROM st2),
st4 AS (SELECT *, s4 * s4 AS s8 FROM st3),
st5 AS (
    SELECT *, CASE rows_per_band WHEN 1 THEN s WHEN 2 THEN s2
        WHEN 4 THEN s4 ELSE s8 END AS pr
    FROM st4
), st6 AS (SELECT *, 1.0E0 - pr AS q FROM st5),
st7 AS (SELECT *, q * q AS q2 FROM st6),
st8 AS (SELECT *, q2 * q2 AS q4 FROM st7),
st9 AS (SELECT *, q4 * q4 AS q8 FROM st8),
st10 AS (
    SELECT *, 1.0E0 - CASE bands WHEN 1 THEN q WHEN 2 THEN q2
        WHEN 4 THEN q4 ELSE q8 END AS pd
    FROM st9
), agg AS (
    SELECT bands, rows_per_band,
        CAST(SUM(n_pairs) AS BIGINT) AS n_pairs,
        SUM(CAST(n_pairs AS DECIMAL(19,0))
            * CAST(round(pd, 9) AS DECIMAL(10,9))) AS _exp
    FROM st10 GROUP BY bands, rows_per_band
)
SELECT bands, rows_per_band, n_pairs,
    CAST(_exp * 1000000000 AS BIGINT) AS expected_detected_nano,
    CAST(floor(CAST(_exp AS DOUBLE) / CAST(n_pairs AS DOUBLE)
               * 1000000.0E0 + 0.5E0) AS BIGINT) AS detect_rate_ppm
FROM agg
"""
    )


# ------------------------------------------- template-prefix clusters
#
# Boilerplate/template detection by shared document PREFIX: docs whose
# first K tokens are identical are near-certain template instances
# (scraped headers, licence preambles, generated-form text) even when
# their bodies diverge past every similarity threshold. The cheap
# complement to MinHash: one map-side key extraction + one groupBy —
# no shingling, no banding.
#
# Scale: prefix key is computed map-side (bounded K-token string);
# ONE combiner-backed groupBy(prefix) — linear shuffle keyed by a
# short string; output only multi-doc groups (bounded by template
# count, not corpus size). Determinism: integer counts + min rowkeys.

TEMPLATE_PREFIX_K = 8


def template_prefix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        "lang",
        ws_tokens(F.lower(F.col("text"))).alias("toks"),
    ).where(F.size("toks") >= TEMPLATE_PREFIX_K)
    keyed = toked.select(
        "doc_id",
        "lang",
        F.concat_ws(
            " ", F.slice("toks", 1, TEMPLATE_PREFIX_K)
        ).alias("prefix"),
    )
    return (
        keyed.groupBy("prefix")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("rep_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


TEMPLATE_PREFIX_SQL = f"""
WITH toked AS (
    SELECT doc_id, lang,
        list_filter(string_split(lower(text), ' '), t -> t <> '')
            AS toks
    FROM documents
), keyed AS (
    SELECT doc_id, lang,
        concat_ws(' ',
            {", ".join(f"toks[{j + 1}]" for j in range(TEMPLATE_PREFIX_K))})
        AS prefix
    FROM toked WHERE len(toks) >= {TEMPLATE_PREFIX_K}
)
SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
    CAST(MIN(doc_id) AS BIGINT) AS rep_doc
FROM keyed GROUP BY prefix HAVING COUNT(*) >= 2
"""


# ----------------------------------- content-defined chunk dedup (CDC)
#
# FastCDC/Rabin-style content-defined chunking at token granularity:
# a boundary falls wherever the rolling 3-token window hash ≡ 0
# (mod CDC_MOD), so chunk cuts move WITH the content — inserting a
# token near the start of a document shifts every fixed-size block
# but leaves all content-defined chunks after the next boundary
# intact. That makes chunk fingerprints robust to prefix edits, the
# property backup dedup and near-identical-document detection need
# (and that fixed-window shingles lack). Reports the most-duplicated
# chunks across the corpus.
#
# Scale: all windows are per-document (partitioned — no global
# sort); the chunk fingerprint agg and the cross-corpus duplicate agg
# are combiner-backed, keyed by (doc, chunk) then fingerprint. The
# top-K window is rank<=K-filtered adjacent (limit pushdown). No
# pairwise comparison anywhere — dedup is an equality groupBy on the
# fingerprint.
#
# Determinism: boundaries from md5 nibbles; chunk text is
# concat_ws-over-array_sort == string_agg ORDER BY pos.

CDC_MOD = 8  # expected chunk length ~ CDC_MOD tokens
CDC_TOP_K = 20


def chunk_cdc_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(ws_tokens(F.lower(F.col("text")))).alias(
            "pos", "w"
        ),
    )
    w_doc = W.partitionBy("doc_id").orderBy("pos")
    rolled = pos.select(
        "doc_id",
        "pos",
        "w",
        F.lag("w", 2).over(w_doc).alias("w1"),
        F.lag("w", 1).over(w_doc).alias("w2"),
    )
    h2 = F.conv(
        F.substring(
            F.md5(F.concat_ws(" ", "w1", "w2", "w")), 1, 2
        ),
        16,
        10,
    ).cast("int")
    flagged = rolled.select(
        "doc_id",
        "pos",
        "w",
        (
            (F.col("pos") >= 2) & ((h2 % CDC_MOD) == 0)
        ).cast("int").alias("b"),
    )
    # boundary token is the LAST token of its chunk: chunk id is the
    # EXCLUSIVE prefix sum of boundary flags
    chunked = flagged.withColumn(
        "chunk",
        F.coalesce(
            F.sum("b").over(
                w_doc.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    chunks = chunked.groupBy("doc_id", "chunk").agg(
        F.count("*").alias("n_toks"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda s: s["w"],
                ),
            )
        ).alias("fp"),
    )
    dup = chunks.groupBy("fp").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.max("n_toks").alias("chunk_tokens"),
    ).where(F.col("n_occurrences") >= 2)
    w_top = W.orderBy(F.col("n_occurrences").desc(), "fp")
    return (
        dup.withColumn("rk", F.row_number().over(w_top))
        .where(F.col("rk") <= CDC_TOP_K)
        .select(
            F.col("rk").alias("rank"),
            "fp",
            "n_occurrences",
            "n_docs",
            "chunk_tokens",
        )
    )


CHUNK_CDC_SQL = f"""
WITH toked AS (
    SELECT doc_id,
        list_filter(string_split(lower(text), ' '), t -> t <> '')
            AS toks
    FROM documents
), pos AS (
    SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
        unnest(toks) AS w
    FROM toked
), rolled AS (
    SELECT doc_id, pos, w,
        LAG(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        LAG(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM pos
), flagged AS (
    SELECT doc_id, pos, w,
        CASE WHEN pos >= 2 AND (
            ((strpos('{_HEX}', substr(h, 1, 1)) - 1) * 16
             + strpos('{_HEX}', substr(h, 2, 1)) - 1) % {CDC_MOD}
        ) = 0 THEN 1 ELSE 0 END AS b
    FROM (
        SELECT doc_id, pos, w,
            md5(concat_ws(' ', w1, w2, w)) AS h
        FROM rolled
    )
), chunked AS (
    SELECT doc_id, pos, w,
        COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS chunk
    FROM flagged
), chunks AS (
    SELECT doc_id, chunk, COUNT(*) AS n_toks,
        md5(string_agg(w, ' ' ORDER BY pos)) AS fp
    FROM chunked GROUP BY doc_id, chunk
), dup AS (
    SELECT fp, COUNT(*) AS n_occurrences,
        COUNT(DISTINCT doc_id) AS n_docs,
        CAST(MAX(n_toks) AS BIGINT) AS chunk_tokens
    FROM chunks GROUP BY fp
    HAVING COUNT(*) >= 2
)
SELECT rk AS rank, fp, n_occurrences, n_docs, chunk_tokens FROM (
    SELECT *, ROW_NUMBER() OVER (
        ORDER BY n_occurrences DESC, fp) AS rk
    FROM dup
) WHERE rk <= {CDC_TOP_K}
"""


REGISTRY = [
    ("dedup_exact", exact_dedup_query, EXACT_DEDUP_SQL),
    ("dedup_minhash_lsh", minhash_lsh_query, MINHASH_LSH_SQL),
    ("dedup_ngram_jaccard", ngram_jaccard_query, NGRAM_JACCARD_SQL),
    ("dedup_simhash", simhash_query, SIMHASH_SQL),
    ("dedup_embedding_cosine", embedding_near_dup_query, _emb_near_dup_sql()),
    ("dedup_containment", containment_query, CONTAINMENT_SQL),
    ("dedup_threshold_sweep", threshold_sweep_query, _threshold_sweep_sql()),
    # SemDeDup-style within-cell semantic dedup (corpus-scaled cells)
    ("dedup_semantic_cells", semantic_cells_query, _semantic_cells_sql()),
    # ExactSubstr-style duplicated-span merge (Lee et al. 2022)
    ("dedup_substring_spans", substring_spans_query, SUBSTRING_SPANS_SQL),
    # shared first-K-token template/boilerplate clusters (round 8)
    ("dedup_template_prefix", template_prefix_query,
     TEMPLATE_PREFIX_SQL),
    # banding S-curve audit over the measured Jaccard histogram
    ("dedup_minhash_band_tuning", minhash_band_tuning_query,
     _band_tuning_sql()),
    # content-defined chunking duplicate-chunk report (round 9)
    ("dedup_chunk_cdc", chunk_cdc_query, CHUNK_CDC_SQL),
]
