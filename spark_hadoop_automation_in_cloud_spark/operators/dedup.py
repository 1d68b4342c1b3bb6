"""Document deduplication operators (training-data pipeline extensions,
SURVEY §7.3 step 9): exact, MinHash+LSH, SimHash, n-gram Jaccard.

All hashing goes through the portable md5-derived 60-bit hash
(``functions.hashing``) so every stage is reproducible in the DuckDB oracle.
Everything is built-in expressions — shingling is ``transform/sequence``
over split tokens, signatures are single-pass aggregations (no row
explosion beyond the shingle inverted index), candidate pairing is an
equi-join on band keys.  No Python UDFs anywhere.

Scale shape (100 TB of documents):
- exact: one shuffle on the content hash (map-side combine first).
- minhash: shingle explode → ONE aggregation to a per-doc signature row
  (16 ``min`` aggregates — partial-aggregates map-side), band explode is
  ×NUM_BANDS on the tiny signature frame, pairing is an equi-join on
  (band_idx, band_key) — the classic shuffle-bounded LSH plan; skewed
  bucket keys (boilerplate docs) are handled by AQE skew join.
- simhash: shingle explode → per-(doc, token) count → one 60-term
  conditional-sum aggregation to a 60-bit fingerprint.
- jaccard: ``jaccard_pairs_prefix`` is the default — lossless PPJoin-style
  prefix filtering (candidates must collide on a rarest-first prefix of
  size n - ceil(t*n) + 1, then exact verification on candidates only), so
  the inverted-index fan-out is bounded by prefix document frequency
  instead of full-shingle document frequency.  ``jaccard_pairs`` keeps the
  naive full-index form as the small-block verifier; a property test pins
  prefix == naive on random corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.functions.hashing import (
    md5_int60,
    minhash_coeffs,
    perm_hash,
    sql_md5_int60,
    sql_perm_hash,
)

NUM_PERM = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_PERM // NUM_BANDS
COEFFS = minhash_coeffs(NUM_PERM)


def content_hash(text: Column) -> Column:
    """THE content-hash definition for the exact-dedup family (batch,
    incremental, streaming): md5 over the NULL-coalesced text, so a NULL
    document hashes like the empty document and the hash itself is never
    NULL.  A NULL hash would silently break every anti-join consumer —
    ``NULL = NULL`` never matches, so a left_anti probe (and the oracle's
    NOT EXISTS) would re-admit a NULL-text doc on EVERY batch, violating
    the "admitted exactly once" index contract.  The NULL≡'' collapse is
    the documented trade; callers that must distinguish them should filter
    NULLs out before hashing.  :data:`SQL_CONTENT_HASH` is the byte-
    equivalent DuckDB twin every oracle applies."""
    return F.md5(F.coalesce(text, F.lit("")))


#: DuckDB twin of :func:`content_hash` (format with ``t`` = text expr).
SQL_CONTENT_HASH = "md5(COALESCE({t}, ''))"


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per content-hash group: size + canonical (min) id.

    Output: content_hash (md5 hex, never NULL — :func:`content_hash`),
    n_docs, canonical_id.
    """
    return (
        df.select(content_hash(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


SQL_EXACT_DEDUP = f"""
SELECT {SQL_CONTENT_HASH.format(t='{t}')} AS content_hash,
       COUNT(*) AS n_docs,
       MIN({{i}}) AS canonical_id
FROM {{src}}
GROUP BY 1
"""


def word_shingles(text: Column, n: int = 2) -> Column:
    """Distinct n-word shingles of a single-space-tokenized text column.

    Guarded for short texts: Spark's ``sequence(1, 0)`` would generate a
    DESCENDING [1, 0] — so texts with < n tokens return an empty array
    explicitly.
    """
    toks = F.split(text, " ")
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    parts = lambda i: [F.element_at(toks, i + j) for j in range(n)]  # noqa: E731
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", *parts(i)))),
    ).otherwise(F.array().cast("array<string>"))


def sql_shingle_rows(src: str, id_col: str, text_col: str, n: int = 2) -> str:
    """DuckDB: one row per distinct (doc, shingle).  Scalar
    ``unnest(generate_series(...))`` — DuckDB 1.0 rejects column arguments
    to the generate_series *table* function."""
    concat = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return f"""
SELECT DISTINCT doc_id, {concat} AS shingle
FROM (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {n - 1})) AS i
  FROM (SELECT {id_col} AS doc_id, string_split({text_col}, ' ') AS toks FROM {src})
)
"""


def shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(doc_id, shingle) → one row per doc with mh_0..mh_{NUM_PERM-1}.

    The md5-derived base hash is projected ONCE before the aggregation —
    inlining it into the 16 permutation aggregates would rely on Catalyst
    CSE across aggregate expressions, which is not guaranteed; md5 is the
    expensive part, the permutations are two integer ops each.
    """
    hashed = shingles.select("doc_id", md5_int60(F.col("shingle")).alias("__h"))
    aggs = [
        F.min(perm_hash(F.col("__h"), a, b)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(COEFFS)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def sql_minhash_signatures(shingle_src_sql: str) -> str:
    h = sql_md5_int60("shingle")
    aggs = ",\n       ".join(
        f"MIN({sql_perm_hash(h, a, b)}) AS mh_{i}" for i, (a, b) in enumerate(COEFFS)
    )
    return f"SELECT doc_id,\n       {aggs}\nFROM ({shingle_src_sql})\nGROUP BY doc_id"


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Docs sharing ≥1 LSH band; est_jaccard = matching minhash fraction.

    Output: left_doc_id, right_doc_id, est_jaccard.
    """
    banded = minhash_band_index(signatures)  # the ONE banding definition
    l = banded.alias("l")
    r = banded.alias("r")
    matches = sum(
        (F.col(f"l.mh_{i}") == F.col(f"r.mh_{i}")).cast("int") for i in range(NUM_PERM)
    )
    return (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("left_doc_id"),
            F.col("r.doc_id").alias("right_doc_id"),
            (matches / F.lit(float(NUM_PERM))).alias("est_jaccard"),
        )
        .distinct()
    )


def _sql_banded(src: str) -> str:
    """The ONE SQL definition of the LSH banding (the oracle twin of
    :func:`minhash_band_index`): one row per (doc, band), signature
    columns riding along for est_jaccard."""
    return "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, "
        + " || '_' || ".join(
            f"CAST(mh_{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        )
        + " AS band_key, "
        + ", ".join(f"mh_{i}" for i in range(NUM_PERM))
        + f" FROM ({src})"
        for b in range(NUM_BANDS)
    )


def _sql_match_fraction() -> str:
    matches = " + ".join(
        f"(CASE WHEN l.mh_{i} = r.mh_{i} THEN 1 ELSE 0 END)" for i in range(NUM_PERM)
    )
    return f"({matches}) / {float(NUM_PERM)}"


def sql_lsh_candidate_pairs(signatures_sql: str) -> str:
    bands = _sql_banded("SELECT * FROM sigs")
    return f"""
WITH sigs AS ({signatures_sql}),
banded AS ({bands})
SELECT DISTINCT l.doc_id AS left_doc_id, r.doc_id AS right_doc_id,
       {_sql_match_fraction()} AS est_jaccard
FROM banded l JOIN banded r
  ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
"""


SIMHASH_BITS = 60


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Weighted 60-bit SimHash over whitespace tokens (weight = term count).

    Output: doc_id, simhash (BIGINT).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    counted = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    h = md5_int60(F.col("token"))
    hashed = counted.select(
        "doc_id",
        "cnt",
        h.alias("th"),
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
            .otherwise(-F.col("cnt"))
        ).alias(f"s_{i}")
        for i in range(SIMHASH_BITS)
    ]
    sums = hashed.groupBy("doc_id").agg(*bit_sums)
    value = sum(
        F.when(F.col(f"s_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(SIMHASH_BITS)
    )
    return sums.select("doc_id", value.cast("bigint").alias("simhash"))


def sql_simhash(src: str, id_col: str, text_col: str) -> str:
    h = sql_md5_int60("token")
    bit_sums = ",\n       ".join(
        f"SUM(CASE WHEN (th >> {i}) & 1 = 1 THEN cnt ELSE -cnt END) AS s_{i}"
        for i in range(SIMHASH_BITS)
    )
    value = " + ".join(
        f"(CASE WHEN s_{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, unnest(string_split({text_col}, ' ')) AS token
  FROM {src}
),
counted AS (
  SELECT doc_id, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
),
hashed AS (
  SELECT doc_id, cnt, {h} AS th FROM counted
),
sums AS (
  SELECT doc_id,
       {bit_sums}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({value} AS BIGINT) AS simhash FROM sums
"""


def _finish_jaccard(
    inter: DataFrame, sizes: DataFrame, min_jaccard: float
) -> DataFrame:
    """(pair, |intersection|) + per-doc set sizes → thresholded Jaccard."""
    sl = sizes.select(F.col("doc_id").alias("left_doc_id"), F.col("n_sh").alias("n_l"))
    sr = sizes.select(F.col("doc_id").alias("right_doc_id"), F.col("n_sh").alias("n_r"))
    return (
        inter.join(sl, "left_doc_id")
        .join(sr, "right_doc_id")
        .select(
            "left_doc_id",
            "right_doc_id",
            F.round(
                F.col("inter") / (F.col("n_l") + F.col("n_r") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


def jaccard_pairs(
    shingles: DataFrame, min_jaccard: float
) -> DataFrame:
    """Exact n-gram Jaccard similarity via the FULL shingle inverted index.

    Output: left_doc_id, right_doc_id, jaccard (rounded 6dp).
    Quadratic in per-shingle doc frequency — small-block verifier for
    ``jaccard_pairs_prefix`` (the bounded default) and the shape the DuckDB
    oracle runs.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    l = shingles.alias("l")
    r = shingles.alias("r")
    inter = (
        l.join(r, (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .groupBy(
            F.col("l.doc_id").alias("left_doc_id"),
            F.col("r.doc_id").alias("right_doc_id"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _finish_jaccard(inter, sizes, min_jaccard)


def _rarest_first_prefix(
    shingles: DataFrame, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """Each doc's LOSSLESS prefix under the rarest-first total order
    (ascending document frequency, shingle tiebreak): length
    ``n - ceil(t*n) + 1``.  The 1e-9 slack makes float rounding err only
    toward a LARGER prefix, which stays lossless.  Shared by the Jaccard
    and containment prefix filters — the bound derivation lives ONCE.

    Returns (prefix rows, per-doc sizes)."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    df_counts = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        shingles.join(df_counts, "shingle")
        .withColumn(
            "pos",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "shingle")),
        )
        .join(sizes, "doc_id")
    )
    prefix = ranked.where(
        F.col("pos")
        <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9)) + 1
    ).select("doc_id", "shingle")
    return prefix, sizes


def _candidate_intersections(cand: DataFrame, shingles: DataFrame) -> DataFrame:
    """Exact |A ∩ B| computed ONLY for candidate (left, right) pairs — the
    shared verify step of the prefix-filtered joins."""
    sh_l = shingles.select(F.col("doc_id").alias("left_doc_id"), "shingle")
    sh_r = shingles.select(F.col("doc_id").alias("right_doc_id"), "shingle")
    return (
        cand.join(sh_l, "left_doc_id")
        .join(sh_r, ["right_doc_id", "shingle"])
        .groupBy("left_doc_id", "right_doc_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def jaccard_pairs_prefix(
    shingles: DataFrame, min_jaccard: float
) -> DataFrame:
    """Exact n-gram Jaccard via LOSSLESS prefix filtering (PPJoin family:
    Xiao et al., "Efficient Similarity Joins for Near Duplicate Detection",
    WWW'08).  Identical output to ``jaccard_pairs`` — a property test pins
    the equivalence — but the inverted-index join is bounded.

    Why it is lossless: order all shingles by a global total order (ascending
    document frequency, rarest first, tie-break on the shingle string).  If
    J(x, y) >= t, the two docs must overlap in at least
    ``|x| - ceil(t*|x|) + 1`` of x's first shingles under that order — so
    joining only on each doc's length-``n - ceil(t*n) + 1`` prefix cannot
    miss a qualifying pair.  Candidates are then verified with an exact
    intersection count computed ONLY for candidate pairs.

    Scale shape (100 TB): the self-join fans out on PREFIX shingles, which
    are the rarest by construction — boilerplate shingles shared by every
    doc in a template corpus never enter the index.  Verification cost is
    |candidates| x avg set size, an equi-join on (doc, shingle), not a
    quadratic blow-up on hot shingles.
    """
    prefix, sizes = _rarest_first_prefix(shingles, min_jaccard)
    cand = (
        prefix.alias("l")
        .join(
            prefix.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("left_doc_id"),
            F.col("r.doc_id").alias("right_doc_id"),
        )
        .distinct()
    )
    inter = _candidate_intersections(cand, shingles)
    return _finish_jaccard(inter, sizes, min_jaccard)


def sql_jaccard_pairs(shingle_src_sql: str, min_jaccard: float) -> str:
    return f"""
WITH sh AS ({shingle_src_sql}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT l.doc_id AS left_doc_id, r.doc_id AS right_doc_id, COUNT(*) AS inter
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT left_doc_id, right_doc_id,
       round(CAST(inter AS DOUBLE) / (sl.n_sh + sr.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sl ON sl.doc_id = left_doc_id
JOIN sizes sr ON sr.doc_id = right_doc_id
WHERE round(CAST(inter AS DOUBLE) / (sl.n_sh + sr.n_sh - inter), 6) >= {min_jaccard}
"""


# --- embedding-cosine near-dup ----------------------------------------------


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lsh_dim: int | None = None,
    lsh_planes: int = 4,
    lsh_bands: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity ≥ ``threshold``.

    Output: left_id, right_id, cosine_sim (rounded 6dp, left < right).

    ``lsh_dim=None`` (default) is the exact all-pairs form — O(n²) dot
    products, oracle-checkable, fine for a block of documents.  At 100 TB
    pass ``lsh_dim=<vector dim>``: banded random-hyperplane LSH — each of
    ``lsh_bands`` hash tables concatenates ``lsh_planes`` sign bits from a
    disjoint deterministic plane set, a pair is a candidate when it collides
    in ANY band (OR-amplification, exactly MinHash LSH's band trick), and
    candidate generation is an equi-join on (band, bucket) — shuffle-bounded,
    never a cross product.  Recall = 1-(1-p^r)^b where p = 1-θ/π; tune
    (r, b) to the operating threshold: r=4/b=8 gives ~0.75 at cos 0.4 (the
    loose bar this corpus needs), real near-dup corpora (cos ≥ 0.85) want
    longer bands, e.g. r=8/b=8 → recall ~0.93 while passing only ~3% of
    random pairs per band.  Missed cross-bucket pairs remain the standard
    documented trade.
    """
    from spark_hadoop_automation_in_cloud_spark.functions.vectors import cosine
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import lsh_bucket

    a = emb.select(F.col(id_col).alias("left_id"), F.col(vec_col).alias("__va"))
    b = emb.select(F.col(id_col).alias("right_id"), F.col(vec_col).alias("__vb"))
    if lsh_dim is not None:
        def banded(vec_name: str):
            # string path: one cached JVM parse per band instead of
            # dim x planes py4j literal calls (similarity.lsh_bucket)
            return F.posexplode(
                F.array(*[
                    lsh_bucket(
                        f"`{vec_name}`", lsh_dim, lsh_planes,
                        first_plane=band * lsh_planes,
                    )
                    for band in range(lsh_bands)
                ])
            )

        a = a.select("left_id", "__va", banded("__va").alias("__band", "__bucket"))
        b = b.select("right_id", "__vb", banded("__vb").alias("__band", "__bucket"))
        cand = a.join(b, ["__band", "__bucket"]).where(
            F.col("left_id") < F.col("right_id")
        )
    else:
        cand = a.crossJoin(b).where(F.col("left_id") < F.col("right_id"))
    scored = cand.select(
        "left_id",
        "right_id",
        F.round(cosine(F.col("__va"), F.col("__vb")), 6).alias("cosine_sim"),
    )
    if lsh_dim is not None:
        # same pair can collide in several bands; cosine is deterministic per
        # pair so distinct on the output tuple == distinct on the pair
        scored = scored.distinct()
    return scored.where(F.col("cosine_sim") >= threshold)


def sql_embedding_neardup_pairs_lsh(
    src: str,
    threshold: float,
    dim: int,
    planes: int = 4,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for the banded-LSH form.

    The hyperplane weights are pure integer arithmetic (the same LCG step as
    ``operators.similarity._hyperplane_sign``), so DuckDB reproduces every
    band's bucket signature bit-for-bit: weight(p, d) =
    ((1103515245*(p*512+d)+12345) % 2147483647)/2147483647.0 - 0.5.
    Candidates are the UNION (set semantics = pair dedup, matching Spark's
    ``distinct``) of per-band bucket equi-joins — the oracle runs the SAME
    candidate set as the Spark plan, recall trade included.
    """
    # single source of truth for the hyperplane-bucket SQL — shared with
    # the ANN oracles so the LCG constants / bit order can never drift
    # between the two generators
    from spark_hadoop_automation_in_cloud_spark.operators.similarity import (
        _sql_lsh_bucket,
    )

    bucket_cols = ",\n         ".join(
        f"{_sql_lsh_bucket('vec', dim, planes, band * planes)} AS bk{band}"
        for band in range(bands)
    )
    cand_union = "\n  UNION\n".join(
        f"  SELECT a.vid AS l, b.vid AS r FROM base a JOIN base b "
        f"ON a.bk{band} = b.bk{band} AND a.vid < b.vid"
        for band in range(bands)
    )
    dot = (
        "list_sum(list_transform(list_zip(va.vec, vb.vec), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    na = "sqrt(list_sum(list_transform(va.vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nb = "sqrt(list_sum(list_transform(vb.vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    return f"""
WITH base AS (
  SELECT {id_col} AS vid, {vec_col} AS vec,
         {bucket_cols}
  FROM {src}
),
cand AS (
{cand_union}
),
scored AS (
  SELECT l AS left_id, r AS right_id, round({dot} / ({na} * {nb}), 6) AS cosine_sim
  FROM cand JOIN base va ON va.vid = l JOIN base vb ON vb.vid = r
)
SELECT * FROM scored WHERE cosine_sim >= {threshold}
"""


def sql_embedding_neardup_pairs(
    src: str, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """DuckDB oracle for the exact form (same left-to-right double fold)."""
    dot = (
        "list_sum(list_transform(list_zip(a.__va, b.__vb), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    na = "sqrt(list_sum(list_transform(a.__va, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nb = "sqrt(list_sum(list_transform(b.__vb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    return f"""
WITH a AS (SELECT {id_col} AS left_id, {vec_col} AS __va FROM {src}),
b AS (SELECT {id_col} AS right_id, {vec_col} AS __vb FROM {src}),
scored AS (
  SELECT left_id, right_id, round({dot} / ({na} * {nb}), 6) AS cosine_sim
  FROM a JOIN b ON left_id < right_id
)
SELECT * FROM scored WHERE cosine_sim >= {threshold}
"""


# --- fuzzy (edit-distance) matching ------------------------------------------


def fuzzy_pairs_blocked(
    df: DataFrame,
    max_dist: int = 2,
    id_col: str = "c_custkey",
    name_col: str = "c_name",
) -> DataFrame:
    """Entity-resolution pairs with Levenshtein distance ≤ ``max_dist``,
    blocked so the quadratic comparison never runs as a cross product.

    Block key = (candidate length, first character).  Levenshtein ≤ k can
    change length by at most k, so the probe side emits one row per length
    in ``[len-k, len+k]`` and the pairing becomes an EQUI-join on
    (probe_len = partner's exact length, first char) — length blocking is
    therefore lossless; the only recall loss is a pair whose FIRST character
    was edited (the standard documented trade of prefix blocking).  Each
    true pair matches on exactly one probe length, so no candidate dedup is
    needed before the verify step.

    Scale shape: candidates are bounded by block population, not corpus
    size; shuffle is the equi-join on the block key.  Corpora whose names
    share a constant prefix and length (TPC-H ``Customer#%09d``) collapse
    into one hot block — AQE skew-join splits the straggler, and a real
    deployment widens the key (more prefix chars, or a phonetic key) to
    match its name distribution.  Reference had no fuzzy matching at all;
    shape mirrors the prefilter-then-verify of MinHash LSH
    (``minhash_lsh_pairs``).
    """
    k = max_dist
    right = df.select(
        F.col(id_col).alias("right_id"),
        F.col(name_col).alias("__nb"),
        F.length(name_col).alias("__blk_len"),
        F.substring(name_col, 1, 1).alias("__blk_c1"),
    )
    probe_lens = F.array(*[F.length(name_col) + d for d in range(-k, k + 1)])
    left = df.select(
        F.col(id_col).alias("left_id"),
        F.col(name_col).alias("__na"),
        F.substring(name_col, 1, 1).alias("__blk_c1"),
        F.explode(probe_lens).alias("__blk_len"),
        # >= 0, not >= 1: two empty names are a distance-0 pair and the
        # oracle includes them — probe length 0 blocks with other empties
    ).where(F.col("__blk_len") >= 0)
    return (
        left.join(right, ["__blk_len", "__blk_c1"])
        .where(F.col("left_id") < F.col("right_id"))
        .select(
            "left_id",
            "right_id",
            F.levenshtein(F.col("__na"), F.col("__nb")).cast("int").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= k)
    )


def contamination_overlap(
    train_shingles: DataFrame,
    test_shingles: DataFrame,
    min_shared: int = 2,
    max_test_df: int | None = None,
    max_train_df: int | None = None,
) -> DataFrame:
    """Train/test decontamination: flag training documents that share
    ``min_shared``+ distinct n-gram shingles with any held-out document.

    The standard pre-training hygiene step (an eval answer leaking into the
    training corpus inflates benchmark scores): build the shingle inverted
    index of the *held-out* side, equi-join the training shingles against
    it, and count per train doc how many distinct shingles hit and how many
    test docs they touch.

    Output: doc_id, n_shared_shingles, n_test_docs.

    Scale shape: one equi-join on the shingle string — shuffle-bounded, no
    all-pairs stage anywhere (same inverted-index idiom as
    :func:`jaccard_pairs`, but train×test instead of corpus×corpus, so the
    quadratic-in-document-frequency risk only applies per shingle).
    ``max_test_df`` / ``max_train_df`` cap that risk: shingles occurring in
    more than this many docs on the respective side are dropped from the
    index before the join — boilerplate n-grams ("terms of service apply")
    carry no contamination signal but dominate join fanout.  With both
    caps, pairs per shingle ≤ cap_tr × cap_te, so total join output is
    LINEAR in vocabulary size no matter how duplicated the corpus is
    (measured: an uncapped train side went superlinear on a 10×-replicated
    corpus; capped, the same corpus scales ~linearly).  Contaminated docs
    are still found through their RARE shared shingles — which is where
    the contamination signal lives.
    """

    def _cap(sh: DataFrame, max_df: int | None) -> DataFrame:
        if max_df is None:
            return sh
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_df)
            .select("shingle")
        )
        return sh.join(keep, "shingle")

    te = _cap(test_shingles, max_test_df)
    tr = _cap(train_shingles, max_train_df).select(
        F.col("doc_id").alias("__tr_doc"), "shingle"
    )
    te = te.select(F.col("doc_id").alias("__te_doc"), "shingle")
    return (
        tr.join(te, "shingle")
        .groupBy(F.col("__tr_doc").alias("doc_id"))
        .agg(
            F.count_distinct("shingle").cast("bigint").alias("n_shared_shingles"),
            F.count_distinct("__te_doc").cast("bigint").alias("n_test_docs"),
        )
        .where(F.col("n_shared_shingles") >= min_shared)
    )


def sql_contamination_overlap(
    shingle_src_sql: str,
    bucket_sql: str,
    train_pred: str,
    test_pred: str,
    min_shared: int = 2,
    max_test_df: int | None = None,
    max_train_df: int | None = None,
    hash_shingles: bool = False,
) -> str:
    """DuckDB oracle for :func:`contamination_overlap` — the split buckets
    and the df caps are replayed as plain predicates; ``hash_shingles``
    replays the md5-int60 shingle compression of the Spark plan."""
    te_filter = (
        f"HAVING COUNT(*) <= {max_test_df}" if max_test_df is not None else ""
    )
    tr_filter = (
        f"HAVING COUNT(*) <= {max_train_df}" if max_train_df is not None else ""
    )
    from spark_hadoop_automation_in_cloud_spark.functions.hashing import sql_md5_int60

    sh_expr = sql_md5_int60("shingle") if hash_shingles else "shingle"
    return f"""
WITH b AS ({bucket_sql}),
sh0 AS ({shingle_src_sql}),
sh AS (SELECT doc_id, {sh_expr} AS shingle FROM sh0),
tr0 AS (SELECT sh.doc_id, shingle FROM sh JOIN b USING (doc_id) WHERE {train_pred}),
te AS (SELECT sh.doc_id, shingle FROM sh JOIN b USING (doc_id) WHERE {test_pred}),
tr_keep AS (SELECT shingle FROM tr0 GROUP BY shingle {tr_filter}),
tr AS (SELECT tr0.doc_id, tr0.shingle FROM tr0 JOIN tr_keep USING (shingle)),
te_keep AS (SELECT shingle FROM te GROUP BY shingle {te_filter}),
te_f AS (SELECT te.doc_id, te.shingle FROM te JOIN te_keep USING (shingle))
SELECT tr.doc_id,
       CAST(COUNT(DISTINCT tr.shingle) AS BIGINT) AS n_shared_shingles,
       CAST(COUNT(DISTINCT te_f.doc_id) AS BIGINT) AS n_test_docs
FROM tr JOIN te_f ON tr.shingle = te_f.shingle
GROUP BY tr.doc_id
HAVING COUNT(DISTINCT tr.shingle) >= {min_shared}
"""


def fuzzy_pairs_passjoin(
    df: DataFrame,
    max_dist: int = 2,
    id_col: str = "c_custkey",
    name_col: str = "c_name",
) -> DataFrame:
    """Entity-resolution pairs with Levenshtein distance <= ``max_dist`` via
    PassJoin-style pigeonhole segment blocking — LOSSLESS (every true pair
    is a candidate) and robust to corpora whose names share a template.

    Pigeonhole: partition the indexed string into ``max_dist + 1``
    contiguous segments; <= ``max_dist`` edits leave at least one segment
    untouched, and an untouched segment reappears VERBATIM in the partner
    at a start position shifted by at most ``max_dist`` (the net length
    drift of the edits before it).  So:

    - index side: one key per segment — (own_len, seg_idx, seg_text);
    - probe side: for every candidate partner length in ``[len-k, len+k]``
      and every segment of THAT length's partition and every shift in
      ``[-k, k]``, the substring at the shifted position — a constant
      (2k+1)*(2k+1)*(k+1) keys per row at most.

    The pairing is an equi-join on the segment key (selective wherever
    names differ anywhere, not just in the first character), followed by a
    distinct + exact Levenshtein verify.  Unlike first-char/length
    blocking (``fuzzy_pairs_blocked``), a template corpus (TPC-H
    ``Customer#%09d``: same first char, same length) does NOT collapse
    into one block — the digit segments carry the selectivity.  Measured
    at sf0.1 (15k names): 208s single-block -> ~2s, identical pairs plus
    the first-char-edited ones prefix blocking misses.

    Output: left_id, right_id (canonical left < right), edit_dist.
    """
    k = max_dist
    n_seg = k + 1
    ls = F.length(name_col)

    def seg_len(i: int, total):
        base = total - (total / n_seg).cast("int") * n_seg  # total % n_seg
        return (total / n_seg).cast("int") + F.when(F.lit(i) < base, 1).otherwise(0)

    def seg_start(i: int, total):  # 0-based
        s = F.lit(0)
        for j in range(i):
            s = s + seg_len(j, total)
        return s

    # index side: the string's own segments
    idx_keys = F.array(
        *[
            F.concat_ws(
                "|",
                ls.cast("string"),
                F.lit(str(i)),
                F.substring(F.col(name_col), seg_start(i, ls) + 1, seg_len(i, ls)),
            )
            for i in range(n_seg)
        ]
    )
    left = df.select(
        F.col(id_col).alias("left_id"),
        F.col(name_col).alias("__na"),
        F.explode(idx_keys).alias("__key"),
    )

    # probe side: shifted substrings for every candidate partner length
    probe_cols = []
    lt = F.length(name_col)
    for dl in range(-k, k + 1):
        cand = lt + dl  # candidate partner length
        for i in range(n_seg):
            sl = seg_len(i, cand)
            p = seg_start(i, cand)
            for shift in range(-k, k + 1):
                start = p + shift
                # A ZERO-length segment is trivially "untouched" at any
                # position — emit its key unconditionally (segments of
                # length 0 only exist for strings shorter than k+1, so the
                # degenerate block is bounded by the count of such tiny
                # strings).  Without this, pairs whose every non-empty
                # segment was edited (e.g. 'ab' vs 'cd' at k=2, or any
                # pair involving '') were silently lost — violating the
                # lossless contract.
                valid = (cand >= 0) & (
                    (sl == 0)
                    | ((sl >= 1) & (start >= 0) & (start + sl <= lt))
                )
                probe_cols.append(
                    F.when(
                        valid,
                        F.concat_ws(
                            "|",
                            cand.cast("string"),
                            F.lit(str(i)),
                            F.substring(F.col(name_col), start + 1, sl),
                        ),
                    )
                )
    probe_keys = F.array_distinct(
        F.filter(F.array(*probe_cols), lambda x: x.isNotNull())
    )
    right = df.select(
        F.col(id_col).alias("right_id"),
        F.col(name_col).alias("__nb"),
        F.explode(probe_keys).alias("__key"),
    )

    cand_pairs = (
        left.join(right, "__key")
        .where(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id", "__na", "__nb")
        .distinct()
    )
    return cand_pairs.select(
        "left_id",
        "right_id",
        F.levenshtein("__na", "__nb").cast("int").alias("edit_dist"),
    ).where(F.col("edit_dist") <= k)


def sql_fuzzy_pairs_exact(
    src: str, max_dist: int = 2, id_col: str = "c_custkey", name_col: str = "c_name"
) -> str:
    """DuckDB oracle for :func:`fuzzy_pairs_passjoin`: the plain declarative
    semantics (all pairs within distance k; the length band is implied by
    the distance bound, stated for the optimizer)."""
    return f"""
SELECT a.{id_col} AS left_id, b.{id_col} AS right_id,
       CAST(levenshtein(a.{name_col}, b.{name_col}) AS INT) AS edit_dist
FROM {src} a JOIN {src} b
  ON a.{id_col} < b.{id_col}
 AND abs(length(a.{name_col}) - length(b.{name_col})) <= {max_dist}
WHERE levenshtein(a.{name_col}, b.{name_col}) <= {max_dist}
"""


# --- containment (asymmetric subset) near-dup --------------------------------


def containment_pairs(shingles: DataFrame, min_containment: float) -> DataFrame:
    """Exact shingle-containment pairs: C(A→B) = |A ∩ B| / |A| ≥ t.

    Asymmetric near-dup: finds documents whose shingle set is mostly a
    SUBSET of another's — the boilerplate/template relation (a footer doc
    contained in every page; a snippet contained in the page that quotes
    it) that symmetric Jaccard misses when the container is much larger.

    Lossless prefix filtering, containment variant: order shingles rarest-
    first (ascending document frequency, shingle tiebreak).  If
    |A ∩ B| ≥ t·|A|, then B must hit one of A's first
    ``|A| - ceil(t·|A|) + 1`` shingles (pigeonhole on A's misses), so the
    candidate join indexes only A-side prefixes against B's FULL posting
    list — the contained side prunes, the container side cannot (its size
    is unconstrained).  Candidates are verified by exact intersection
    count, so the output is identical to the naive full-index form
    (property-tested), with fan-out bounded by prefix document frequency.

    Output: left_doc_id (contained), right_doc_id (container), containment
    (rounded 6dp); ordered pairs in both directions, left ≠ right.
    """
    prefix, sizes = _rarest_first_prefix(shingles, min_containment)
    cand = (
        prefix.alias("l")
        .join(
            shingles.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") != F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("left_doc_id"),
            F.col("r.doc_id").alias("right_doc_id"),
        )
        .distinct()
    )
    inter = _candidate_intersections(cand, shingles)
    sl = sizes.select(F.col("doc_id").alias("left_doc_id"), F.col("n_sh").alias("n_l"))
    return (
        inter.join(sl, "left_doc_id")
        .select(
            "left_doc_id",
            "right_doc_id",
            F.round(F.col("inter") / F.col("n_l"), 6).alias("containment"),
        )
        .where(F.col("containment") >= min_containment)
    )


def containment_pairs_naive(shingles: DataFrame, min_containment: float) -> DataFrame:
    """Full-inverted-index containment — the small-block verifier for
    :func:`containment_pairs` and the shape the DuckDB oracle runs."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    l = shingles.alias("l")
    r = shingles.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") != F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("left_doc_id"),
            F.col("r.doc_id").alias("right_doc_id"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sl = sizes.select(F.col("doc_id").alias("left_doc_id"), F.col("n_sh").alias("n_l"))
    return (
        inter.join(sl, "left_doc_id")
        .select(
            "left_doc_id",
            "right_doc_id",
            F.round(F.col("inter") / F.col("n_l"), 6).alias("containment"),
        )
        .where(F.col("containment") >= min_containment)
    )


def sql_containment_pairs(shingle_src_sql: str, min_containment: float) -> str:
    return f"""
WITH sh AS ({shingle_src_sql}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT l.doc_id AS left_doc_id, r.doc_id AS right_doc_id, COUNT(*) AS inter
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id <> r.doc_id
  GROUP BY 1, 2
)
SELECT left_doc_id, right_doc_id,
       round(CAST(inter AS DOUBLE) / sl.n_sh, 6) AS containment
FROM inter
JOIN sizes sl ON sl.doc_id = left_doc_id
WHERE round(CAST(inter AS DOUBLE) / sl.n_sh, 6) >= {min_containment}
"""


# --- incremental (cross-batch) exact dedup ----------------------------------
#
# The reference processes an incremental window of `depth` days per run
# (/root/reference/src/keeper/keeper.py:10-56); a training-data pipeline has
# the same shape: each run sees only the NEW batch of documents and must not
# re-admit content that any earlier run already admitted.  Re-scanning the
# full corpus per run is exactly what does not survive 100 TB, so the state
# carried between runs is a *fingerprint index* — one tiny row per distinct
# content hash, persisted as a parquet table and unioned/compacted run over
# run — and each run is:
#
#   survivors = within-batch dedup(new batch)  ANTI-JOIN  index
#
# Both steps key on the content hash, so the batch side is shuffled ONCE
# (Catalyst reuses the hash partitioning of the groupBy for the anti-join's
# probe side), and the index side never rewrites history — append the new
# survivors and move on.  At 100 TB the index is ~#distinct-docs rows of
# (60-bit hash, id): petabytes of text collapse to a table that joins like
# any other fact, bucketable by content_hash for a shuffle-free probe.


def content_hash_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Persistable fingerprint index of a corpus batch.

    One row per distinct content hash: (content_hash, canonical_id).  This
    is the state handed to the NEXT run of :func:`incremental_dedup` —
    write it out with ``io.write_datamart``/plain parquet and union it with
    prior batches' indexes (or re-point at a compacted union).  Hashes via
    :func:`content_hash`, so the index never carries a NULL key.
    """
    return (
        df.select(content_hash(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"))
    )


def incremental_dedup(
    new_batch: DataFrame, index: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Documents of ``new_batch`` that survive exact dedup against both the
    batch itself and the persisted ``index`` of all earlier batches.

    Output: (``id_col``, content_hash) — one row per NEW distinct content,
    canonical = min id within the batch.  Exactly the rows to append to the
    index for the next run (rename canonical → ``canonical_id``).

    Plan shape: ONE shuffle of the batch on content_hash (map-side-combined
    groupBy), then a LEFT ANTI equi-join on the same key — the batch side's
    partitioning is reused, so only the index side moves.  No full-corpus
    rescan, ever.  :func:`content_hash` keys both sides, so a NULL-text
    document is admitted exactly once (as the empty-text content) instead
    of slipping past the NULL-blind anti-join on every batch.
    """
    within = (
        new_batch.select(content_hash(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    return within.join(
        index.select("content_hash"), "content_hash", "left_anti"
    ).select(id_col, "content_hash")


def sql_incremental_dedup(
    new_src: str, index_src: str, id_col: str, text_col: str
) -> str:
    """DuckDB oracle: within-batch min-id per hash, anti-joined vs index.

    Hashes via :data:`SQL_CONTENT_HASH` (NULL-coalesced), so no NULL key
    ever reaches the anti-join.  Still NOT EXISTS, not NOT IN, matching
    the Spark left_anti join's semantics if an externally-built index
    carries a NULL anyway (``NOT IN`` would go three-valued and drop
    every batch row)."""
    return f"""
WITH within AS (
  SELECT {SQL_CONTENT_HASH.format(t=text_col)} AS content_hash, MIN({id_col}) AS {id_col}
  FROM ({new_src}) GROUP BY 1
)
SELECT {id_col}, content_hash
FROM within w
WHERE NOT EXISTS (
  SELECT 1 FROM ({index_src}) i WHERE i.content_hash = w.content_hash
)
"""


# --- cross-document repeated n-grams ----------------------------------------


def repeated_ngram_doc_stats(shingles: DataFrame, min_doc_freq: int) -> DataFrame:
    """Per-document cross-corpus passage-duplication stats.

    A shingle is "repeated" when it occurs in >= ``min_doc_freq`` DISTINCT
    documents (the ``shingles`` input is already distinct per (doc,
    shingle) — :func:`shingle_rows` guarantees it).  Output per document:

        doc_id, n_grams, n_repeated, rep_ratio (round 6dp)

    This is the corpus-level signal behind "dedup repeated passages, not
    just whole documents" (Lee et al., *Deduplicating Training Data Makes
    Language Models Better*): a doc full of boilerplate shared with many
    other docs scores rep_ratio → 1 even when no WHOLE document matches.

    Scale shape: shingles are md5-compressed to int64 BEFORE any shuffle
    (strings never travel), document frequency is ONE map-side-combined
    count per gram hash, and the flag rejoins the gram stream on the same
    hash key — two shuffles total, both on the gram hash, the second
    reusing the first's partitioning.  Boilerplate grams are heavy keys on
    the COUNT side (absorbed by partial aggregation), never a fan-out
    join: the join multiplicity per gram is its doc frequency, i.e. the
    inverted index itself.
    """
    g = shingles.select("doc_id", md5_int60(F.col("shingle")).alias("gh"))
    df_counts = g.groupBy("gh").agg(F.count(F.lit(1)).alias("gram_df"))
    flagged = g.join(df_counts, "gh")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("gram_df") >= min_doc_freq, 1).otherwise(0)
            ).alias("n_repeated"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_repeated").cast("bigint").alias("n_repeated"),
            F.round(F.col("n_repeated") / F.col("n_grams"), 6).alias("rep_ratio"),
        )
    )


def sql_repeated_ngram_doc_stats(shingle_src_sql: str, min_doc_freq: int) -> str:
    gh = sql_md5_int60("shingle")
    return f"""
WITH g AS (SELECT doc_id, {gh} AS gh FROM ({shingle_src_sql})),
dfc AS (SELECT gh, COUNT(*) AS gram_df FROM g GROUP BY 1)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN gram_df >= {min_doc_freq} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeated,
       round(CAST(SUM(CASE WHEN gram_df >= {min_doc_freq} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS rep_ratio
FROM g JOIN dfc USING (gh)
GROUP BY 1
"""


def _positional_grams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> tuple[F.Column, DataFrame]:
    """The q118 positional-gram convention, shared by the measurement
    (:func:`repeated_span_coverage`) and emit (:func:`exact_substring_dedup`)
    sides so the tokenization / gram-hash contract cannot silently diverge
    between them: tokens = whitespace split of ``coalesce(text, '')``;
    grams = md5-int60 of the space-joined n-token window, 1-based start
    positions.  Returns ``(toks_column, grams_frame)`` where the frame is
    ``doc_id, pos (int), gh (bigint)`` — one row per gram occurrence."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    k = F.size(toks) - (n - 1)
    parts = lambda i: [F.element_at(toks, i + j) for j in range(n)]  # noqa: E731
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.struct(
                i.alias("pos"),
                md5_int60(F.concat_ws(" ", *parts(i))).alias("gh"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gh:bigint>>"))
    g = df.select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("g")
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    return toks, g


def _sql_positional_grams(src: str, id_col: str, text_col: str, n: int) -> str:
    """DuckDB twin of :func:`_positional_grams`: the ``toks`` + ``g`` CTE
    pair (byte-identical to the fragment both oracles previously inlined)."""
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    gh = sql_md5_int60(f"({gram})")
    return f"""
toks AS (
  SELECT {id_col} AS doc_id, string_split(COALESCE({text_col}, ''), ' ') AS t
  FROM {src}
),
g AS (
  SELECT doc_id, i AS pos, {gh} AS gh
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {n - 1})) AS i
        FROM toks)
)"""


def repeated_span_coverage(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, min_doc_freq: int = 2
) -> DataFrame:
    """Per-document POSITION-level passage-duplication coverage.

    :func:`repeated_ngram_doc_stats` counts repeated grams; this measures
    how much of each document's TEXT lies inside a repeated passage — the
    interval-union of every length-``n`` gram occurring in >=
    ``min_doc_freq`` distinct documents (position form of Lee et al.'s
    ExactSubstr signal: overlapping grams of one long shared passage
    count its tokens ONCE, where the gram-count ratio double-counts
    every overlap).  Output per document:

        doc_id, n_tokens, n_covered, span_coverage (round 6dp)

    Interval union without materializing intervals: repeated-gram starts
    are fixed-length-``n`` spans, so per document, sorted by start, each
    start covers ``min(n, next_start - start)`` new tokens (the last one
    ``n``; a start never overruns the document because starts stop at
    ``n_tokens - n + 1``).  One lead() window per doc — no self-join.

    Scale shape: grams are md5-compressed to int64 in the scan; the
    distinct + doc-frequency pass shuffles on the gram hash with map-side
    combines, the repeated-flag equi-join reuses that key, and the
    coverage window + final left join ride one doc-id shuffle.  Join
    multiplicity per gram is its occurrence count (the inverted index),
    never a cross product.  NULL text coalesces to '' (the
    :func:`content_hash` convention): 1 token, zero grams, coverage 0.
    """
    toks, g = _positional_grams(df, id_col, text_col, n)
    dfreq = (
        g.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("gram_df"))
        .where(F.col("gram_df") >= min_doc_freq)
        .select("gh")
    )
    rep = g.join(dfreq, "gh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    contrib = F.when(F.lead("pos").over(w).isNull(), F.lit(n)).otherwise(
        F.least(F.lit(n), F.lead("pos").over(w) - F.col("pos"))
    )
    cov = (
        rep.select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_covered"))
    )
    docs = df.select(F.col(id_col).alias("doc_id"), F.size(toks).alias("n_tokens"))
    return docs.join(cov, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("n_covered"), F.lit(0)).cast("bigint").alias("n_covered"),
        F.round(
            F.coalesce(F.col("n_covered"), F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("span_coverage"),
    )


def sql_repeated_span_coverage(
    src: str, id_col: str, text_col: str, n: int = 3, min_doc_freq: int = 2
) -> str:
    """DuckDB oracle twin of :func:`repeated_span_coverage` — identical
    gram hashing, identical lead()-window interval union."""
    return f"""
WITH {_sql_positional_grams(src, id_col, text_col, n)},
dfq AS (
  SELECT gh FROM (SELECT gh, COUNT(DISTINCT doc_id) AS c FROM g GROUP BY 1)
  WHERE c >= {min_doc_freq}
),
iv AS (
  SELECT doc_id, pos, lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM (SELECT g.doc_id, g.pos FROM g JOIN dfq USING (gh))
),
cov AS (
  SELECT doc_id,
         SUM(CASE WHEN nxt IS NULL THEN {n} ELSE LEAST({n}, nxt - pos) END)
           AS n_covered
  FROM iv GROUP BY 1
),
d AS (SELECT doc_id, len(t) AS n_tokens FROM toks)
SELECT d.doc_id,
       CAST(d.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(cov.n_covered, 0) AS BIGINT) AS n_covered,
       round(CAST(COALESCE(cov.n_covered, 0) AS DOUBLE)
             / GREATEST(d.n_tokens, 1), 6) AS span_coverage
FROM d LEFT JOIN cov USING (doc_id)
"""


# --- incremental (cross-batch) NEAR-dup: persisted band index ---------------


def minhash_band_index(signatures: DataFrame) -> DataFrame:
    """Persistable LSH band index of an admitted corpus.

    One row per (doc, band): band_idx, band_key, doc_id, mh_0..mh_N — the
    signature columns ride along so a future batch can score est_jaccard
    against collisions without re-reading the admitted documents' text.
    Partition/bucket the persisted table by band_key at scale: the probe
    join below is then co-located.
    """
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"mh_{b * ROWS_PER_BAND + r}")
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("band_key"),
            )
            for b in range(NUM_BANDS)
        ]
    )
    return signatures.select("*", F.explode(band_structs).alias("__band")).select(
        F.col("__band.band_idx").alias("band_idx"),
        F.col("__band.band_key").alias("band_key"),
        "doc_id",
        *[f"mh_{i}" for i in range(NUM_PERM)],
    )


def incremental_minhash_dedup(
    new_signatures: DataFrame,
    band_index: DataFrame,
    min_est_jaccard: float,
) -> DataFrame:
    """New-batch documents admitted by near-dup screening against (a) the
    persisted ``band_index`` of all earlier batches and (b) the batch
    itself.

    A new document is DROPPED when any band collision scores
    ``est_jaccard >= min_est_jaccard`` against an admitted document, or
    against a SMALLER-id document of its own batch (one-pass rule: the
    smaller-id doc's own fate does not rescue the larger — monotone and
    distributed-friendly where true sequential admission would chain;
    same canonical-id convention as :func:`exact_dedup_groups`).  Output:
    the admitted (doc_id, mh_0..mh_N) rows — exactly what
    :func:`minhash_band_index` turns into the index's next increment.

    Scale shape: both screens are equi-joins on (band_idx, band_key) —
    the probe side is the new batch's bands (small per run), the index
    side is partitioned by the same key, and est_jaccard is computed from
    the signature columns already in the colliding rows (no text access,
    no extra shuffle).  This is how a crawl pipeline near-dups each new
    snapshot against petabytes of admitted corpus without rescanning it.
    """
    new_bands = minhash_band_index(new_signatures)
    matches = sum(
        (F.col(f"l.mh_{i}") == F.col(f"r.mh_{i}")).cast("int")
        for i in range(NUM_PERM)
    )
    est = matches / F.lit(float(NUM_PERM))
    l = new_bands.alias("l")
    dropped_vs_index = (
        l.join(
            band_index.alias("r"),
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key")),
        )
        .where(est >= min_est_jaccard)
        .select(F.col("l.doc_id").alias("doc_id"))
    )
    dropped_within = (
        new_bands.alias("r")
        .join(
            l,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .where(est >= min_est_jaccard)
        .select(F.col("r.doc_id").alias("doc_id"))
    )
    dropped = dropped_vs_index.unionByName(dropped_within).distinct()
    return new_signatures.join(dropped, "doc_id", "left_anti")


def sql_incremental_minhash_dedup(
    new_sigs_sql: str, index_sigs_sql: str, min_est_jaccard: float
) -> str:
    """DuckDB oracle: band both signature sets (shared :func:`_sql_banded`
    definition), apply the same two screens."""
    banded = _sql_banded
    est = _sql_match_fraction()
    cols = ", ".join(f"mh_{i}" for i in range(NUM_PERM))
    return f"""
WITH new_sigs AS ({new_sigs_sql}),
index_sigs AS ({index_sigs_sql}),
nb AS ({banded("SELECT * FROM new_sigs")}),
ib AS ({banded("SELECT * FROM index_sigs")}),
dropped AS (
  SELECT DISTINCT l.doc_id
  FROM nb l JOIN ib r ON l.band_idx = r.band_idx AND l.band_key = r.band_key
  WHERE {est} >= {min_est_jaccard}
  UNION
  SELECT DISTINCT r.doc_id
  FROM nb l JOIN nb r ON l.band_idx = r.band_idx AND l.band_key = r.band_key
       AND l.doc_id < r.doc_id
  WHERE {est} >= {min_est_jaccard}
)
SELECT doc_id, {cols}
FROM new_sigs s
WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_id = s.doc_id)
"""


def group_overlap_matrix(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Distinct-item overlap counts for every pair of groups — the
    cross-source contamination matrix: fed (source, shingle) rows it
    answers "how much content do these two sources share?", the signal
    that decides which source pairs need cross-dedup (q108/q113) before
    mixing and which are independent.

    Output: ``{group_col}_a``, ``{group_col}_b`` (a < b), n_shared
    (bigint, distinct shared items).

    Scale shape: items are md5-compressed to int64 BEFORE any shuffle
    (strings never travel — the q109 idiom; the oracle hashes
    identically, so a collision would fold the same pair on both
    engines), the distinct pass is one map-side-combined shuffle on the
    item hash, and the per-item self-join fans out s_i(s_i-1)/2 pairs
    for an item present in s_i groups — bounded by |groups|²/2 per item
    REGARDLESS of corpus size, aggregated map-side to at most |groups|²
    cells.  The whole plan is corpus-linear with a groups²-bounded tail;
    with thousands of groups, pre-prune items by group frequency (the
    boilerplate present in every group carries no pairing information
    and costs the most — the q126 screen finds those cheaply).

    NULL groups and NULL items are dropped: a NULL never equi-joins, and
    "shared with the NULL source" has no contamination reading.
    """
    g = (
        df.where(F.col(group_col).isNotNull() & F.col(item_col).isNotNull())
        .select(
            F.col(group_col).alias("__g"),
            md5_int60(F.col(item_col)).alias("__ih"),
        )
        .distinct()
    )
    a, b = g.alias("__ol_a"), g.alias("__ol_b")
    return (
        a.join(
            b,
            (F.col("__ol_a.__ih") == F.col("__ol_b.__ih"))
            & (F.col("__ol_a.__g") < F.col("__ol_b.__g")),
        )
        .groupBy(
            F.col("__ol_a.__g").alias(f"{group_col}_a"),
            F.col("__ol_b.__g").alias(f"{group_col}_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


def incremental_lsh_pairs(
    new_signatures: DataFrame,
    band_index: DataFrame,
    min_est_jaccard: float,
) -> DataFrame:
    """Near-dup pairs TOUCHING a new batch: batch docs vs the persisted
    :func:`minhash_band_index` of all earlier batches, plus within-batch
    pairs — never index-vs-index (those edges are already folded into
    whatever state the caller maintains; re-deriving them would rescan
    history, the thing the incremental family exists to avoid).

    Output: left_doc_id < right_doc_id, est_jaccard — the same pair
    semantics as ``lsh_candidate_pairs(all_signatures)`` restricted to
    pairs with at least one batch member (the equivalence
    q132 banks on: hist-pairs ∪ these = full-corpus pairs).

    Scale shape: the probe side is the batch's bands only; the index
    side is partitioned by band_key at scale (co-located equi-join);
    est_jaccard reads the signature columns riding in the colliding
    rows — no text access, no extra shuffle.  Same canonicalization as
    :func:`lsh_candidate_pairs` (least/greatest + distinct), so a
    within-batch collision surfacing from both sides folds to one row.
    """
    new_bands = minhash_band_index(new_signatures)
    l = new_bands.alias("l")
    r = band_index.unionByName(new_bands).alias("r")
    matches = sum(
        (F.col(f"l.mh_{i}") == F.col(f"r.mh_{i}")).cast("int") for i in range(NUM_PERM)
    )
    return (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") != F.col("r.doc_id")),
        )
        .select(
            F.least(F.col("l.doc_id"), F.col("r.doc_id")).alias("left_doc_id"),
            F.greatest(F.col("l.doc_id"), F.col("r.doc_id")).alias("right_doc_id"),
            (matches / F.lit(float(NUM_PERM))).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= min_est_jaccard)
        .distinct()
    )


# --- ExactSubstr output side: emit the deduplicated corpus -------------------


def exact_substring_dedup(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, min_doc_freq: int = 2
) -> DataFrame:
    """The OUTPUT side of cross-document exact-substring dedup: the
    cleaned corpus with repeated passages REMOVED, keeping exactly one
    copy corpus-wide (Lee et al.'s ExactSubstr emits the corpus minus
    duplicated spans; :func:`repeated_span_coverage` is the measurement
    side of the same signal, and this reuses its gram/position
    machinery).

    Keeper rule: a repeated gram (>= ``min_doc_freq`` distinct docs)
    stays in the doc with the MINIMUM doc id among its holders and is
    removed from every other doc.  A position is removed when ANY
    non-keeper repeated gram covers it (union over grams) — REMOVAL
    WINS, which makes the retention guarantee per-GRAM, not per-passage:
    when overlapping repeated grams have different keepers, a keeper's
    positions can still be removed by the OTHER gram and that passage
    then survives nowhere (e.g. n=2, docs ``'a b'`` / ``'a b c'`` /
    ``'b c'``: ``'a b'`` keeps doc 1, but ``'b c'``'s keeper doc 2 loses
    its ``b`` to the non-keeper copy of ``'a b'``).  This is the same
    aggressive-side trade Lee et al. accept for overlapping duplicate
    spans; callers needing lossless retention should gate on q118's
    coverage instead of emitting.  Tokens = the q118 whitespace
    convention; NULL text coalesces to ``''`` (1 token, no grams, kept
    verbatim).

    Scale shape (vs the reference algorithm's global suffix-array sort):
    grams md5-compress to int64 at the scan; doc frequency + keeper are
    ONE map-side-combined aggregate on the gram hash; the repeated-flag
    equi-join reuses that key with multiplicity = the gram's own doc
    frequency (the inverted index, never a cross product).  Removal
    positions fan out ``n``× (bounded) and aggregate to ONE removal-set
    row per affected doc (collect_set, doc-keyed exchange of POSITIONS
    only); the keep filter and re-assembly then run ROW-LOCALLY on the
    document row — ``filter(tokens, (t, i) -> NOT array_contains(rm,
    i+1))`` + ``array_join`` (r11; the guide-§8 decide-with-small-rows
    shape).  The previous form shuffled every corpus TOKEN three times:
    a (doc, pos) token explode into a sort-merge anti-join against the
    removal fan-out, then an ``array_sort(collect_list(struct))``
    re-assembly aggregate, then the assembly join — measured (r11,
    sf0.01 receipts / sf0.1 walls) the rewrite cuts q187's
    shuffle-write RECORDS 2.3× (101,245 → 44,367) and bytes 1.53×
    (1,789,548 → 1,171,218), the plan from 22 Exchanges / 4
    SortMergeJoins to 16 / 2, and the wall 3.37 → 2.59 s, with the
    token order preserved by ``filter``'s order stability (identical
    output, oracle-pinned).  Per-doc filter cost is
    O(tokens × removed-set); both are bounded by document length, never
    by corpus size.  Everything is linear in corpus tokens with shuffles
    keyed on gram hash / doc id; nothing is ever corpus-global on the
    driver.

    Output: ``doc_id``, ``n_tokens``, ``n_kept`` (bigints), ``clean_text``
    (kept tokens joined by one space; ``''`` when everything was
    removed).
    """
    toks, g = _positional_grams(df, id_col, text_col, n)
    keepers = (
        g.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(
            F.count(F.lit(1)).alias("gram_df"),
            F.min("doc_id").alias("keeper"),
        )
        .where(F.col("gram_df") >= min_doc_freq)
        .select("gh", "keeper")
    )
    # one removal START-position list per affected doc: gram occurrences
    # are unique per (doc, pos) so a plain collect_list carries no dups,
    # the n× covered-position fan-out never exists as ROWS (it expands
    # row-locally below), and the aggregate pays list-append instead of
    # set-insert — at the 100× pile-on (every gram flagged) this is the
    # difference between shipping 25M start ints and exploding+deduping
    # 75M covered ints through the exchange
    removed = (
        g.join(keepers, "gh")
        .where(F.col("doc_id") != F.col("keeper"))
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("__rm"))
    )
    # merge hint on the one corpus-sized join: `removed` is corpus-scale
    # in the worst case but its STATIC size estimate comes out tiny
    # (post-aggregate), so the planner would pick broadcast — at a 100x
    # pile-on the attempted broadcast of such a build side OOM'd the
    # driver (observed; AQE cannot undo a statically planned BHJ).  SMJ
    # keyed on doc id is the 100 TB shape.
    docs = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    # kept positions via array_except (hash-set build over the expanded
    # removal positions — O(tokens + removed·n) per doc, order-preserving
    # on the ascending position sequence; array_except dedups its second
    # argument internally, so overlapping grams need no distinct).  A
    # filter + array_contains form measured O(tokens × removed) and a
    # (doc, covered-pos) explode→collect_set form paid the 75M-element
    # set aggregate — both lost the 100× rung; this shape keeps it.
    covered = F.flatten(
        F.transform(
            F.col("__rm"), lambda p: F.sequence(p, p + F.lit(n - 1))
        )
    )
    kept_pos = F.array_except(F.sequence(F.lit(1), F.size("__toks")), covered)
    kept_arr = F.when(F.col("__rm").isNull(), F.col("__toks")).otherwise(
        F.transform(kept_pos, lambda p: F.element_at(F.col("__toks"), p))
    )
    return docs.join(removed.hint("merge"), "doc_id", "left").select(
        "doc_id",
        F.size("__toks").cast("bigint").alias("n_tokens"),
        F.size(kept_arr).cast("bigint").alias("n_kept"),
        F.array_join(kept_arr, " ").alias("clean_text"),
    )


def sql_exact_substring_dedup(
    src: str, id_col: str, text_col: str, n: int = 3, min_doc_freq: int = 2
) -> str:
    """DuckDB oracle twin of :func:`exact_substring_dedup` — identical
    gram hashing, keeper rule, and position union."""
    return f"""
WITH {_sql_positional_grams(src, id_col, text_col, n)},
keepers AS (
  SELECT gh, keeper FROM (
    SELECT gh, COUNT(DISTINCT doc_id) AS gram_df, MIN(doc_id) AS keeper
    FROM g GROUP BY 1
  ) WHERE gram_df >= {min_doc_freq}
),
removed AS (
  SELECT DISTINCT r.doc_id, r.pos + j.j AS pos
  FROM (SELECT g.doc_id, g.pos FROM g JOIN keepers USING (gh)
        WHERE g.doc_id <> keepers.keeper) r,
       generate_series(0, {n - 1}) j(j)
),
tok AS (
  SELECT doc_id, i AS pos, t[i] AS tok
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)
),
kept AS (
  SELECT tok.doc_id, tok.pos, tok.tok FROM tok
  WHERE NOT EXISTS (SELECT 1 FROM removed
                    WHERE removed.doc_id = tok.doc_id
                      AND removed.pos = tok.pos)
),
cl AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY 1
),
d AS (SELECT doc_id, len(t) AS n_tokens FROM toks)
SELECT d.doc_id,
       CAST(d.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(cl.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(cl.clean_text, '') AS clean_text
FROM d LEFT JOIN cl USING (doc_id)
"""
