"""Distributed byte-pair-encoding merge training — the tokenizer-side
primitive of an LLM data pipeline: given the corpus, learn the first
``n_merges`` BPE merge rules exactly (Sennrich et al.'s greedy
frequency-argmax, the algorithm under GPT-2/SentencePiece-BPE vocab
construction), entirely as DataFrame aggregates.

Why this distributes cleanly when the textbook trainer doesn't: the
textbook form mutates an in-memory vocab dict word-by-word.  Here the
corpus collapses ONCE to the word-frequency table (one map-side-combined
shuffle — the only corpus-sized operation at any scale), and every merge
round after that runs on the vocab-sized frame: adjacent-pair counts are
a row-local array expression (the bigram-LM extraction idiom — no
per-word window), the argmax is one ordered ``LIMIT 1`` (driver state =
ONE (left, right) pair per round, the q96 broadcast-centroid contract),
and the rewrite is a row-local left fold over each word's symbol array.
At 100 TB the vocab table is millions of rows, not billions of tokens —
merge rounds never touch the corpus again.

Greedy-rewrite semantics are pinned identically on both engines by the
same fold: scanning left to right, a symbol equal to ``right`` fuses
into the accumulator only when the accumulator's LAST symbol equals
``left`` — so ``a a a`` under merge (a,a) becomes ``aa a``, and a
just-fused symbol never re-fuses in the same round (the standard
non-overlapping greedy of every BPE implementation).

Vocabulary is lowercased and restricted to printable-ASCII words:
symbols are per-codepoint, and Java regex (UTF-16) vs RE2 (UTF-8) split
astral codepoints differently — ASCII sidesteps the divergence; a
production byte-level trainer would pre-encode to bytes, which is the
same pipeline with a different initial alphabet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.session import owned

#: vocab gates shared verbatim by the SQL twin
MAX_WORD_LEN = 30
WORD_RE = "^[ -~]+$"  # printable ASCII only (see module docstring)
#: merge rounds between lineage cuts of the greedy loop
_CHECKPOINT_EVERY = 16

#: the SQL spelling of the vocab gate, defined ONCE so every twin (the
#: training `w`, the per-group `gw`, the encode-side `encw`, the corpus
#: `doc_words`, and external consumers via :func:`sql_gated_doc_words`)
#: is the same byte string — a reworded copy in one CTE would silently
#: split the vocabulary between training and encode
_SQL_WORD_GATE = (
    f"word <> '' AND length(word) <= {MAX_WORD_LEN}\n"
    f"        AND regexp_matches(word, '{WORD_RE}')"
)


def word_freqs(docs: DataFrame, text_col: str) -> DataFrame:
    """The ONE corpus-sized step: lowercase space-tokens → (word, freq).
    Map-side combined; everything after runs vocab-sized."""
    w = F.col("word")
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word")
        )
        .where((w != "") & (F.length(w) <= MAX_WORD_LEN) & w.rlike(WORD_RE))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _spaced(col: F.Column) -> F.Column:
    """word → space-separated single-codepoint symbols."""
    return F.trim(F.regexp_replace(col, "(.)", "$1 "))


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """freq-weighted adjacent symbol pairs of the seq column — row-local
    extraction (the bigram idiom), one vocab-sized aggregation."""
    from spark_hadoop_automation_in_cloud_spark.operators.textops import _bigram_pairs

    return (
        seqs.select(F.col("freq"), F.explode(_bigram_pairs("seq")).alias("p"))
        .groupBy(F.col("p.w1").alias("left"), F.col("p.w2").alias("right"))
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
    )


def _merge_fold(left: str, right: str) -> F.Column:
    """The greedy left-to-right merge pass over the ``seq`` column as a
    row-local fold (JVM-side ``aggregate`` — no UDF): a symbol equal to
    ``right`` fuses iff the accumulator's last symbol equals ``left``."""
    l, r = F.lit(left), F.lit(right)
    arr = F.split(F.col("seq"), " ")
    tail = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
    return F.aggregate(
        tail,
        F.element_at(arr, 1),
        lambda acc, x: F.when(
            (x == r) & (F.element_at(F.split(acc, " "), -1) == l),
            F.concat(acc, x),
        ).otherwise(F.concat(acc, F.lit(" "), x)),
    )


def _apply_merge(
    seqs: DataFrame,
    left: str,
    right: str,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """One merge pass over a (seq, freq, *keep) frame."""
    return seqs.select(
        _merge_fold(left, right).alias("seq"), "freq", *(keep_cols or [])
    )


def _greedy_merge_loop(
    seqs: DataFrame, n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """The shared greedy trainer core over a ``(seq, freq)`` frame.

    Per round: pair counts (vocab-sized aggregate) → argmax by
    (pair_count DESC, left ASC, right ASC) — one row to the driver —
    → fold-rewrite of every word's symbol sequence.  The working frame
    is cached per round and released after the next round's counts
    materialize (bounded: two vocab-sized caches in flight).

    LINEAGE CONTROL for realistic merge counts: each round nests another
    fold expression over the previous frame, and persist truncates only
    COMPUTE — the logical plan still deepens per round, so at hundreds
    of rounds Catalyst analysis/codegen cost grows quadratically and the
    generated fold expression outgrows codegen limits.  Every
    :data:`_CHECKPOINT_EVERY` rounds the frame ``localCheckpoint``s
    (cutting the plan back to a block scan, ≤ that many folds deep) and
    the previous cut is released.  Caches and pins are owned by one
    ``session.owned`` scope, so none outlives the call, also on error.
    """
    rules: list[tuple[int, str, str, str, int]] = []
    with owned(seqs.sparkSession) as scope:
        prev = cut = None
        for step in range(1, n_merges + 1):
            if step % _CHECKPOINT_EVERY == 0:
                seqs = scope.pin(seqs)
                if cut is not None:
                    scope.release(cut)
                cut = seqs
            else:
                seqs = scope.persist(seqs)
            top = (
                _pair_counts(seqs)
                .orderBy(F.col("pair_count").desc(), "left", "right")
                .limit(1)
                .collect()
            )
            if prev is not None:
                scope.release(prev)
            prev = None if seqs is cut else seqs
            if not top:
                break
            l, r, cnt = top[0]["left"], top[0]["right"], int(top[0]["pair_count"])
            rules.append((step, l, r, l + r, cnt))
            seqs = _apply_merge(seqs, l, r)
    return rules


def bpe_merges_from_freqs(
    freqs: DataFrame,
    n_merges: int = 4,
) -> DataFrame:
    """Learn merge rules from a precomputed ``(word, freq)`` table —
    the seam that lets a caller pay the corpus-sized word-frequency
    aggregate ONCE and reuse the (vocab-sized) table for both training
    and the encode chain's distinct-word side (see
    :func:`bpe_encode`'s ``vocab_words``).  The table must be built
    under the SAME vocab gate as :func:`word_freqs` — a differently
    gated table silently splits the vocabulary between training and
    encode.  Same output contract as :func:`bpe_merges`."""
    seqs = freqs.select(_spaced(F.col("word")).alias("seq"), "freq")
    return freqs.sparkSession.createDataFrame(
        _greedy_merge_loop(seqs, n_merges),
        "step int, lhs string, rhs string, merged string, pair_count bigint",
    )


def bpe_merges(
    docs: DataFrame,
    text_col: str,
    n_merges: int = 4,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules from the corpus
    (greedy loop: :func:`_greedy_merge_loop`).

    Output: step (int, 1-based), lhs, rhs, merged (string),
    pair_count (bigint) — the merge table, ``n_merges`` rows (fewer iff
    the vocabulary runs out of adjacent pairs).
    """
    return bpe_merges_from_freqs(word_freqs(docs, text_col), n_merges)


#: the sampled-training hash salt — ONE constant shared by the Spark
#: gate and the SQL twin (decorrelates this use of `word` from any other
#: md5-bucket use of the same column)
SAMPLE_SALT = ":bpesample"


def sampled_word_freqs(
    docs: DataFrame, text_col: str, sample_mod: int
) -> DataFrame:
    """:func:`word_freqs` restricted to a deterministic 1/``sample_mod``
    hash-sample of the VOCABULARY (``md5(word || salt) % mod == 0``) —
    bounded, engine-portable, exactly replayable in SQL.  Sampling by
    word (not by document) keeps every surviving word's frequency EXACT:
    the pair statistics are the true corpus statistics of a vocabulary
    subset, not a noisy estimate of the full vocabulary's."""
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    from spark_hadoop_automation_in_cloud_spark.functions.hashing import (
        md5_prefix_int,
    )

    return sampled_freqs_slice(word_freqs(docs, text_col), sample_mod)


def sampled_freqs_slice(freqs: DataFrame, sample_mod: int) -> DataFrame:
    """The deterministic 1/``sample_mod`` hash gate applied to an
    EXISTING ``(word, freq)`` table — the :func:`bpe_merges_from_freqs`
    seam's sampled twin, so a caller-shared frequency table feeds
    sampled training without a second corpus pass."""
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    from spark_hadoop_automation_in_cloud_spark.functions.hashing import (
        md5_prefix_int,
    )

    if sample_mod == 1:
        return freqs
    gate = md5_prefix_int(F.col("word"), nhex=15, salt=SAMPLE_SALT)
    return freqs.where(gate % sample_mod == 0)


def bpe_merges_sampled(
    docs: DataFrame,
    text_col: str,
    n_merges: int = 4,
    sample_mod: int = 16,
) -> DataFrame:
    """Learn merge rules on a hash-sampled vocabulary — the production
    shape for REALISTIC merge counts (10³–10⁵): :func:`bpe_merges` pays
    one vocab-sized pair aggregate + fold rewrite PER ROUND, so at 32k
    merges the serial round structure is the wall and the per-round
    frame size is the only lever.  Public pretraining pipelines train
    tokenizer rules on a corpus sample and encode the full corpus; here
    the sample is a deterministic 1/``sample_mod`` hash-slice of the
    word-frequency table (:func:`sampled_word_freqs` — surviving words
    keep EXACT corpus frequencies), so every round's aggregate + fold
    runs on ``vocab/sample_mod`` rows while the learned rules remain
    exactly replayable by the SQL twin.  ``sample_mod=1`` degenerates to
    :func:`bpe_merges` exactly (parity-pinned in tests).

    Full-corpus encode then applies the learned rules via
    :func:`bpe_encode` unchanged — encode cost never depended on where
    the rules came from (its folds run on the full DISTINCT-word table
    either way).

    Same output contract as :func:`bpe_merges`.
    """
    seqs = sampled_word_freqs(docs, text_col, sample_mod).select(
        _spaced(F.col("word")).alias("seq"), "freq"
    )
    return docs.sparkSession.createDataFrame(
        _greedy_merge_loop(seqs, n_merges),
        "step int, lhs string, rhs string, merged string, pair_count bigint",
    )


def _sql_fold(seq_expr: str, t_alias: str) -> str:
    """The shared ``list_reduce`` greedy rewrite (last-symbol guard)."""
    return (
        f"list_reduce(string_split({seq_expr}, ' '),"
        f" (acc, x) -> CASE WHEN x = {t_alias}.rgt"
        f" AND string_split(acc, ' ')[-1] = {t_alias}.lft"
        " THEN acc || x ELSE acc || ' ' || x END)"
    )


def _sql_fold_round(seq_expr: str, t_alias: str) -> str:
    """One rewrite round, robust to PAIR EXHAUSTION: when training runs
    out of adjacent pairs before ``n_merges``, ``t{i}`` is EMPTY — a
    CROSS JOIN would empty the whole frame (and every later round with
    it), while Spark simply applies the shorter rule list.  The twin
    therefore joins the 1-or-0-row winner with ``LEFT JOIN ... ON TRUE``
    and makes the fold a no-op on the NULL row, so an exhausted round
    passes sequences through unchanged — exactly what 'no rule this
    round' means.  (``lft`` is never NULL in a real winner row: symbols
    come from splitting non-empty gated words.)"""
    return (
        f"CASE WHEN {t_alias}.lft IS NULL THEN {seq_expr}"
        f" ELSE {_sql_fold(seq_expr, t_alias)} END"
    )


def _sql_sample_gate(sample_mod: int | None) -> str:
    """The vocabulary hash-sample predicate of
    :func:`sampled_word_freqs` as SQL ('' when unsampled)."""
    from spark_hadoop_automation_in_cloud_spark.functions.hashing import (
        sql_md5_prefix_int,
    )

    if sample_mod is None or sample_mod == 1:
        return ""
    return (
        f" AND ({sql_md5_prefix_int('word', 15, SAMPLE_SALT)})"
        f" % {sample_mod} = 0"
    )


def _sql_training_ctes(
    src: str, text_col: str, n_merges: int, sample_mod: int | None = None
) -> str:
    """The training trajectory as a CTE-chain fragment (``w``, ``s0``,
    then per round ``p{i}``/``t{i}``/``s{i}``), shared by
    :func:`sql_bpe_merges` and :func:`sql_segmentation_stats` so both
    oracles train on ONE definition.  ``sample_mod`` restricts ``w`` to
    the :func:`sampled_word_freqs` hash-slice (the gate is a pure
    function of ``word``, so filtering pre-GROUP BY equals filtering
    the grouped table)."""

    def pair_cte(seq_src: str) -> str:
        return (
            "SELECT p[1] AS lft, p[2] AS rgt, CAST(SUM(freq) AS BIGINT) AS pair_count"
            " FROM (SELECT unnest(list_zip(ls, ls[2:])) AS p, freq"
            f" FROM (SELECT string_split(seq, ' ') AS ls, freq FROM {seq_src}))"
            " WHERE p[2] IS NOT NULL GROUP BY 1, 2"
        )

    parts = [
        f"""
w AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(lower({text_col}), ' ')) AS word FROM {src}
  ) WHERE {_SQL_WORD_GATE}{_sql_sample_gate(sample_mod)}
  GROUP BY word
),
s0 AS MATERIALIZED (
  SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq, freq FROM w
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""
p{i} AS MATERIALIZED ({pair_cte(f"s{i - 1}")}),
t{i} AS MATERIALIZED (
  SELECT lft, rgt, pair_count FROM p{i}
  ORDER BY pair_count DESC, lft ASC, rgt ASC LIMIT 1
),
s{i} AS MATERIALIZED (
  SELECT {_sql_fold_round("s.seq", "t")} AS seq,
         s.freq
  FROM s{i - 1} s LEFT JOIN t{i} t ON TRUE
)"""
        )
    return ",".join(parts)


def sql_bpe_merges(
    src: str, text_col: str, n_merges: int = 4, sample_mod: int | None = None
) -> str:
    """DuckDB twin of :func:`bpe_merges`: the full greedy trajectory
    unrolled as one CTE chain per round (the q96/q156 iterative-oracle
    pattern, MATERIALIZED so each round computes once) — identical
    vocab gates, pair counting, (count, left, right) argmax, and the
    same last-symbol-guarded left fold via ``list_reduce`` (the
    1-or-0-row winner LEFT JOINs into the rewrite — see
    :func:`_sql_fold_round` — because lambdas cannot hold
    subqueries)."""
    unions = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, lft AS lhs, rgt AS rhs, lft || rgt AS merged,"
        f" pair_count FROM t{i}"
        for i in range(1, n_merges + 1)
    )
    return (
        "WITH "
        + _sql_training_ctes(src, text_col, n_merges, sample_mod=sample_mod)
        + f"\nSELECT * FROM ({unions}) ORDER BY step"
    )


def grouped_word_freqs(
    docs: DataFrame, group_cols: list[str], text_col: str
) -> DataFrame:
    """Per-group word frequencies under the same vocab gates as
    :func:`word_freqs` — the corpus-sized step of
    :func:`segmentation_stats`."""
    w = F.col("word")
    return (
        docs.select(
            *group_cols,
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"),
        )
        .where((w != "") & (F.length(w) <= MAX_WORD_LEN) & w.rlike(WORD_RE))
        .groupBy(*group_cols, "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def segmentation_stats(
    docs: DataFrame,
    group_cols: list[str],
    text_col: str,
    rules: list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned merge table to the corpus and report per-group
    tokenizer fit: how well do the merges COMPRESS each slice?  The
    eval a tokenizer-vs-mixture decision reads — a source whose
    compression ratio trails the corpus average is paying more
    sequence length per byte under this vocab (the q165 Zipf slope's
    actionable counterpart).

    ``rules`` is the (lhs, rhs) merge list IN ORDER (from
    :func:`bpe_merges` — bounded driver state, broadcast into the fold
    literals).  Each merge is one row-local fold pass over the
    per-(group, word) vocab frame; the corpus is touched exactly once
    (the grouped word-frequency aggregate).

    Output per group: n_words (distinct vocab words, bigint),
    n_tokens (word instances, bigint), syms_before, syms_after
    (symbol instances, bigint), compression (before/after, double 6dp).
    """
    gs = list(group_cols)
    seqs = grouped_word_freqs(docs, gs, text_col).select(
        *gs,
        _spaced(F.col("word")).alias("seq"),
        "freq",
        F.length(F.col("word")).alias("__lw"),
    )
    for lhs, rhs in rules:
        seqs = _apply_merge(seqs, lhs, rhs, keep_cols=[*gs, "__lw"])
    return seqs.groupBy(*gs).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("freq").cast("bigint").alias("n_tokens"),
        F.sum(F.col("freq") * F.col("__lw")).cast("bigint").alias("syms_before"),
        F.sum(F.col("freq") * F.size(F.split(F.col("seq"), " ")))
        .cast("bigint")
        .alias("syms_after"),
        F.round(
            F.sum(F.col("freq") * F.col("__lw")).cast("double")
            / F.sum(F.col("freq") * F.size(F.split(F.col("seq"), " "))).cast(
                "double"
            ),
            6,
        ).alias("compression"),
    )


def sql_segmentation_stats(
    src: str, group_cols: list[str], text_col: str, n_merges: int = 4
) -> str:
    """DuckDB twin of :func:`segmentation_stats` for rules learned by
    :func:`bpe_merges` on the SAME source: reuses the shared training
    CTE chain verbatim, then applies each round's winner to the
    per-group vocab with the same fold."""
    gs = ", ".join(group_cols)
    group_parts = [
        f"""
gw AS MATERIALIZED (
  SELECT {gs}, word, COUNT(*) AS freq FROM (
    SELECT {gs}, unnest(string_split(lower({text_col}), ' ')) AS word FROM {src}
  ) WHERE {_SQL_WORD_GATE}
  GROUP BY {gs}, word
),
g0 AS MATERIALIZED (
  SELECT {gs}, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq, freq,
         length(word) AS lw
  FROM gw
)"""
    ]
    for i in range(1, n_merges + 1):
        group_parts.append(
            f"""
g{i} AS MATERIALIZED (
  SELECT {gs}, {_sql_fold_round("g.seq", "t")} AS seq, g.freq, g.lw
  FROM g{i - 1} g LEFT JOIN t{i} t ON TRUE
)"""
        )
    return (
        "WITH "
        + _sql_training_ctes(src, text_col, n_merges)
        + ","
        + ",".join(group_parts)
        + f"""
SELECT {gs},
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(freq) AS BIGINT) AS n_tokens,
       CAST(SUM(freq * lw) AS BIGINT) AS syms_before,
       CAST(SUM(freq * len(string_split(seq, ' '))) AS BIGINT) AS syms_after,
       round(CAST(SUM(freq * lw) AS DOUBLE)
             / CAST(SUM(freq * len(string_split(seq, ' '))) AS DOUBLE), 6)
         AS compression
FROM g{n_merges}
GROUP BY {gs}
"""
    )


def token_id_map(rules: list[tuple[str, str]]) -> dict[str, int]:
    """Deterministic token-id assignment for a learned merge table: the
    base alphabet is printable ASCII (char c → ``ord(c) − 32``, ids
    0–94 — fixed, no corpus pass), and each merge's concatenated symbol
    takes the next id (95, 96, …) IN TRAINING ORDER, first occurrence
    wins (two merges can emit the same string — ``(a, bc)`` and
    ``(ab, c)`` both yield ``abc`` — and a vocab maps strings, so the
    duplicate reuses the earlier id; the standard insert-if-absent of
    every BPE vocab builder)."""
    ids: dict[str, int] = {}
    for left, right in rules:
        merged = left + right
        if merged not in ids:
            ids[merged] = 95 + len(ids)
    return ids


def gated_words(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The positioned encodable-word stream — ``(doc_id, pos, word)``
    under the training vocab gates.  The corpus-facing first step of
    :func:`bpe_encode`, exposed so the decode round-trip can derive its
    expected value (``concat of gated words``) from the SAME gate
    definition."""
    w = F.col("word")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
            "pos", "word"
        ),
    ).where((w != "") & (F.length(w) <= MAX_WORD_LEN) & w.rlike(WORD_RE))


def sql_gated_doc_words(src: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`gated_words` — the positioned encodable-word
    stream ``(doc_id, pos, word)`` as a SQL fragment (a full SELECT, no
    trailing newline) so oracles that need the corpus word stream under
    the SAME vocab gates (the encode chain's ``doc_words``, q203's
    per-source char/word totals) spell the gate exactly once."""
    return f"""SELECT doc_id, pos, word FROM (
    SELECT {id_col} AS doc_id,
           unnest(string_split(lower({text_col}), ' ')) AS word,
           generate_subscripts(string_split(lower({text_col}), ' '), 1) AS pos
    FROM {src}
  ) WHERE {_SQL_WORD_GATE}"""


def bpe_encode(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    rules: list[tuple[str, str]],
    vocab_words: DataFrame | None = None,
) -> DataFrame:
    """Encode the corpus to token-id arrays under a learned merge table
    — the production artifact of the BPE family (training emits rules,
    q166; fit reporting scores them, q169; THIS emits what a trainer
    actually consumes: per-document ``array<int>`` token ids).

    100 TB shape — the merge folds run VOCAB-sized, never corpus-sized:
    the corpus explodes once to positioned words, collapses to DISTINCT
    words, each distinct word replays the ``n_merges`` greedy folds
    (row-local JVM ``aggregate``, the q181 idiom) and maps symbols to
    ids (single codepoint → ``ascii−32``; merged symbol → the bounded
    :func:`token_id_map` literal).  The corpus is then touched by one
    equi-join on word and one per-doc re-assembly aggregate
    (``array_sort(collect_list(struct(pos, ids)))`` → flatten — q187's
    re-assembly idiom), so per-occurrence work is O(1) regardless of
    ``n_merges``.  Words failing the training vocab gates (empty, >30
    chars, non-printable-ASCII) are untokenizable under this alphabet
    and drop from the stream; documents with NO encodable word drop
    entirely (both engines agree — inner join + group by).

    ``vocab_words``: an optional precomputed DISTINCT gated-word table
    (a ``word`` column — e.g. the training word-frequency table's keys,
    :func:`bpe_merges_from_freqs`'s seam).  Supplying it removes the
    encode plan's second corpus pass: the default vocab side re-explodes
    and re-gates the whole corpus just to distinct it down to the word
    table the caller often already has.  It MUST be the distinct word
    set of ``docs`` under the SAME vocab gate — a stale or differently
    gated table silently drops words from the inner join below.

    Output: doc_id, n_tokens (bigint), token_ids (array<int>, document
    order).
    """
    ids = token_id_map(rules)
    words = gated_words(docs, id_col, text_col)
    vocab_src = (
        vocab_words.select("word")
        if vocab_words is not None
        else words.select("word").distinct()
    )
    vocab = vocab_src.select("word", _spaced(F.col("word")).alias("seq"))
    for left, right in rules:
        vocab = vocab.select("word", _merge_fold(left, right).alias("seq"))
    if ids:
        id_map = F.create_map(
            *[F.lit(x) for kv in ids.items() for x in (kv[0], kv[1])]
        )
        merged_id = lambda s: F.element_at(id_map, s)  # noqa: E731
    else:
        merged_id = lambda s: F.lit(None)  # noqa: E731
    word_ids = vocab.select(
        "word",
        F.transform(
            F.split(F.col("seq"), " "),
            lambda s: F.when(F.length(s) == 1, F.ascii(s) - 32)
            .otherwise(merged_id(s))
            .cast("int"),
        ).alias("ids"),
    )
    assembled = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "ids"))),
            lambda x: x["ids"],
        )
    )
    return (
        words.join(word_ids, "word")
        .groupBy("doc_id")
        .agg(assembled.alias("token_ids"))
        .select(
            "doc_id",
            F.size("token_ids").cast("bigint").alias("n_tokens"),
            "token_ids",
        )
    )


def sql_bpe_encode(
    src: str,
    id_col: str,
    text_col: str,
    n_merges: int = 4,
    sample_mod: int | None = None,
) -> str:
    """DuckDB twin of :func:`bpe_encode` for rules learned by
    :func:`bpe_merges` (or, with ``sample_mod``,
    :func:`bpe_merges_sampled`) on the SAME source: the shared training
    CTE chain derives t1..tn, a word-keyed rewrite chain replays the
    folds on the distinct vocab, merged symbols take ids by first-
    training-step order (95 + dense first-step rank —
    :func:`token_id_map`'s insert-if-absent in SQL), and per-doc
    streams re-assemble in word order.

    With ``sample_mod``, training runs on the hash-sampled vocabulary
    but the ENCODE-side fold chain (``v0``…) runs on the FULL corpus
    vocab — mirroring :func:`bpe_encode`, whose distinct-word table
    never depended on where the rules came from."""
    return (
        "WITH "
        + _sql_encode_ctes(src, id_col, text_col, n_merges, sample_mod)
        + "\n"
        + _SQL_ENCODE_SELECT
    )


def _sql_rewrite_ctes(
    src: str, text_col: str, n_merges: int, sample_mod: int | None
) -> list[str]:
    """The encode-side fold chain ``v0..v{n}`` (full-corpus vocab when
    training is sampled — see :func:`sql_bpe_encode`)."""
    if sample_mod is None or sample_mod == 1:
        v0 = """
v0 AS MATERIALIZED (
  SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq FROM w
)"""
    else:
        v0 = f"""
encw AS MATERIALIZED (
  SELECT word FROM (
    SELECT unnest(string_split(lower({text_col}), ' ')) AS word FROM {src}
  ) WHERE {_SQL_WORD_GATE}
  GROUP BY word
),
v0 AS MATERIALIZED (
  SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq FROM encw
)"""
    rewrite = [v0]
    for i in range(1, n_merges + 1):
        rewrite.append(
            f"""
v{i} AS MATERIALIZED (
  SELECT v.word, {_sql_fold_round("v.seq", "t")} AS seq
  FROM v{i - 1} v LEFT JOIN t{i} t ON TRUE
)"""
        )
    return rewrite


#: the encode result projection shared by :func:`sql_bpe_encode` (as the
#: top-level SELECT) and :func:`sql_bpe_decode_roundtrip` (as the `enc`
#: CTE body)
_SQL_ENCODE_SELECT = """SELECT doc_id,
       CAST(SUM(len(ids)) AS BIGINT) AS n_tokens,
       flatten(list(ids ORDER BY pos)) AS token_ids
FROM doc_words JOIN word_ids USING (word)
GROUP BY doc_id
"""


def _sql_encode_ctes(
    src: str,
    id_col: str,
    text_col: str,
    n_merges: int,
    sample_mod: int | None = None,
) -> str:
    """Everything of the encode twin up to (and including) ``doc_words``
    as a CTE fragment — the base both :func:`sql_bpe_encode` and the
    decode round-trip build on."""
    rewrite = _sql_rewrite_ctes(src, text_col, n_merges, sample_mod)
    step_union = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, lft || rgt AS merged FROM t{i}"
        for i in range(1, n_merges + 1)
    )
    return (
        _sql_training_ctes(src, text_col, n_merges, sample_mod=sample_mod)
        + ","
        + ",".join(rewrite)
        + f""",
mv AS (
  SELECT merged,
         94 + ROW_NUMBER() OVER (ORDER BY first_step) AS tok_id
  FROM (SELECT merged, MIN(step) AS first_step FROM ({step_union})
        GROUP BY merged)
),
sym AS (
  SELECT word, ord,
         CASE WHEN length(s) = 1 THEN ascii(s) - 32 ELSE mv.tok_id END AS tid
  FROM (SELECT word, unnest(string_split(seq, ' ')) AS s,
               generate_subscripts(string_split(seq, ' '), 1) AS ord
        FROM v{n_merges})
  LEFT JOIN mv ON mv.merged = s AND length(s) > 1
),
word_ids AS (
  SELECT word, list(CAST(tid AS INT) ORDER BY ord) AS ids
  FROM sym GROUP BY word
),
doc_words AS (
  {sql_gated_doc_words(src, id_col, text_col)}
)"""
    )


def decode_token_ids(
    encoded: DataFrame,
    rules: list[tuple[str, str]],
    ids_col: str = "token_ids",
    out_col: str = "decoded",
) -> DataFrame:
    """Invert :func:`bpe_encode`: token-id arrays back to text — the
    inspection/debug side of the tokenizer family (spot-check what the
    trainer actually sees).  Row-local: one JVM ``transform`` through
    the inverted :func:`token_id_map` literal (base ids 0–94 →
    ``chr(id+32)``, merge ids → their concatenated symbol) and an
    ``array_join``.

    LOSSY BY DESIGN at the word level: the encode scheme emits no
    word-boundary token, so decode returns the CONCATENATION of the
    document's gated words with no separators (``decoded ==
    concat(gated_words)`` — the round-trip contract
    tests/test_operators.py pins).  Unknown ids (not base, not in the
    merge vocab) decode to NULL for the whole document rather than
    silently skipping — a wrong-vocab mistake should be loud.
    """
    inv = {v: k for k, v in token_id_map(rules).items()}
    inv_map = (
        F.create_map(*[F.lit(x) for kv in inv.items() for x in (kv[0], kv[1])])
        if inv
        else None
    )

    def sym(t: F.Column) -> F.Column:
        merged = (
            F.element_at(inv_map, t) if inv_map is not None
            else F.lit(None).cast("string")
        )
        return F.when((t >= 0) & (t <= 94), F.char(t + 32)).otherwise(merged)

    # array_join with no null_replacement drops nulls, which would decode
    # a wrong-vocab stream to a silently-shorter string — aggregate with
    # concat instead so ONE unknown id nulls the whole decode (loud)
    decoded = F.aggregate(
        F.transform(F.col(ids_col), sym),
        F.lit("").cast("string"),
        lambda acc, s: F.concat(acc, s),
    )
    return encoded.select("*", decoded.alias(out_col))


def sql_bpe_decode_roundtrip(
    src: str, id_col: str, text_col: str, n_merges: int = 4
) -> str:
    """DuckDB twin of the encode→decode round-trip readout (q199): the
    shared encode CTE chain, then per-document decode through the SAME
    inverse map (base ids → ``chr(id+32)``, merge ids → ``mv.merged``),
    compared against ``concat(gated_words)`` — and a second decode with
    ONE appended out-of-vocab id (9999) proving the loud-NULL path (the
    whole document nulls, never a silently shorter string).  The long
    decoded string ships as its md5 (the q58 serialization convention,
    applied to unbounded strings)."""

    def decode_ctes(prefix: str, ids_expr: str) -> str:
        return f"""
{prefix}ids AS (
  SELECT doc_id, unnest({ids_expr}) AS tid,
         generate_subscripts({ids_expr}, 1) AS ord
  FROM enc
),
{prefix}syms AS (
  SELECT doc_id, ord,
         CASE WHEN tid >= 0 AND tid <= 94 THEN chr(tid + 32)
              ELSE mv.merged END AS s
  FROM {prefix}ids LEFT JOIN mv ON mv.tok_id = tid
),
{prefix}dec AS (
  SELECT doc_id,
         CASE WHEN bool_or(s IS NULL) THEN NULL
              ELSE string_agg(s, '' ORDER BY ord) END AS decoded
  FROM {prefix}syms GROUP BY doc_id
)"""

    return (
        "WITH "
        + _sql_encode_ctes(src, id_col, text_col, n_merges)
        + f""",
enc AS MATERIALIZED (
{_SQL_ENCODE_SELECT}),"""
        + decode_ctes("", "token_ids")
        + ","
        + decode_ctes("b", "list_append(token_ids, 9999)")
        + """,
expd AS (
  SELECT doc_id, string_agg(word, '' ORDER BY pos) AS expected
  FROM doc_words GROUP BY doc_id
)
SELECT e.doc_id,
       e.n_tokens,
       md5(d.decoded) AS decoded_md5,
       d.decoded = x.expected AS roundtrip_ok,
       b.decoded IS NULL AS bad_is_null
FROM enc e
JOIN dec d USING (doc_id)
JOIN bdec b USING (doc_id)
JOIN expd x USING (doc_id)
ORDER BY doc_id
"""
    )
