"""Distributed logistic regression by full-batch gradient descent — the
quality-classifier primitive of an LLM data pipeline: distill an
expensive gate (a rule composite like q27's quality score, or an
upstream model's labels) into a cheap linear filter that then runs
row-locally over the whole corpus (the fastText-style quality-filter
role in public pretraining pipelines).

Distributed shape — the q96 broadcast-model contract: the model is
``d+1`` doubles of DRIVER state (never a corpus-sized frame), and each
round is ONE map-side-combined aggregate over the feature frame — the
current weights are inlined as literals into the sigmoid expression, so
the corpus is scanned once per round with no shuffle beyond the 1-row
gradient aggregate.  Nothing is ever collected except the ``d+2``
gradient sums per round.  At 100 TB each round costs exactly one scan
of the NARROW persisted feature frame — the raw-text feature derivation
runs once, not per round (the caller persists it; see :func:`logistic_fit`);
rounds are fixed (deterministic, comparable runs — the q69 convention).

Cross-engine determinism (the PageRank/PPR trajectory discipline):
every arithmetic step is spelled identically on both engines — the
same left-associated dot product, the same ``1/(1+exp(-z))`` sigmoid,
the same ``w − lr·g/n`` update — and each round's weights snap to a
fixed decimal grid so the two engines' trajectories re-synchronize.
The snap is 7dp (not the rank family's 9dp): the gradient sums carry
per-row ``exp`` values where JVM ``Math.exp`` and libm may differ in
the last ulp, so the per-round wobble is ~n·1e-16 — a 1e-7 grid leaves
~9 orders of magnitude of slack, while perturbing GD by ≤5e-8/round
(far below any meaningful resolution of the fit).  Final weights are
emitted AT the 7dp snap with no further rounding — a second rounding
step would reintroduce the half-boundary hazard (the q168 lesson).

Training accuracy is decided on the LINEAR score (``dot ≥ 0`` ⇔
``σ ≥ 0.5``) — no exp in the reported metric — and emitted as one
exact-count IEEE division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_hadoop_automation_in_cloud_spark.session import owned


def _dot(w: list[float], feature_cols: list[str]) -> F.Column:
    """w0 + w1·f1 + … left-associated — the ONE dot-product spelling
    both engines use (the SQL twin renders the identical tree)."""
    expr = F.lit(w[0])
    for j, c in enumerate(feature_cols, start=1):
        expr = expr + F.lit(w[j]) * F.col(c)
    return expr


def _sql_double(v: float) -> str:
    """An exact double literal: ``repr`` round-trips the shortest decimal
    that parses back to the same IEEE double, and Spark's string→double
    cast is correctly rounded — bit-identical to ``F.lit(v)``."""
    import math

    if not math.isfinite(v):
        raise ValueError(f"non-finite GD weight: {v!r}")
    return f"CAST('{v!r}' AS DOUBLE)"


def _bt(name: str) -> str:
    """Backtick-quote a column name for the F.expr strings (embedded
    backticks doubled) — preserves the accepted-name surface of the old
    F.col()-based tree for names needing quoting (spaces, hyphens,
    reserved words; r10 ADVICE item 3).  Quoting a plain identifier
    parses to the identical attribute reference."""
    return "`" + name.replace("`", "``") + "`"


def logistic_fit(
    features: DataFrame,
    feature_cols: list[str],
    label_col: str = "y",
    n_iter: int = 10,
    lr: float = 5.0,
    per_iter_round_dp: int = 7,
) -> list[float]:
    """Fit weights ``[w0 (intercept), w1..wd]`` on a frame of double
    features and a 0.0/1.0 double label.  Driver state = the weight
    vector; one aggregate job per round (see module docstring).

    Each round scans ``features``.  When it is derived from raw text by
    regex-heavy expressions, the caller persists it through
    ``session.owned`` so the n rounds read the narrow cached frame
    instead of re-deriving it (q198, :func:`logistic_train_report`)."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    # Each round's sigmoid/gradient/update is built as SQL STRINGS parsed
    # JVM-side via F.expr — the expression TREE is the same one the old
    # Column-composition form built (same left-associated dot, same
    # 1/(1+exp(-z)), same w − lr·g/n, exact double literals), but
    # assembling a ~100-node tree through per-node py4j calls cost
    # ~0.23 s/round of driver latency (measured 2026-08-17: 10 rounds
    # 3.6 s → 1.3 s at sf0.1) — the bench-pinned footgun that
    # per-iteration Column trees are py4j-bound, not compute-bound.
    w = [0.0] * (len(feature_cols) + 1)
    for _ in range(n_iter):
        wl = [_sql_double(v) for v in w]
        dot = " + ".join(
            [wl[0]]
            + [f"{wl[j]} * {_bt(c)}" for j, c in enumerate(feature_cols, start=1)]
        )
        sig = f"(1.0 / (1.0 + exp(-({dot}))) - {_bt(label_col)})"
        aggs = [
            F.expr("CAST(COUNT(1) AS DOUBLE)").alias("n"),
            F.expr(f"SUM({sig})").alias("g0"),
        ] + [
            F.expr(f"SUM({sig} * {_bt(c)})").alias(f"g{j}")
            for j, c in enumerate(feature_cols, start=1)
        ]
        # the update arithmetic runs IN Spark expressions (round = exact
        # BigDecimal HALF_UP), never in Python (whose round() is
        # banker's — a silent third rounding rule)
        row = (
            features.agg(*aggs)
            .select(
                *[
                    F.expr(
                        f"round({wl[j]} - {_sql_double(lr)} * g{j} / n,"
                        f" {per_iter_round_dp})"
                    ).alias(f"w{j}")
                    for j in range(len(w))
                ]
            )
            .first()
        )
        w = [float(row[f"w{j}"]) for j in range(len(w))]
    return w


def logistic_train_report(
    features: DataFrame,
    feature_cols: list[str],
    label_col: str = "y",
    n_iter: int = 10,
    lr: float = 5.0,
) -> DataFrame:
    """Fit + report: one row per weight (``intercept`` first, then the
    feature columns by name) with the shared training accuracy —
    ``dot ≥ 0`` vs the label, exact counts, ONE IEEE division."""
    spark = features.sparkSession
    # one persisted frame serves the fit's n_iter rounds AND the accuracy
    # pass — the feature frame derives from text exactly once
    with owned(spark) as scope:
        features = scope.persist(features)
        w = logistic_fit(features, feature_cols, label_col, n_iter=n_iter, lr=lr)
        y = F.col(label_col)
        hit = F.when((_dot(w, feature_cols) >= 0) == (y == 1.0), 1).otherwise(0)
        acc = (
            features.agg(
                (
                    F.sum(hit).cast("double") / F.count(F.lit(1)).cast("double")
                ).alias("a")
            ).first()["a"]
        )
    rows = [("intercept", w[0], float(acc))] + [
        (c, w[j], float(acc)) for j, c in enumerate(feature_cols, start=1)
    ]
    # bounded model state -> a createDataFrame of d+1 rows is the
    # legitimate driver crossing (the q96 centroid-report shape)
    out = spark.createDataFrame(
        rows, "feature string, weight double, train_accuracy double"
    )
    return out.orderBy("feature")


def sql_dot(alias: str, feature_cols: list[str]) -> str:
    """The dot product as SQL, same left-associated tree as :func:`_dot`."""
    terms = [f"{alias}.w0"] + [
        f"{alias}.w{j} * {c}" for j, c in enumerate(feature_cols, start=1)
    ]
    return " + ".join(terms)


def sql_gd_ctes(
    features_sql: str,
    feature_cols: list[str],
    n_iter: int = 10,
    lr: float = 5.0,
    per_iter_round_dp: int = 7,
) -> str:
    """The GD trajectory as a CTE-chain fragment (``lgf``, ``lw0``,
    then per round ``lg{i}``/``lw{i}``) — shared by
    :func:`sql_logistic_train_report` and any consumer of the fitted
    weights (q198's per-source filter rates), so both oracles train on
    ONE definition.  ``features_sql`` must yield ``y`` plus
    ``feature_cols`` (extra columns ride along in ``lgf`` untouched —
    the gradient sums never reference them)."""
    d = len(feature_cols)
    parts = [
        f"lgf AS MATERIALIZED (\n{features_sql}\n)",
        "lw0 AS (SELECT "
        + ", ".join(f"0.0 AS w{j}" for j in range(d + 1))
        + ")",
    ]
    for i in range(1, n_iter + 1):
        sig = f"(1.0 / (1.0 + exp(-({sql_dot('w', feature_cols)}))) - y)"
        gsums = [f"SUM({sig}) AS g0"] + [
            f"SUM({sig} * {c}) AS g{j}"
            for j, c in enumerate(feature_cols, start=1)
        ]
        # MATERIALIZED is load-bearing: un-materialized 1-row CTEs get
        # INLINED into every later reference, re-expanding the whole
        # prior trajectory per round — exponential planning blowup (the
        # same reason every iterative oracle here materializes rounds)
        parts.append(
            f"lg{i} AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
            + ", ".join(gsums)
            + f" FROM lgf CROSS JOIN lw{i - 1} w)"
        )
        parts.append(
            f"lw{i} AS MATERIALIZED (SELECT "
            + ", ".join(
                f"round(w.w{j} - {lr!r} * g.g{j} / g.n, {per_iter_round_dp})"
                f" AS w{j}"
                for j in range(d + 1)
            )
            + f" FROM lw{i - 1} w CROSS JOIN lg{i} g)"
        )
    return ",\n".join(parts)


def sql_logistic_train_report(
    features_sql: str,
    feature_cols: list[str],
    n_iter: int = 10,
    lr: float = 5.0,
    per_iter_round_dp: int = 7,
) -> str:
    """DuckDB twin of :func:`logistic_train_report`: the GD trajectory
    unrolled as one CTE chain per round (the q96/q69 iterative-oracle
    pattern), identical dot/sigmoid/update spelling, same 7dp snap.
    ``features_sql`` must yield a ``y`` column plus ``feature_cols``."""
    dot = sql_dot("w", feature_cols)
    parts = [
        sql_gd_ctes(features_sql, feature_cols, n_iter, lr, per_iter_round_dp),
        "lacc AS (SELECT CAST(SUM(CASE WHEN "
        f"(({dot}) >= 0) = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE)"
        f" / CAST(COUNT(*) AS DOUBLE) AS a FROM lgf CROSS JOIN lw{n_iter} w)",
    ]
    unions = "\nUNION ALL\n".join(
        ["SELECT 'intercept' AS feature, w.w0 AS weight, a.a AS train_accuracy"
         f" FROM lw{n_iter} w CROSS JOIN lacc a"]
        + [
            f"SELECT '{c}', w.w{j}, a.a FROM lw{n_iter} w CROSS JOIN lacc a"
            for j, c in enumerate(feature_cols, start=1)
        ]
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT * FROM (\n{unions}\n) ORDER BY feature"
    )
