"""Bigram language-model perplexity scoring (the CCNet-style filter).

The classic training-data quality signal the text suite lacked: train a
smoothed bigram LM on a reference sample of the corpus, score every
document by per-bigram cross-entropy, and bucket the corpus into
head / middle / tail by tertile thresholds derived from the reference
distribution (CCNet keeps "head", audits "middle", drops "tail").

Reference parity: the reference pipeline (pandas scraping,
`/root/reference/src/*.py`) has no model-based filtering at all — this
is engine-extension surface, same family as operators/quality_model.py.

Design for 100 TB:
- Training is O(sample): the reference sample is a bounded md5-ordered
  ``ORDER BY md5(id) LIMIT n`` — a distributed TakeOrdered, never a full
  sort — and every model artifact (bigram counts, context counts,
  vocabulary size) is sample-bounded and MATERIALIZED driver-side once
  (local-relation broadcasts; a lazy model would re-run the sample
  subtree on every downstream action). Each count frame is one Arrow
  batch planned as a ``LocalTableScan``, so broadcasting the model
  runs no Python task.
- Scoring is ONE shuffle: tokenize + bigram expansion stay in codegen,
  the two count lookups are broadcast left joins, and the per-document
  reduction is a map-side-combined ``groupBy(doc_id)``. ``explode_outer``
  keeps empty documents in the same pass (no second corpus join to
  re-attach them).
- Bucketing is a pure projection against two scalar thresholds computed
  from a HELD-OUT calibration slice's score distribution (re-scoring 128
  documents), not an ``ntile`` over the corpus — no global sort
  anywhere.

Cross-engine determinism (the oracle contract): md5 sample ordering,
explicit ASCII tokenizer ``[a-z0-9_]+`` (Python ``\\w`` is unicode,
Java/DuckDB here are pinned ASCII), integer-exact counts, and the one
float — the log-probability sum — rounded to 6 decimals in both engines
before it is compared or used as a threshold key (summation-order ulps
are absorbed, the quality-model precedent)."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# The canonical ASCII word tokenizer shared with the oracle (underscore
# included — it is a word character on both engines).
TOKEN_RE = "[a-z0-9_]+"


def _tokens(text_col: Column) -> Column:
    return F.regexp_extract_all(F.lower(text_col), F.lit(TOKEN_RE), F.lit(0))


def _bigram_pairs(tokens: Column) -> Column:
    """Adjacent-token pairs as an array of ``(0, 1)`` structs: zip the
    array against itself shifted by one (two O(n) slices + arrays_zip,
    all codegen). NULL under 2 tokens — the caller's ``explode_outer``
    turns that into the one keep-empty-docs row. Deliberately NOT a
    higher-order ``transform`` building "a b" strings: the interpreted
    per-element lambda benchmarked 7× slower than the zip on the same
    corpus (the string key is concat'd AFTER explode, vectorized)."""
    n = F.size(tokens)
    return F.when(
        n >= 2,
        F.arrays_zip(F.slice(tokens, 1, n - 1), F.slice(tokens, 2, n - 1)),
    )


def lm_sample_ids(
    df: DataFrame, id_col: str = "doc_id", sample_limit: int = 64
) -> DataFrame:
    """The md5-ordered reference sample (id column only, broadcastable).

    ``orderBy(md5(id), id).limit(n)`` compiles to TakeOrderedAndProject —
    a per-partition heap + driver merge, not a global sort."""
    return (
        df.select(id_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_limit)
    )


def _train_on_ids(
    df: DataFrame,
    ids: list,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame, float]:
    """Count bigrams/contexts/vocabulary over the given sample ids and
    MATERIALIZE the model as driver-local frames.

    Tokenization and bigram expansion stay in the JVM (the engine the
    oracle gate proved against — a Python re-tokenize would be a third
    lower()/regex implementation); only the sample-bounded count ROWS
    come back to the driver (≤ sample docs × tokens, the same bounded
    collect the similarity centroids use). Localizing matters: lazy
    count frames re-execute the whole sample subtree — corpus-wide
    TakeOrdered included — on EVERY downstream action and broadcast,
    which benchmarked 5× the cost of the whole scoring pass."""
    return _train_on_local(
        df.filter(F.col(id_col).isin(ids)).select(text_col), text_col
    )


def _train_on_local(
    df: DataFrame, text_col: str
) -> tuple[DataFrame, DataFrame, float]:
    """Token-count the given (usually sample-sized) frame and
    MATERIALIZE the model as driver-local frames — the shared tail of
    :func:`_train_on_ids` (corpus-scan path) and
    :func:`lm_perplexity_pipeline` (token-list path, r12)."""
    # ONE job: collect the sample's token ARRAYS (tokenized JVM-side —
    # the engine the oracle gate proved against) and derive pairs and
    # vocabulary as pure list ops driver-side
    rows = [
        r[0]
        for r in df.select(_tokens(F.col(text_col)).alias("tok")).collect()
    ]
    return _model_from_token_lists(df.sparkSession, rows)


def _model_from_token_lists(
    spark, rows: list
) -> tuple[DataFrame, DataFrame, float]:
    """Bigram/context/vocab counts from already-tokenized sample docs,
    materialized as driver-local frames (local-relation broadcasts).

    A NULL token array (NULL text) counts as an empty document — the
    same zero-bigram row :func:`lm_score`'s ``explode_outer`` gives it.
    Each frame is built from ONE ``pyarrow.Table`` with the explicit
    schema, so it plans as a ``LocalTableScan`` (empty sample included);
    a Python-list ``createDataFrame`` is a pickled RDD
    (``Scan ExistingRDD``) that runs a Python task per partition at
    every broadcast of the model."""
    from collections import Counter

    import pyarrow as pa

    rows = [t or () for t in rows]
    cb = Counter(
        (t[i], t[i + 1]) for t in rows for i in range(len(t) - 1)
    )
    cu = Counter(t[i] for t in rows for i in range(len(t) - 1))
    vocab = {w for t in rows for w in t}
    bigram_counts = spark.createDataFrame(
        pa.table(
            {
                "a": pa.array([a for a, _ in cb], pa.string()),
                "b": pa.array([b for _, b in cb], pa.string()),
                "cb": pa.array(list(cb.values()), pa.int64()),
            }
        ),
        "a string, b string, cb long",
    )
    context_counts = spark.createDataFrame(
        pa.table(
            {
                "a": pa.array(list(cu), pa.string()),
                "cu": pa.array(list(cu.values()), pa.int64()),
            }
        ),
        "a string, cu long",
    )
    return bigram_counts, context_counts, float(len(vocab))


def bigram_lm_train(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_limit: int = 64,
) -> tuple[DataFrame, DataFrame, float]:
    """Train the add-one-smoothed bigram LM on the md5-ordered sample.

    Returns ``(bigram_counts, context_counts, vocab_size)``:
    ``bigram_counts`` is ``(a, b, cb)`` keyed by the token pair,
    ``context_counts`` is ``(a, cu)`` keyed by the context token (count
    of ``a`` as a bigram left-hand side, the conditional's denominator),
    ``vocab_size`` the distinct-token count of the sample (the smoothing
    mass). The count frames are driver-local (sample-bounded, see
    ``_train_on_ids``) so broadcasting them is a local-relation ship,
    not a recompute."""
    ids = [r[0] for r in lm_sample_ids(df, id_col, sample_limit).collect()]
    return _train_on_ids(df, ids, text_col, id_col)


def lm_score(
    df: DataFrame,
    bigram_counts: DataFrame,
    context_counts: DataFrame,
    vocab_size: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document bigram cross-entropy under the trained LM.

    One shuffle (the ``groupBy(id)`` reduction); both count lookups are
    broadcast left joins; ``explode_outer`` keeps zero-bigram documents
    in-pass (they come out with ``n_bigrams = 0`` and NULL ``xent``).

    ``xent`` = −Σ ln((c(a,b)+1)/(c(a·)+V)) / n_bigrams, rounded to 6
    decimals — nats per token, smaller is more reference-like."""
    ex = df.select(
        F.col(id_col),
        F.explode_outer(_bigram_pairs(_tokens(F.col(text_col)))).alias(
            "p"
        ),
    ).select(
        F.col(id_col),
        F.col("p.0").alias("a"),
        F.col("p.1").alias("b"),
    )
    lp = F.log(
        (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(1.0))
        / (F.coalesce(F.col("cu"), F.lit(0)) + F.lit(vocab_size))
    )
    scored = (
        ex.join(F.broadcast(bigram_counts), ["a", "b"], "left")
        .join(F.broadcast(context_counts), "a", "left")
        .withColumn("lp", F.when(F.col("a").isNotNull(), lp))
        .groupBy(id_col)
        .agg(
            F.count("a").alias("n_bigrams"),
            F.sum("lp").alias("s"),
        )
    )
    return scored.select(
        F.col(id_col),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.when(
            F.col("n_bigrams") > 0,
            F.round(-F.col("s") / F.col("n_bigrams"), 6),
        ).alias("xent"),
    )


def lm_tertile_thresholds(
    sample_scored: DataFrame, id_col: str = "doc_id"
) -> tuple[float | None, float | None]:
    """Head/middle cut points from the given sample's scores.

    Ascending ``(xent, id)`` order; thresholds sit at positions
    ``ceil(n/3)`` and ``ceil(2n/3)`` (1-based) — the values the oracle's
    row_number subselects pick. The collect is sample-bounded (≤ the
    calibration slice size). An all-unscored sample yields ``(None,
    None)`` → every scored document buckets 'tail' (NULL comparison
    semantics, identical on both engines)."""
    rows = (
        sample_scored.filter(F.col("xent").isNotNull())
        .orderBy("xent", id_col)
        .select("xent")
        .collect()
    )
    n = len(rows)
    if n == 0:
        return None, None
    t1 = rows[math.ceil(n / 3) - 1].xent
    t2 = rows[math.ceil(n * 2 / 3) - 1].xent
    return t1, t2


def lm_bucket(
    scored: DataFrame, t1: float | None, t2: float | None
) -> DataFrame:
    """CCNet head/middle/tail labels from the two tertile thresholds
    (pure projection — the thresholds are scalars, no join, no sort).
    ``xent`` NULL (no bigrams) → 'unscored'."""
    t1c = F.lit(t1).cast("double")
    t2c = F.lit(t2).cast("double")
    return scored.withColumn(
        "bucket",
        F.when(F.col("xent").isNull(), F.lit("unscored"))
        .when(F.col("xent") <= t1c, F.lit("head"))
        .when(F.col("xent") <= t2c, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def lm_perplexity_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_limit: int = 64,
    calib_limit: int = 128,
) -> DataFrame:
    """Train → calibrate → score → bucket, end to end.

    Thresholds come from a HELD-OUT calibration sample (md5-order ranks
    ``sample_limit+1 .. sample_limit+calib_limit``), not the training
    sample: in-sample scores are biased low (every training bigram is a
    seen bigram), so training-sample tertiles would shove nearly the
    whole corpus into 'tail'. The held-out slice scores like the corpus
    does, so the buckets split it roughly in thirds. Both samples are
    bounded TakeOrdered prefixes of the same md5 order; the calibration
    set is re-scored through the same scorer (deterministic given the
    model, so it agrees exactly with the full-corpus pass).

    Driver-side Spark jobs: ONE (r12 — guide §1.2 "remove unnecessary
    passes"; the r11 shape ran FOUR: sample-id TakeOrdered, a training
    re-scan filtered ``isin(train_ids)``, the calibration scorer's
    re-scan + threshold collect, then the real pass). Now a single
    TakeOrdered projects the token arrays AFTER the limit
    (TakeOrderedAndProject evaluates its project list on the ≤192
    surviving rows only — the heaps carry ``(md5, id, text)``), the
    model counts reduce driver-side from those arrays, and the
    calibration scoring + tertile-threshold selection are folded INTO
    the returned plan as a one-row aggregate cross-joined onto the
    corpus scores — the window/aggregate reproduces
    :func:`lm_tertile_thresholds`' ``ceil(n/3)`` / ``ceil(2n/3)``
    positions over the identical ``(xent, id)`` order, so the consumer's
    single action computes train-sample-excluded thresholds and buckets
    in one DAG. Tokenization stays JVM-side in every path (the engine
    the oracle gate proved against) and the calibration docs are scored
    by the SAME :func:`lm_score` expressions over the ``isin``-pruned
    corpus scan, so every score is bit-identical to the r11 shape.

    Laziness note (review r12): the calibration/threshold branch lives
    INSIDE the returned plan, so a consumer running several actions
    re-executes it each time — alongside the full corpus re-score that
    any second action on a lazy frame pays anyway. Unlike the r11
    model-frame hazard (_train_on_ids' docstring: a corpus-wide
    TakeOrdered re-ran per action), this branch is bounded — an
    ``isin``-pruned scan of ``calib_limit`` documents — so it rides the
    dominant corpus term instead of multiplying it; callers that need
    many actions over the result should checkpoint/persist the RESULT,
    which no threshold-collect variant would save them from."""
    rows = (
        df.select(
            F.col(id_col).alias("__id"),
            _tokens(F.col(text_col)).alias("__tok"),
        )
        .orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
        .limit(sample_limit + calib_limit)
        .collect()
    )
    cb, cu, v = _model_from_token_lists(
        df.sparkSession, [r["__tok"] for r in rows[:sample_limit]]
    )
    calib_ids = [r["__id"] for r in rows[sample_limit:]]
    calib_scored = lm_score(
        df.filter(F.col(id_col).isin(calib_ids)),
        cb, cu, v, text_col, id_col,
    )
    # The window/aggregate below MUST keep reproducing
    # lm_tertile_thresholds' contract — positions ceil(n/3) and
    # ceil(2n/3), 1-based, over ascending (xent, id), non-null xent
    # only; tests/test_lm.py::test_inplan_thresholds_match_helper pins
    # the two implementations together (review r12).
    w = Window.orderBy("xent", id_col)
    ranked = (
        calib_scored.filter(F.col("xent").isNotNull())
        .select(
            "xent",
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("__n"),
        )
    )
    thr = ranked.agg(
        F.max(
            F.when(
                F.col("__rn") == F.ceil(F.col("__n") / F.lit(3.0)),
                F.col("xent"),
            )
        ).alias("__t1"),
        F.max(
            F.when(
                F.col("__rn") == F.ceil(F.col("__n") * 2 / F.lit(3.0)),
                F.col("xent"),
            )
        ).alias("__t2"),
    )
    scored = lm_score(df, cb, cu, v, text_col, id_col)
    return (
        scored.crossJoin(F.broadcast(thr))
        .withColumn(
            "bucket",
            F.when(F.col("xent").isNull(), F.lit("unscored"))
            .when(F.col("xent") <= F.col("__t1"), F.lit("head"))
            .when(F.col("xent") <= F.col("__t2"), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .drop("__t1", "__t2")
    )
