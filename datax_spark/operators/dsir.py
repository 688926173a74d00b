"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023).

The published recipe for picking pretraining data that "looks like" a
target domain: featurize every document as a hashed bag of unigrams +
bigrams, fit two smoothed bucket distributions (target corpus vs raw
corpus), weight each raw document by its log importance ratio
log p_target(x) - log p_raw(x), and resample without replacement via
Gumbel top-k. Complements the repo's quality/curation stack
(``functions/text.py``, ``operators/sampling.py``): those score
documents against fixed heuristics or their OWN corpus; DSIR scores
them against a TARGET distribution.

Reference analog: DataX transformers filter rows one at a time
(``dx_filter``, ``transformer/FilterTransformer.java``); DSIR is the
corpus-level generalization a training-data pipeline actually needs.

Scale shape (the part that must survive 100 TB):

- featurization is a zero-shuffle projection (split / slice / zip_with,
  all codegen; no python);
- each corpus is reduced by ONE map-side-combined hash aggregate to
  ≤ ``num_buckets`` rows per task (the hashed-LM trick caps state at B
  counters no matter the corpus size — same reason the paper uses it);
- the two B-row count vectors come to the driver (bounded, ~10k rows —
  the CMS/heavy-hitters pattern), the log-ratio table is computed in
  python ONCE and broadcast back as a B-row join relation;
- per-document scoring is ONE exchange keyed by doc id carrying
  DECIMAL partial sums (map-side combine; exact and partition-order-
  independent, the same discipline as ``unigram_logprob``);
- selection is the zero-shuffle hash-derandomized Gumbel race +
  TakeOrdered (no global sort), mirroring ``weighted_sample``.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, functions as F

DEFAULT_BUCKETS = 10_000
# quantization of the python-computed per-bucket log ratios before they
# re-enter Spark: 12 dp keeps ~double precision while making the value
# EXACTLY representable as DECIMAL (so per-doc sums are bit-stable
# across engines, partitionings, and the pure-python oracle)
_LR_QUANT = Decimal("1e-12")


def _word_array(text_col):
    """Whitespace tokens of lower(collapsed-whitespace(text)) — the same
    normalization as ``functions/text.py`` fingerprints, so the pure-
    python oracle (``oracle/pyref.py::_words``) reproduces it exactly."""
    return F.filter(
        F.split(F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " "))), " "),
        lambda w: w != "",
    )


def hashed_ngram_features(
    df: DataFrame, text_col: str, id_col: str,
    num_buckets: int = DEFAULT_BUCKETS, salt: int = 7,
) -> DataFrame:
    """(id, _b) — one row per unigram AND per bigram occurrence, hashed
    into ``num_buckets`` feature buckets (the DSIR featurizer). Pure
    codegen projection: split/slice/zip_with + xxhash64, no python."""
    a = _word_array(F.col(text_col))
    uni = F.explode(a).alias("_f")
    big = F.explode(
        F.zip_with(
            F.slice(a, 1, F.greatest(F.size(a) - 1, F.lit(0))),
            F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    ).alias("_f")
    feats = df.select(F.col(id_col), uni).unionAll(df.select(F.col(id_col), big))
    return feats.select(
        id_col,
        F.pmod(F.xxhash64("_f", F.lit(salt)), F.lit(num_buckets)).alias("_b"),
    )


def _bucket_counts(feats: DataFrame) -> dict[int, int]:
    rows = feats.groupBy("_b").agg(F.count("*").alias("_c")).collect()
    return {int(r["_b"]): int(r["_c"]) for r in rows}


def log_ratio_table(
    target_counts: dict[int, int], raw_counts: dict[int, int],
    num_buckets: int = DEFAULT_BUCKETS, alpha: float = 1.0,
) -> list[tuple[int, Decimal]]:
    """Per-bucket log p_target(b) - log p_raw(b), Laplace-smoothed with
    ``alpha``, quantized to 12 dp. Driver-side python over ≤ B buckets —
    deliberately NOT Spark math, so the floats are identical to the
    pure-python oracle and the table is computed once, not per row.

    Raises ValueError when a ratio does not fit the ``decimal(14,12)``
    it is later cast to (|lr| ≥ 100): the cast would turn it into a
    silent NULL. Only a vanishing ``alpha`` gets there, since an empty
    bucket's smoothed probability is then tiny."""
    import math

    t_tot = sum(target_counts.values()) + alpha * num_buckets
    r_tot = sum(raw_counts.values()) + alpha * num_buckets
    out = []
    for b in range(num_buckets):
        ct = target_counts.get(b, 0) + alpha
        cr = raw_counts.get(b, 0) + alpha
        lr = math.log(ct / t_tot) - math.log(cr / r_tot)
        d = Decimal(repr(lr)).quantize(_LR_QUANT, rounding=ROUND_HALF_UP)
        if abs(d) >= 100:
            raise ValueError(
                f"log ratio {lr:.6g} of bucket {b} is outside decimal(14,12) "
                f"(|lr| < 100); alpha={alpha!r} is too small to smooth "
                "empty buckets")
        out.append((b, d))
    return out


def dsir_importance_weights(
    raw: DataFrame, target: DataFrame, text_col: str, id_col: str,
    num_buckets: int = DEFAULT_BUCKETS, alpha: float = 1.0, salt: int = 7,
) -> DataFrame:
    """(id, n_feats, logratio) for every raw document with ≥1 feature.

    ``logratio`` = Σ_features (log p_target(b) - log p_raw(b)), i.e. the
    log importance weight of the document under the two hashed-ngram
    LMs; positive means "more target-like than raw-like". The per-doc
    sum runs in DECIMAL (exact, order-free) and is surfaced as a
    double rounded to 6 dp."""
    spark = raw.sparkSession
    # featurize the raw corpus ONCE: reduce the occurrence stream to
    # per-(doc, bucket) counts (rows ≤ docs × min(doc_feats, B), far
    # smaller than the occurrence stream) and derive BOTH the corpus
    # bucket histogram and the per-doc scores from it. The raw corpus —
    # the 100 TB side — is scanned+exploded once instead of twice; only
    # the small target corpus keeps its single dedicated pass. persist()
    # is an intra-query intermediate (released with the session / GC of
    # the returned plan), not a cross-run cache.
    doc_b = (
        hashed_ngram_features(raw, text_col, id_col, num_buckets, salt)
        .groupBy(id_col, "_b")
        .agg(F.count("*").alias("_c"))
        .persist()
    )
    raw_counts = {
        int(r["_b"]): int(r["_c"])
        for r in doc_b.groupBy("_b").agg(F.sum("_c").alias("_c")).collect()
    }
    lr = log_ratio_table(
        _bucket_counts(hashed_ngram_features(target, text_col, id_col,
                                             num_buckets, salt)),
        raw_counts,
        num_buckets, alpha,
    )
    # decimal(14,12), not (26,12): a log probability ratio is bounded by
    # log(total_tokens) (< 50 for any physical corpus), so 2 integer
    # digits suffice — and the narrower type keeps count×lr EXACT:
    # bigint(=dec(20,0)) × dec(14,12) → dec(35,12) fits Spark's 38-digit
    # cap, while ×dec(26,12) would overflow it and silently truncate the
    # scale (allowPrecisionLoss), breaking bit-equality with the oracle.
    lr_df = spark.createDataFrame(
        [(b, str(d)) for b, d in lr], "_b bigint, _lr_s string",
    ).select("_b", F.col("_lr_s").cast("decimal(14,12)").alias("_lr"))
    # Σ_occurrences lr(b) == Σ_buckets count·lr(b) exactly: the per-term
    # products and sums all run in DECIMAL, so regrouping cannot change
    # a single bit of the rounded double surfaced below.
    return (
        doc_b.join(F.broadcast(lr_df), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_feats"),
            F.round(F.sum(F.col("_c") * F.col("_lr")).cast("double"), 6)
            .alias("logratio"),
        )
    )


def dsir_select(
    raw: DataFrame, target: DataFrame, text_col: str, id_col: str, k: int,
    num_buckets: int = DEFAULT_BUCKETS, alpha: float = 1.0,
    salt: int = 7, gumbel_salt: int = 99,
) -> DataFrame:
    """Top-``k`` raw documents resampled ∝ importance weight WITHOUT
    replacement — Gumbel top-k on the log weights (equivalent to the
    Efraimidis-Spirakis race ``weighted_sample`` runs, in log domain so
    extreme ratios never overflow exp). The Gumbel draw is hash-
    derandomized from the doc id, so the selection is reproducible
    across runs, engines, and partitionings."""
    w = dsir_importance_weights(raw, target, text_col, id_col,
                                num_buckets, alpha, salt)
    u = (
        (F.shiftrightunsigned(
            F.xxhash64(F.col(id_col), F.lit(gumbel_salt)), 1) + 1)
        .cast("double") / F.lit(float(2 ** 63))
    )
    key = F.col("logratio") + (-F.log(-F.log(u)))
    return (
        w.withColumn("_gk", key)
        .orderBy(F.col("_gk").desc())
        .limit(k)
        .drop("_gk")
    )
