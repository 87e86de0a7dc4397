"""Frozen gate statistics — the FIFTH stored-artifact lifecycle.

Every quality gate in the repo (q103 percentile gate, q146 outlier
gate, q148 model gate, q152 CCNet LM) recomputes its corpus
statistics per invocation — correct for one-shot curation, wrong for
incremental ingest, where a micro-batch must be screened against the
SAME statistics as every batch before it, with zero corpus recompute.
This module persists the statistics once and screens batches against
the frozen store: the q120 (dedup bands) / q137 (IVF lists) / q138
(substring fingerprints) / q163 (HLL registers) stored-artifact
contract applied to curation. It is also CCNet's actual production
shape (Wenzek et al. 2020): the LM is trained ONCE on a reference
corpus, the perplexity cutoffs are frozen, and every CommonCrawl dump
is screened against the frozen statistics — never against itself.

Three artifact kinds, one store layout each (parquet + JSON params
sidecar, the sketches.py device):

* **Percentile-gate cutoffs** — per-stratum frozen score cutoffs
  derived from :func:`relational.quality_percentile_gate` over a
  reference corpus. Screening is one broadcast join: ``keep = score
  >= cutoff`` (ties INCLUSIVE — a frozen cutoff cannot see ranks, so
  the boundary rule is by-value, documented and deterministic).
  Exact percentiles admit NO O(batch) merge — the maintenance
  operation is a periodic rebuild (also CCNet practice), so this
  store deliberately has build/write/read/screen and no merge. Its
  MERGEABLE sibling (``build_binned_cutoff_store`` /
  ``merge_binned_cutoff_store`` / ``derive_binned_cutoffs`` /
  ``screen_against_binned_cutoffs``) keeps additive histogram
  counts over frozen equal-width score bins instead: O(batch)
  maintenance with rank error bounded by one bin's occupancy,
  exact rebuild as the calibration path (r15).
* **Per-language bigram LM counts** — the count tables behind
  :func:`textops.bigram_logprob`, which ARE additive: ingest batches
  append partial counts in O(batch) (:func:`merge_lm_counts`),
  read-time scoring folds them with one group-sum, and
  :func:`compact_lm_counts` rewrites the store to one row per n-gram
  under the crash-atomic staged swap. Frozen scoring must handle
  n-grams the reference never saw (the train-on-self gates never
  face OOV): unseen unigrams take a 0.5/N floor, unseen bigrams
  contribute 0 to the interpolated term — deterministic, engine-
  portable arithmetic (certified cross-engine by q166).

* **Drift baselines** — a reference snapshot's category shares and
  exact-quantile numeric bin edges + shares, persisted once
  (:func:`build_drift_baseline`); every micro-batch PSI-scores
  against the SAME frozen distributions
  (:func:`psi_against_baseline`) — q92/q98 recompute both sides per
  invocation, which moves the reference under a monitor.

``build_ccnet_store`` / ``screen_ccnet_frozen`` compose the first
two: one store directory holding the per-language LM (``lm/``) and
the per-language head-tercile cutoffs (``cutoffs/``), so screening a
new dump is language-ID → frozen-LM score → frozen-cutoff gate,
touching nothing but the batch and the store.
``build_model_gate_store`` / ``screen_model_gate_frozen`` put the
q148 classifier-scorer seam over the cutoff store: the model stays
the caller's versioned artifact, the store freezes its decision
boundary.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .util import Sidecar, atomic_append_subdir, swap_in_staged

_CUTOFF_SIDECAR = Sidecar(
    "_gate_params.json",
    ("strata_col", "score_col", "keep_pct"),
    "gate cutoff store",
    "rebuild via write_gate_cutoffs",
)
_LM_SIDECAR = Sidecar(
    "_lm_params.json",
    ("lang_col", "lam"),
    "frozen LM store",
    "rebuild via write_lm_counts(mode='overwrite')",
)

#: unseen-unigram probability floor, as a count: p_floor = 0.5 / N.
#: 0.5 "half an occurrence" is the classic continuity-correction
#: choice; any constant in (0, 1) works — what matters is that it is
#: FROZEN with the store's arithmetic and identical across engines.
_OOV_COUNT = 0.5


# ---------------------------------------------------------------------------
# Percentile-gate cutoffs: build / write / read / screen
# ---------------------------------------------------------------------------


def build_gate_cutoffs(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    score_col: str,
    keep_pct: int,
    buckets: int = 256,
    approx: bool = False,
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """Per-stratum frozen cutoffs from a reference corpus: run the
    exact integer-percent gate (:func:`relational.
    quality_percentile_gate` — bucketed, no single-task stratum sort)
    and take each stratum's minimum KEPT score. Returns
    ``(strata_col, cutoff double, n_build long)``; a stratum whose
    keep set is empty (possible only when every score is NULL) gets a
    NULL cutoff, which the screen maps to keep=False.

    ``approx=True`` is the 100 TB build path (the q98 device): the
    cutoff comes from ``percentile_approx(score, 1 - pct/100)`` — a
    mergeable KLL-style sketch, ONE map-side-partial aggregate, no
    window and no rank anywhere (rank error ≤ 1/approx_accuracy, so
    the boundary can move by a few rank-adjacent rows; the exact
    default stays the certified q165 contract). NULL scores are
    excluded from the sketch (they can never be kept either way)."""
    if not (0 < keep_pct <= 100):
        raise ValueError(f"keep_pct must be in (0, 100], got {keep_pct}")
    if approx:
        q = 1.0 - keep_pct / 100.0
        return df.groupBy(strata_col).agg(
            F.percentile_approx(
                F.col(score_col).cast("double"),
                F.lit(q),
                F.lit(approx_accuracy),
            ).alias("cutoff"),
            F.count(F.lit(1)).cast("long").alias("n_build"),
        )
    from .relational import quality_percentile_gate

    gated = quality_percentile_gate(
        df, key_col, strata_col, score_col, keep_pct, buckets
    )
    return gated.groupBy(strata_col).agg(
        F.min(F.when(F.col("keep"), F.col(score_col)))
        .cast("double")
        .alias("cutoff"),
        F.count(F.lit(1)).cast("long").alias("n_build"),
    )


def write_gate_cutoffs(
    cutoffs: DataFrame,
    path: str,
    strata_col: str,
    score_col: str,
    keep_pct: int,
) -> None:
    """Persist the cutoff table with its parameter sidecar. Always a
    full overwrite — exact percentiles have no incremental form, so
    the only maintenance operation is rebuild-and-replace (swap via
    a staged path upstream if readers are live; the table is
    strata-sized, so rewrites are trivially cheap)."""
    params = {
        "strata_col": str(strata_col),
        "score_col": str(score_col),
        "keep_pct": int(keep_pct),
    }
    cutoffs.write.mode("overwrite").parquet(path)
    _CUTOFF_SIDECAR.write(cutoffs.sparkSession, path, params)


def read_gate_cutoffs(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Load the cutoff table and its frozen parameters."""
    params = _CUTOFF_SIDECAR.read(spark, path)
    return spark.read.parquet(path), params


def screen_against_cutoffs(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    unknown_strata: str = "drop",
) -> DataFrame:
    """Screen a micro-batch against frozen cutoffs: every batch row
    comes back with ``keep = score >= cutoff`` (ties inclusive; NULL
    scores never keep). Strata the reference never saw have no frozen
    cutoff — ``unknown_strata='drop'`` (default) rejects them,
    ``'keep'`` passes them through for a later rebuild to adjudicate;
    both are explicit policy, never an accident of join type. One
    broadcast join against the strata-sized cutoff table — the batch
    never shuffles and the corpus is never touched."""
    cutoffs, params = read_gate_cutoffs(spark, path)
    return _screen_cutoff_frame(
        batch,
        cutoffs,
        params["strata_col"],
        params["score_col"],
        unknown_strata,
        "screen_against_cutoffs",
    )


def _screen_cutoff_frame(
    batch: DataFrame,
    cutoffs: DataFrame,
    strata: str,
    score: str,
    unknown_strata: str,
    what: str,
) -> DataFrame:
    """THE cutoff-screen semantics, shared by the exact and binned
    stores so the keep rules cannot drift: one broadcast join against
    the strata-sized ``(strata, cutoff)`` frame; ``keep = score >=
    cutoff`` (ties inclusive); NULL scores NEVER keep (unconditional —
    unknown strata included, the r14 ADVICE fix); strata absent from
    the cutoff frame follow ``unknown_strata`` (drop|keep), never a
    join accident."""
    if unknown_strata not in ("drop", "keep"):
        raise ValueError(
            f"unknown_strata must be drop|keep, got {unknown_strata!r}"
        )
    clash = {"keep", "__cut", "__seen"} & set(batch.columns)
    if clash:
        raise ValueError(
            f"{what} output columns {sorted(clash)} "
            "already exist on the batch"
        )
    cut = cutoffs.select(
        F.col(strata).alias("__gs"),
        F.col("cutoff").alias("__cut"),
        F.lit(True).alias("__seen"),
    )
    joined = batch.join(
        F.broadcast(cut), F.col(strata).eqNullSafe(F.col("__gs")), "left"
    )
    known_keep = F.coalesce(
        F.col(score).cast("double") >= F.col("__cut"), F.lit(False)
    )
    unknown_keep = (
        F.lit(unknown_strata == "keep")
        & F.col(score).cast("double").isNotNull()
    )
    keep = F.when(F.col("__seen").isNull(), unknown_keep)
    return joined.withColumn("keep", keep.otherwise(known_keep)).drop(
        "__gs", "__cut", "__seen"
    )


# ---------------------------------------------------------------------------
# Binned (mergeable) gate cutoffs: build / merge / derive / screen / compact
# ---------------------------------------------------------------------------

_BINNED_SIDECAR = Sidecar(
    "_binned_gate_params.json",
    ("strata_col", "score_col", "keep_pct", "n_bins"),
    "binned cutoff store",
    "rebuild via build_binned_cutoff_store",
)


def _binned_bin_expr(score, lo, hi, n_bins: int):
    """Frozen equal-width DESCENDING bin index (0 = top of the build
    range) — the quality-gate slice convention. Scores outside the
    FROZEN [lo, hi] clamp to the edge bins; NULL scores map to a NULL
    bin (counted toward per-stratum totals, never keepable). The
    arithmetic is plain double ops so DuckDB reproduces the indices
    bit-for-bit."""
    s2 = F.least(F.greatest(score, lo), hi)
    return (
        F.when(score.isNull(), F.lit(None).cast("int"))
        .when(hi == lo, F.lit(0))
        .otherwise(
            F.least(
                F.floor((hi - s2) / (hi - lo) * n_bins),
                F.lit(n_bins - 1),
            ).cast("int")
        )
    )


def build_binned_cutoff_store(
    ref: DataFrame,
    path: str,
    strata_col: str,
    score_col: str,
    keep_pct: int,
    n_bins: int = 1024,
) -> None:
    """The MERGEABLE face of the percentile-gate cutoff store. The
    exact store (:func:`build_gate_cutoffs`) deliberately ships no
    merge — exact percentiles admit no O(batch) fold — so every
    cutoff refresh there is a full reference recompute. This store
    trades bounded rank error for O(batch) maintenance (the r14
    VERDICT item): per stratum it freezes the build split's score
    RANGE ``[lo, hi]`` and keeps additive histogram counts over
    ``n_bins`` equal-width bins of that frozen range (the q169
    drift-baseline edge device — counts merge additively, the
    merge_lm_counts contract). Cutoffs re-derive from the folded bin
    counts at read time with rank error bounded by one bin's
    occupancy; a periodic exact rebuild stays the calibration path.

    Layout: ``<path>/counts`` — ``(strata, bin, c)`` rows, ``bin``
    NULL counting the stratum's NULL-score rows (they weigh the keep
    target exactly as the exact gate's rank rule counts them, but can
    never be kept); ``<path>/ranges`` — ``(strata, lo, hi)`` frozen
    at build; params sidecar at the store root. Strata are FROZEN at
    build like the ranges: a later batch's unknown stratum has no
    frozen range to bin against, so merges drop it (documented; the
    screen's unknown_strata policy adjudicates its rows, a rebuild
    adds the stratum).
    """
    if not (0 < keep_pct <= 100):
        raise ValueError(f"keep_pct must be in (0, 100], got {keep_pct}")
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    spark = ref.sparkSession
    base = path.rstrip("/")
    s = F.col(score_col).cast("double")
    # group over ALL rows (min/max ignore NULLs): an all-NULL-score
    # stratum still freezes a (NULL, NULL) range row, so its rows
    # count toward totals and it derives a NULL cutoff — the exact
    # store's contract — instead of silently becoming "unknown"
    ranges = ref.groupBy(F.col(strata_col).alias("strata")).agg(
        F.min(s).alias("lo"), F.max(s).alias("hi")
    )
    ranges.write.mode("overwrite").parquet(base + "/ranges")
    counts = _binned_counts(spark, ref, base, strata_col, score_col, n_bins)
    counts.write.mode("overwrite").parquet(base + "/counts")
    _BINNED_SIDECAR.write(
        spark,
        base,
        {
            "strata_col": str(strata_col),
            "score_col": str(score_col),
            "keep_pct": int(keep_pct),
            "n_bins": int(n_bins),
        },
    )


def _binned_counts(
    spark, batch: DataFrame, base: str, strata_col: str, score_col: str,
    n_bins: int,
) -> DataFrame:
    """Bin a frame under the store's FROZEN ranges: inner join to the
    strata-sized range table (unknown strata drop — no frozen range
    to bin against), one partial-aggregable groupBy to (strata, bin,
    c)."""
    ranges = spark.read.parquet(base + "/ranges")
    s = F.col(score_col).cast("double")
    return (
        batch.select(
            F.col(strata_col).alias("__bs"), s.alias("__score")
        )
        .join(
            F.broadcast(ranges),
            F.col("__bs").eqNullSafe(F.col("strata")),
        )
        .select(
            "strata",
            _binned_bin_expr(
                F.col("__score"), F.col("lo"), F.col("hi"), n_bins
            ).alias("bin"),
        )
        .groupBy("strata", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def merge_binned_cutoff_store(
    spark: SparkSession, path: str, batch: DataFrame
) -> None:
    """O(batch) cutoff maintenance: bin the batch under the stored
    sidecar's own parameters and FROZEN ranges, then commit the count
    rows crash-atomically (util.atomic_append_subdir — one rename, a
    dying job leaves only an orphaned staging dir). The stored rows
    are never read; bin counts are additive, so batch granularity and
    order are free (the merge_lm_counts contract). Rows of strata the
    build never saw are dropped here (no frozen range) — the screen's
    ``unknown_strata`` policy decides their fate until an exact
    rebuild adds the stratum."""
    params = _BINNED_SIDECAR.read(spark, path)
    counts = _binned_counts(
        spark, batch, path.rstrip("/"),
        params["strata_col"], params["score_col"], int(params["n_bins"]),
    )
    atomic_append_subdir(counts, path.rstrip("/") + "/counts",
                         "binned cutoff merge")


def derive_binned_cutoffs(spark: SparkSession, path: str) -> DataFrame:
    """Fold the stored bin counts and derive per-stratum cutoffs:
    ``(strata, cutoff, n_build)``. The keep target is the EXACT
    gate's integer rule — ``k = ((n_total * pct - 1) div 100) + 1``
    over ALL rows including NULL scores — and the cutoff is the LOWER
    EDGE of the first (descending) bin whose cumulative count reaches
    ``min(k, n_nonnull)``: keeps at least the exact gate's keep set,
    over-keeping by at most one bin's occupancy (the documented rank
    error; shrink it with more bins or recalibrate with an exact
    rebuild). An all-NULL stratum derives a NULL cutoff — the screen
    maps it to keep=False, the exact-store contract. Everything here
    is strata×bins-sized; the corpus is never touched."""
    params = _BINNED_SIDECAR.read(spark, path)
    pct, n_bins = int(params["keep_pct"]), int(params["n_bins"])
    base = path.rstrip("/")
    counts = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(base + "/counts")
        .groupBy("strata", "bin")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    totals = counts.groupBy("strata").agg(
        F.sum("c").cast("long").alias("__n"),
        F.sum(F.when(F.col("bin").isNotNull(), F.col("c")))
        .cast("long")
        .alias("__nn"),
    )
    # the EXACT gate's integer keep rule, in pure integer arithmetic
    # (div, not double /): no float fraction can flip a boundary
    k = F.expr(f"(__n * {pct} - 1) div 100 + 1")
    targets = totals.select(
        "strata",
        "__n",
        F.coalesce("__nn", F.lit(0).cast("long")).alias("__nn"),
        F.least(k, F.coalesce("__nn", F.lit(0).cast("long")))
        .alias("__k"),
    )
    w = (
        Window.partitionBy("strata")
        .orderBy(F.col("bin").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        counts.where(F.col("bin").isNotNull())
        .withColumn("__cum", F.sum("c").over(w))
    )
    # null-SAFE strata joins throughout: a NULL stratum key is a real
    # group everywhere else in this store (_binned_counts groups over
    # ALL rows, _screen_cutoff_frame and calibrate_binned_cutoffs join
    # eqNullSafe), so derive must match its range/hit rows back too —
    # a USING-column join here silently handed the NULL stratum a NULL
    # cutoff and the screen rejected all its rows, diverging from the
    # exact store (ADVICE r15, fixed r16).
    hit = (
        cum.join(
            targets.select(F.col("strata").alias("__ts"), "__k"),
            F.col("strata").eqNullSafe(F.col("__ts")),
        )
        .where(F.col("__cum") >= F.col("__k"))
        .groupBy("strata")
        .agg(F.min("bin").alias("__b"))
    )
    ranges = spark.read.parquet(base + "/ranges")
    return (
        targets.join(
            ranges.select(F.col("strata").alias("__rs"), "lo", "hi"),
            F.col("strata").eqNullSafe(F.col("__rs")),
            "left",
        )
        .join(
            hit.select(F.col("strata").alias("__hs"), "__b"),
            F.col("strata").eqNullSafe(F.col("__hs")),
            "left",
        )
        .select(
            "strata",
            F.when(F.col("__nn") == 0, F.lit(None).cast("double"))
            .when(F.col("__b") == n_bins - 1, F.col("lo"))
            .otherwise(
                F.col("hi")
                - (F.col("hi") - F.col("lo"))
                * (F.col("__b") + 1)
                / n_bins
            )
            .alias("cutoff"),
            F.col("__n").alias("n_build"),
        )
    )


def screen_against_binned_cutoffs(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    unknown_strata: str = "drop",
) -> DataFrame:
    """Screen a micro-batch against the MERGEABLE cutoff store: derive
    the current cutoffs from the folded bin counts (strata×bins-sized
    work, zero corpus recompute), then the EXACT store's screen
    semantics verbatim (shared :func:`_screen_cutoff_frame` — ties
    inclusive, NULL scores never keep, unknown strata by policy)."""
    params = _BINNED_SIDECAR.read(spark, path)
    cuts = derive_binned_cutoffs(spark, path).withColumnRenamed(
        "strata", params["strata_col"]
    )
    return _screen_cutoff_frame(
        batch,
        cuts,
        params["strata_col"],
        params["score_col"],
        unknown_strata,
        "screen_against_binned_cutoffs",
    )


def calibrate_binned_cutoffs(
    spark: SparkSession,
    path: str,
    ref: DataFrame,
    key_col: str,
    max_gap_bins: float = 1.0,
) -> DataFrame:
    """The binned store's CALIBRATION report — the operator that
    closes its accuracy loop ("exact rebuild stays the calibration
    path" is hollow without a cheap way to see WHEN): derive the
    store's current cutoffs from the folded bin counts, run the EXACT
    integer gate over a calibration corpus ``ref`` under the
    sidecar's own strata/score/keep_pct, and emit one row per stratum
    on either side — ``(strata, cutoff_binned, cutoff_exact, abs_gap,
    gap_bins, needs_rebuild)``. ``gap_bins`` normalizes the cutoff gap
    by the stratum's frozen bin width, so the one number is
    comparable across strata with wildly different score ranges;
    ``needs_rebuild`` fires when it exceeds ``max_gap_bins`` (the
    store's own documented error bound is ONE bin when the
    calibration corpus equals the ingested corpus — a larger gap
    means real drift), when a constant-range stratum (frozen width 0)
    shows ANY gap, or when a stratum exists on only one side (new in
    the corpus, or vanished from it). Cost: the store-side is
    strata×bins-sized; the exact gate is the one corpus-scale pass —
    which is the point: run this periodically, not per batch.

    ``abs_gap``/``gap_bins`` are 6dp-rounded (the cross-engine float
    contract); both-sides-NULL cutoffs (all-NULL-score strata) report
    a NULL gap and no rebuild — no scores means nothing drifted."""
    params = _BINNED_SIDECAR.read(spark, path)
    strata_col = params["strata_col"]
    n_bins = int(params["n_bins"])
    binned = derive_binned_cutoffs(spark, path).select(
        "strata",
        F.col("cutoff").alias("cutoff_binned"),
        F.lit(True).alias("__in_store"),
    )
    exact = build_gate_cutoffs(
        ref,
        key_col,
        strata_col,
        params["score_col"],
        int(params["keep_pct"]),
    ).select(
        F.col(strata_col).alias("__es"),
        F.col("cutoff").alias("cutoff_exact"),
        F.lit(True).alias("__in_ref"),
    )
    ranges = spark.read.parquet(path.rstrip("/") + "/ranges").select(
        F.col("strata").alias("__rs"),
        ((F.col("hi") - F.col("lo")) / n_bins).alias("__w"),
    )
    joined = (
        binned.join(
            exact, F.col("strata").eqNullSafe(F.col("__es")), "full_outer"
        )
        .withColumn("strata", F.coalesce("strata", "__es"))
        .join(ranges, F.col("strata").eqNullSafe(F.col("__rs")), "left")
    )
    gap = F.abs(F.col("cutoff_exact") - F.col("cutoff_binned"))
    both = F.col("__in_store").isNotNull() & F.col("__in_ref").isNotNull()
    gap_bins = F.when(
        F.col("__w") > 0, F.round(gap / F.col("__w"), 6)
    )
    needs = F.when(
        ~F.coalesce(both, F.lit(False)), F.lit(True)
    ).otherwise(
        F.coalesce(
            F.when(F.col("__w") > 0, gap_bins > F.lit(float(max_gap_bins)))
            .otherwise(gap > 0),
            # one cutoff NULL, the other not: drifted by definition;
            # both NULL: nothing to drift
            F.col("cutoff_binned").isNull()
            != F.col("cutoff_exact").isNull(),
        )
    )
    return joined.select(
        "strata",
        "cutoff_binned",
        "cutoff_exact",
        F.round(gap, 6).alias("abs_gap"),
        gap_bins.alias("gap_bins"),
        needs.alias("needs_rebuild"),
    )


def compact_binned_cutoff_store(spark: SparkSession, path: str) -> int:
    """Rewrite the counts table as one row per (strata, bin) — the
    same group-sum derive_binned_cutoffs folds lazily, so cutoffs are
    unchanged by construction. Crash-atomic staged swap
    (:func:`util.swap_in_staged`); SINGLE WRITER REQUIRED. Returns the
    compacted row count."""
    _BINNED_SIDECAR.read(spark, path)
    base = path.rstrip("/") + "/counts"
    staged = base + ".compact"
    merged = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(base)
        .groupBy("strata", "bin")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    merged.write.mode("overwrite").parquet(staged)
    n = spark.read.parquet(staged).count()
    swap_in_staged(spark, base, "binned cutoff compaction")
    return int(n)


# ---------------------------------------------------------------------------
# Frozen per-language bigram LM: build / write / merge / compact / score
# ---------------------------------------------------------------------------


def _lm_token_frames(
    docs: DataFrame, id_col: str, text_col: str, lang_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared tokenize step: (per-doc token arrays, unigram
    occurrences, bigram occurrences), all carrying ``__lang``.
    Bigrams come from the zip-against-own-shift device of
    :func:`textops.bigram_logprob` — per-row JVM arrays, no
    positional self-join."""
    from ..functions import whitespace_tokens
    from .util import ensure_parallelism

    base = ensure_parallelism(
        docs.select(id_col, text_col, lang_col)
    ).select(
        F.col(id_col).alias("__doc"),
        F.col(lang_col).alias("__lang"),
        whitespace_tokens(F.col(text_col)).alias("__t"),
    )
    n = F.size("__t")
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(F.col("__t"), 1, n - 1).alias("w1"),
            F.slice(F.col("__t"), 2, n - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    toks = base.select(
        "__doc", "__lang", F.explode("__t").alias("token")
    )
    occ = base.select(
        "__doc", "__lang", F.explode(pairs).alias("p")
    ).select(
        "__doc",
        "__lang",
        F.col("p.w1").alias("w1"),
        F.col("p.w2").alias("w2"),
    )
    return base, toks, occ


def build_lm_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang_pred",
) -> DataFrame:
    """Per-language n-gram count tables as ONE unioned frame:
    ``(lang, w1, w2, c)`` where ``w2 IS NULL`` marks a unigram row.
    Both counts are plain partial-aggregable groupBys (hot stopword
    n-grams combine map-side); the frame is vocabulary-sized, never
    corpus-sized. The per-language totals are NOT stored — they are
    the sum of the language's unigram rows, derived at read time, so
    appended batches can never desynchronize count and total."""
    _, toks, occ = _lm_token_frames(docs, id_col, text_col, lang_col)
    uni = toks.groupBy("__lang", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).select(
        F.col("__lang").alias("lang"),
        F.col("token").alias("w1"),
        F.lit(None).cast("string").alias("w2"),
        "c",
    )
    bi = occ.groupBy("__lang", "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).select(F.col("__lang").alias("lang"), "w1", "w2", "c")
    return uni.unionByName(bi)


def write_lm_counts(
    counts: DataFrame,
    path: str,
    lang_col: str = "lang_pred",
    lam: float = 0.7,
    mode: str = "overwrite",
) -> None:
    """Persist LM count rows with the frozen scoring parameters.
    ``mode='append'`` is the O(batch) ingest path — partial count
    rows are added, nothing stored is read or rewritten; the read
    side group-sums. The sidecar's ``lam`` is frozen at build time:
    scoring the same store under drifting interpolation weights
    would silently change every historical keep decision.

    Appends are CRASH-ATOMIC (:func:`util.atomic_append_subdir`: one
    rename commits the batch as a ``batch-*`` subdirectory; the read
    side lists recursively) — count magnitudes are additive, so a
    half-committed batch would skew every frozen score. Same
    single-writer caveat as :func:`compact_lm_counts`."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if not 0 <= lam <= 1:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    spark = counts.sparkSession
    params = {"lang_col": str(lang_col), "lam": float(lam)}
    if mode == "append":
        _LM_SIDECAR.check_append(spark, path, params)
        atomic_append_subdir(counts, path, "lm append")
        return
    counts.write.mode("overwrite").parquet(path)
    _LM_SIDECAR.write(spark, path, params)


def merge_lm_counts(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = None,
) -> None:
    """Ingest-batch LM maintenance: count the batch's n-grams under
    the STORED parameters and append — O(batch), the stored rows are
    never read (the q163 merge contract; n-gram counts are additive,
    so batch granularity is free and order-independent)."""
    stored = _LM_SIDECAR.read(spark, path)
    lc = lang_col if lang_col is not None else stored["lang_col"]
    counts = build_lm_counts(batch, id_col, text_col, lc)
    write_lm_counts(
        counts,
        path,
        lang_col=stored["lang_col"],
        lam=float(stored["lam"]),
        mode="append",
    )


def compact_lm_counts(spark: SparkSession, path: str) -> int:
    """Rewrite the LM store as one row per (lang, w1, w2) — the same
    group-sum the scorer folds lazily, so scores are unchanged by
    construction (addition is associative). Crash-atomic staged swap
    (:func:`util.swap_in_staged`); SINGLE WRITER REQUIRED. Returns
    the compacted row count."""
    stored = _LM_SIDECAR.read(spark, path)
    base = path.rstrip("/")
    staged = base + ".compact"
    merged = (
        # recursive: appended batches live as batch-* subdirectories
        # (the crash-atomic commit of write_lm_counts mode='append')
        spark.read.option("recursiveFileLookup", "true")
        .parquet(base)
        .groupBy("lang", "w1", "w2")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    merged.write.mode("overwrite").parquet(staged)
    n = spark.read.parquet(staged).count()
    _LM_SIDECAR.write(spark, staged, stored)
    swap_in_staged(spark, base, "lm compaction")
    return int(n)


def score_with_frozen_lm(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang_pred",
    counts: DataFrame | None = None,
) -> DataFrame:
    """Score a batch under the FROZEN interpolated bigram model —
    the zero-corpus-recompute counterpart of :func:`textops.
    bigram_logprob` (same arithmetic, same 6dp-rounded mean), plus
    the OOV rules a frozen model needs (train-on-self never sees an
    unseen n-gram; a frozen model sees them constantly):

    * unseen unigram: ``p_uni = 0.5 / N`` (the continuity-correction
      floor, frozen in ``_OOV_COUNT``);
    * unseen bigram: the ``lam * c2/c1`` term is 0 and the unigram
      backoff term carries the probability — Jelinek-Mercer's own
      semantics, no extra device.

    On the store's own training corpus every n-gram is seen, both
    rules are dormant, and the scores equal ``bigram_logprob``'s
    exactly — the property :func:`build_ccnet_store` relies on to
    freeze cutoffs from train-on-self scores (pinned in tests).

    Returns ``(id_col, lang_col, mean_logprob)`` for EVERY batch row
    (0-token docs score NULL). Plan shape: the batch tokenizes once,
    unigram/bigram occurrence streams join the vocabulary-sized count
    tables on (lang, token) keys — the count tables come from one
    store scan + one group-sum fold over appended batches, and the
    per-language totals ride a lang-count-sized frame. A language
    with no stored counts scores NULL (joins all miss), which a
    downstream gate maps to keep=False."""
    stored = _LM_SIDECAR.read(spark, path)
    lam = float(stored["lam"])
    if counts is None:
        counts = (
            # recursive: appended batches live as batch-* subdirectories
            # (the crash-atomic commit of write_lm_counts mode='append')
            spark.read.option("recursiveFileLookup", "true")
            .parquet(path)
            .groupBy("lang", "w1", "w2")
            .agg(F.sum("c").cast("long").alias("c"))
            # vocabulary-sized fold of the store feeding FOUR consumers
            # (two unigram-term joins, the bigram join, the totals) —
            # pin it, or the store scan+sum runs per consumer
            .localCheckpoint()
        )
    # else: caller passed the store's ALREADY-MATERIALIZED folded count
    # table (r17, guide §1.2 — build_ccnet_store just wrote it from the
    # same frame; re-reading + re-folding the store it is a wasted
    # scan+aggregate job). The caller owns the equivalence: the frame
    # must be (lang, w1, w2, c) with one row per key, exactly what the
    # recursive read + group-sum of `path` would return.
    uni = counts.where(F.col("w2").isNull()).select(
        F.col("lang").alias("__ul"),
        F.col("w1").alias("__ut"),
        F.col("c").alias("__c1"),
    )
    tot = uni.groupBy(F.col("__ul").alias("__tl")).agg(
        F.sum("__c1").cast("long").alias("__n")
    )
    bi = counts.where(F.col("w2").isNotNull()).select(
        F.col("lang").alias("__bl"),
        F.col("w1").alias("__bw1"),
        F.col("w2").alias("__bw2"),
        F.col("c").alias("__c2"),
    )
    base, _, occ = _lm_token_frames(batch, id_col, text_col, lang_col)
    # first token: ln(p_uni)
    first = base.where(F.size("__t") >= 1).select(
        "__doc", "__lang", F.col("__t")[0].alias("token")
    )
    fs = (
        first.join(
            uni,
            (F.col("__lang") == F.col("__ul"))
            & (F.col("token") == F.col("__ut")),
            "left",
        )
        .join(tot, F.col("__lang") == F.col("__tl"), "left")
        .select(
            "__doc",
            F.log(
                F.coalesce(F.col("__c1").cast("double"), F.lit(_OOV_COUNT))
                / F.col("__n")
            ).alias("__lp"),
        )
    )
    # subsequent tokens: ln(lam * c2/c1(w1) + (1-lam) * p_uni(w2))
    u1 = uni.select(
        F.col("__ul").alias("__l1"),
        F.col("__ut").alias("__t1"),
        F.col("__c1").alias("__c1a"),
    )
    u2 = uni.select(
        F.col("__ul").alias("__l2"),
        F.col("__ut").alias("__t2"),
        F.col("__c1").alias("__c1b"),
    )
    bs = (
        occ.join(
            bi,
            (F.col("__lang") == F.col("__bl"))
            & (F.col("w1") == F.col("__bw1"))
            & (F.col("w2") == F.col("__bw2")),
            "left",
        )
        .join(
            u1,
            (F.col("__lang") == F.col("__l1"))
            & (F.col("w1") == F.col("__t1")),
            "left",
        )
        .join(
            u2,
            (F.col("__lang") == F.col("__l2"))
            & (F.col("w2") == F.col("__t2")),
            "left",
        )
        .join(tot, F.col("__lang") == F.col("__tl"), "left")
        .select(
            "__doc",
            F.log(
                F.lit(lam)
                * F.coalesce(
                    F.col("__c2").cast("double") / F.col("__c1a"),
                    F.lit(0.0),
                )
                + F.lit(1.0 - lam)
                * F.coalesce(
                    F.col("__c1b").cast("double"), F.lit(_OOV_COUNT)
                )
                / F.col("__n")
            ).alias("__lp"),
        )
    )
    sc = fs.unionByName(bs).groupBy("__doc").agg(
        F.round(F.avg("__lp"), 6).alias("mean_logprob")
    )
    return (
        batch.select(F.col(id_col), F.col(lang_col))
        .join(sc, F.col(id_col) == F.col("__doc"), "left")
        .select(id_col, lang_col, "mean_logprob")
    )


# ---------------------------------------------------------------------------
# Frozen drift baseline: reference shares/bins persisted once,
# per-batch PSI computed against them (the monitoring counterpart of
# the gate store — q92/q98 recompute BOTH sides per invocation; a
# production monitor compares every batch against the SAME frozen
# reference distribution)
# ---------------------------------------------------------------------------

_BASELINE_SIDECAR = Sidecar(
    "_baseline_params.json",
    ("cat_cols", "num_cols", "n_bins", "min_share"),
    "drift baseline store",
    "rebuild via build_drift_baseline",
)


def _bin_expr(col: str, edges: list[float]):
    """Bin index = count of edges strictly below the value (the q98
    convention), as one literal comparison sum."""
    b = F.lit(0)
    for e in edges:
        b = b + F.when(F.col(col) > F.lit(float(e)), 1).otherwise(0)
    return b.cast("long")


def build_drift_baseline(
    ref: DataFrame,
    path: str,
    cat_cols: Sequence[str] = (),
    num_cols: Sequence[str] = (),
    n_bins: int = 10,
    min_share: float = 1e-6,
) -> None:
    """Freeze a reference snapshot's distributions: per categorical
    column the category shares, per numeric column the equal-
    frequency bin EDGES (exact interior quantiles — the q98 cross-
    engine contract) and the reference share per bin. One long
    parquet table ``(kind, col, key, edge, share)``:

    * ``kind='cat'``  — key = category value (NULLs as the tagged
      sentinel so they survive the parquet round-trip as a category);
    * ``kind='edge'`` — key = edge index, ``edge`` = the quantile;
    * ``kind='num'``  — key = bin index (count of edges strictly
      below the value, the q98 convention), ``share`` = reference
      share of that bin.

    NULL numeric values are excluded (a missing-rate metric, not a
    distribution position); all shares are stored UNclamped —
    clamping to ``min_share`` is the PSI computation's job, recorded
    in the sidecar so both sides of every future comparison use the
    same floor."""
    from functools import reduce

    cat_cols, num_cols = list(cat_cols), list(num_cols)
    if not cat_cols and not num_cols:
        raise ValueError("give at least one of cat_cols/num_cols")
    parts = []
    for c in cat_cols:
        cnt = ref.groupBy(
            F.col(c).cast("string").alias("key")
        ).agg(F.count(F.lit(1)).alias("__n"))
        parts.append(
            cnt.select(
                F.lit("cat").alias("kind"),
                F.lit(c).alias("col"),
                F.coalesce(F.col("key"), F.lit("\x00null")).alias("key"),
                F.lit(None).cast("double").alias("edge"),
                (
                    F.col("__n")
                    / F.sum("__n").over(Window.partitionBy())
                ).alias("share"),
            )
        )
    qs = [i / n_bins for i in range(1, n_bins)]
    for c in num_cols:
        vals = ref.where(F.col(c).isNotNull()).select(
            F.col(c).cast("double").alias("__v")
        )
        edges = vals.agg(
            F.percentile(
                F.col("__v"), F.array(*[F.lit(q) for q in qs])
            ).alias("__e")
        ).select(F.explode(F.array_distinct("__e")).alias("edge"))
        parts.append(
            edges.select(
                F.lit("edge").alias("kind"),
                F.lit(c).alias("col"),
                F.row_number()
                .over(Window.partitionBy().orderBy("edge"))
                .cast("string")
                .alias("key"),
                F.col("edge"),
                F.lit(None).cast("double").alias("share"),
            )
        )
        # bin = count of edges strictly below the value, computed as a
        # literal comparison sum (the edges are a (n_bins-1)-sized
        # driver fetch — the accepted seed-fetch class; a join-based
        # form would multiply rows by edges-below and lose value
        # multiplicity under any per-value regroup)
        evals = sorted(r.edge for r in edges.collect())
        bins = vals.select(
            _bin_expr("__v", evals).alias("__bin")
        ).groupBy("__bin").agg(F.count(F.lit(1)).alias("__n"))
        parts.append(
            bins.select(
                F.lit("num").alias("kind"),
                F.lit(c).alias("col"),
                F.col("__bin").cast("string").alias("key"),
                F.lit(None).cast("double").alias("edge"),
                (
                    F.col("__n")
                    / F.sum("__n").over(Window.partitionBy())
                ).alias("share"),
            )
        )
    table = reduce(lambda a, b: a.unionByName(b), parts)
    table.write.mode("overwrite").parquet(path)
    _BASELINE_SIDECAR.write(
        table.sparkSession,
        path,
        {
            "cat_cols": cat_cols,
            "num_cols": num_cols,
            "n_bins": int(n_bins),
            "min_share": float(min_share),
        },
    )


def psi_against_baseline(
    spark: SparkSession, path: str, batch: DataFrame
) -> DataFrame:
    """Per-column PSI of a micro-batch against the FROZEN baseline:
    ``(kind, col, psi, n_batch)`` — one row per monitored column,
    every batch compared against the SAME reference distribution
    (q92/q98 recompute both sides per invocation, so their "drift"
    moves whenever the reference half re-derives; a monitor needs the
    reference pinned). Shares on both sides clamp at the sidecar's
    ``min_share`` so one-side-only categories/bins contribute finite
    terms. The baseline table is tiny (domains × columns) and
    broadcasts; the batch pays one scan per column family (categorical
    columns unpivot in one pass; each numeric column bins against its
    broadcast edges). PSI is rounded 6dp per column (the cross-engine
    float contract)."""
    from functools import reduce

    params = _BASELINE_SIDECAR.read(spark, path)
    ms = float(params["min_share"])
    stored = spark.read.parquet(path).localCheckpoint()
    outs = []
    cat_cols = list(params["cat_cols"])
    if cat_cols:
        pairs = batch.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col"),
                            F.coalesce(
                                F.col(c).cast("string"),
                                F.lit("\x00null"),
                            ).alias("key"),
                        )
                        for c in cat_cols
                    ]
                )
            ).alias("p")
        ).select("p.col", "p.key")
        bc = pairs.groupBy("col", "key").agg(
            F.count(F.lit(1)).alias("__n")
        ).withColumn(
            "share_b",
            F.col("__n") / F.sum("__n").over(Window.partitionBy("col")),
        )
        base = stored.where(F.col("kind") == "cat").select(
            "col", "key", F.col("share").alias("share_a")
        )
        joined = base.join(bc.select("col", "key", "share_b"),
                           ["col", "key"], "full_outer")
        ga = F.greatest(F.coalesce(F.col("share_a"), F.lit(0.0)), F.lit(ms))
        gb = F.greatest(F.coalesce(F.col("share_b"), F.lit(0.0)), F.lit(ms))
        outs.append(
            joined.groupBy("col")
            .agg(
                F.round(F.sum((ga - gb) * F.log(ga / gb)), 6).alias("psi")
            )
            .select(F.lit("cat").alias("kind"), "col", "psi")
        )
    for c in list(params["num_cols"]):
        vals = batch.where(F.col(c).isNotNull()).select(
            F.col(c).cast("double").alias("__v")
        )
        # the frozen edges are a (n_bins-1)-sized driver fetch from
        # the domain-sized baseline table — the accepted seed-fetch
        # class; binning stays a literal expression, join-free
        evals = sorted(
            r.edge
            for r in stored.where(
                (F.col("kind") == "edge") & (F.col("col") == c)
            )
            .select("edge")
            .collect()
        )
        bins = (
            vals.select(_bin_expr("__v", evals).alias("__bin"))
            .groupBy("__bin")
            .agg(F.count(F.lit(1)).alias("__n"))
            .withColumn(
                "share_b",
                F.col("__n") / F.sum("__n").over(Window.partitionBy()),
            )
            .select(F.col("__bin").cast("string").alias("key"), "share_b")
        )
        base = stored.where(
            (F.col("kind") == "num") & (F.col("col") == c)
        ).select("key", F.col("share").alias("share_a"))
        joined = base.join(bins, "key", "full_outer")
        ga = F.greatest(F.coalesce(F.col("share_a"), F.lit(0.0)), F.lit(ms))
        gb = F.greatest(F.coalesce(F.col("share_b"), F.lit(0.0)), F.lit(ms))
        outs.append(
            joined.agg(
                F.round(F.sum((ga - gb) * F.log(ga / gb)), 6).alias("psi")
            ).select(
                F.lit("num").alias("kind"), F.lit(c).alias("col"), "psi"
            )
        )
    counts = batch.agg(F.count(F.lit(1)).cast("long").alias("n_batch"))
    out = reduce(lambda a, b: a.unionByName(b), outs)
    return out.crossJoin(F.broadcast(counts)).select(
        "kind", "col", "psi", "n_batch"
    )


# ---------------------------------------------------------------------------
# Frozen model gate: the q148 scorer seam over the cutoff store
# ---------------------------------------------------------------------------


def build_model_gate_store(
    reference_docs: DataFrame,
    path: str,
    key_col: str,
    text_col: str,
    strata_col: str,
    keep_pct: int,
    scorer=None,
    score_col: str = "model_score",
    buckets: int = 256,
) -> None:
    """Freeze a FineWeb-Edu/DCLM-style classifier gate: score the
    reference corpus through the batch-vectorized model seam
    (:func:`textops.model_scores`) and persist the per-stratum
    top-``keep_pct``% cutoffs. The classifier itself is NOT stored —
    ``scorer`` must be the same (versioned) model at build and screen
    time, which is the caller's artifact registry's job; what this
    store freezes is the DECISION BOUNDARY, the part that silently
    drifts when gates recompute per-invocation percentiles on every
    dump."""
    from .textops import fake_model_scorer, model_scores

    scored = model_scores(
        reference_docs,
        [key_col, strata_col],
        text_col,
        scorer if scorer is not None else fake_model_scorer,
        score_col,
    )
    write_gate_cutoffs(
        build_gate_cutoffs(
            scored, key_col, strata_col, score_col, keep_pct, buckets
        ),
        path,
        strata_col,
        score_col,
        keep_pct,
    )


def screen_model_gate_frozen(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key_col: str,
    text_col: str,
    scorer=None,
    unknown_strata: str = "drop",
) -> DataFrame:
    """Screen a micro-batch through the frozen classifier gate: score
    with the injected model seam, keep = score >= the stored
    stratum cutoff. Column names come from the store's sidecar, so a
    batch can never silently screen against the wrong boundary.
    Returns ``(key_col, strata_col, score_col, keep)``."""
    from .textops import fake_model_scorer, model_scores

    _, params = read_gate_cutoffs(spark, path)
    scored = model_scores(
        batch,
        [key_col, params["strata_col"]],
        text_col,
        scorer if scorer is not None else fake_model_scorer,
        params["score_col"],
    )
    return screen_against_cutoffs(
        spark, path, scored, unknown_strata=unknown_strata
    )


# ---------------------------------------------------------------------------
# CCNet frozen store: one-call build + screen
# ---------------------------------------------------------------------------


def build_ccnet_store(
    reference_docs: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    langs: list[str] | None = None,
    keep_pct: int = 34,
    lam: float = 0.7,
    buckets: int = 256,
) -> None:
    """Build the frozen CCNet store from a reference corpus: language-
    ID the reference ONCE, persist one bigram-LM count table per
    language (``<store>/lm``) and the per-language head-bucket cutoffs
    (``<store>/cutoffs``). Cutoffs come from scoring the reference
    under the JUST-WRITTEN frozen LM (:func:`score_with_frozen_lm`) +
    the same :func:`relational.quality_percentile_gate` the one-shot
    pipeline applies — train-on-self scores are identical to frozen-LM
    scores on the training corpus (every n-gram is seen, the OOV rules
    are dormant; pinned in tests/test_streaming.py
    ``test_frozen_ccnet_store_matches_train_on_self``), so the frozen
    gate reproduces exactly the boundary :func:`pipelines.
    ccnet_quality_pipeline` would draw, by value. r16 optimization
    (guide §1.2 — don't compute things twice): the pre-r16 build ran
    the WHOLE pipeline a second time for the cutoffs — a second
    language-ID pass over the reference plus one train-side bigram
    window count per language — where scoring under the stored
    vocabulary-sized count tables needs neither. ``langs`` is the
    production fixed list (the q152 contract); docs language-ID'd
    outside it contribute nothing to the store and are rejected at
    screen time as unknown strata."""
    from .relational import quality_percentile_gate
    from .textops import language_id

    if langs is None:
        raise ValueError(
            "build_ccnet_store requires the fixed production language "
            "list (the q152 langs= contract)"
        )
    tagged = language_id(
        reference_docs.select(id_col, text_col), text_col
    ).where(F.col("lang_pred").isin(*langs)).localCheckpoint()
    lm_path = store_dir.rstrip("/") + "/lm"
    # r17 (guide §1.2, §5): materialize the vocabulary-sized count
    # table ONCE and feed both the store write and the scoring pass —
    # pre-r17 the build tokenized+aggregated the reference a second
    # time inside score_with_frozen_lm's store re-read (scan + fold of
    # rows written milliseconds earlier). For a one-shot overwrite the
    # folded table IS the written table, so counts= is value-identical
    # by construction (group-sum of single rows is the identity).
    counts = build_lm_counts(
        tagged, id_col, text_col, "lang_pred"
    ).localCheckpoint()
    write_lm_counts(counts, lm_path, lang_col="lang_pred", lam=lam)
    # r17 (guide §5 — truncate the plan before a multi-consumer gate):
    # the bucketed percentile gate consumes its input from THREE
    # subtrees (min/max frame, local-rank side, slice-count side);
    # left lazy, each re-derives the full frozen-LM scoring join
    # chain. The scored frame is doc-metadata-sized (id, lang, score),
    # so one localCheckpoint costs one scoring pass and the gate reads
    # it three times for free. Measured (sf0.1, q172 build shape,
    # interleaved A/B): build 6.1 -> 4.7 s warm, 14.0 -> 6.2 s cold;
    # stored lm rows and cutoffs byte-identical.
    scored = quality_percentile_gate(
        score_with_frozen_lm(
            reference_docs.sparkSession,
            lm_path,
            tagged,
            id_col,
            text_col,
            "lang_pred",
            counts=counts,
        ).localCheckpoint(),
        id_col,
        "lang_pred",
        "mean_logprob",
        keep_pct,
        buckets,
    )
    write_gate_cutoffs(
        scored.groupBy("lang_pred").agg(
            F.min(F.when(F.col("keep"), F.col("mean_logprob")))
            .cast("double")
            .alias("cutoff"),
            F.count(F.lit(1)).cast("long").alias("n_build"),
        ),
        store_dir.rstrip("/") + "/cutoffs",
        strata_col="lang_pred",
        score_col="mean_logprob",
        keep_pct=keep_pct,
    )


def screen_ccnet_frozen(
    spark: SparkSession,
    store_dir: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unknown_strata: str = "drop",
) -> DataFrame:
    """Screen a micro-batch against the frozen CCNet store: language-
    ID the batch, score each doc under its language's FROZEN bigram
    LM, gate on the FROZEN per-language cutoff. Returns ``(id_col,
    lang_pred, mean_logprob, keep)`` for every batch row. Touches the
    batch and the store only — zero reference-corpus recompute, which
    is the entire point: screening the Nth dump costs the same as the
    first, and two dumps screened in either order get identical
    verdicts."""
    from .textops import language_id

    tagged = language_id(batch.select(id_col, text_col), text_col)
    scored = score_with_frozen_lm(
        spark,
        store_dir.rstrip("/") + "/lm",
        tagged,
        id_col,
        text_col,
        "lang_pred",
    )
    return screen_against_cutoffs(
        spark,
        store_dir.rstrip("/") + "/cutoffs",
        scored,
        unknown_strata=unknown_strata,
    ).select(id_col, "lang_pred", "mean_logprob", "keep")
