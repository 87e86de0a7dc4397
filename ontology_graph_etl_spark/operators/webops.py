"""URL/domain-level web hygiene — the gate FineWeb/RefinedWeb-class
pipelines run before any text pass: normalized-URL exact dedup and
domain-level admission (blocklist + per-domain contribution cap).
These are the cheapest filters in the stack — pure string expressions
plus two keyed shuffles — so at 100 TB they run first and shrink
everything downstream. SURVEY.md §2 round-16 extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.url import normalize_url, url_domain
from .util import Sidecar, atomic_append_subdir


def web_hygiene_gate(
    df: DataFrame,
    url_col: str,
    id_col: str,
    blocked_domains: DataFrame | list[str] | None = None,
    max_per_domain: int | None = None,
) -> DataFrame:
    """One audited pass of URL-level hygiene. Adds to every input row:

    * ``norm_url`` — :func:`functions.url.normalize_url` (scheme and
      fragment dropped, host lowercased, ``utm_*`` params removed) —
      the dedup identity;
    * ``domain`` — :func:`functions.url.url_domain` (host minus one
      leading ``www.``) — the admission key;
    * ``blocked`` — domain appears in ``blocked_domains`` (a 1-column
      DataFrame or a Python list; blocklists are dictionary-sized so
      the membership join is broadcast);
    * ``url_dup`` — an UNBLOCKED row whose ``norm_url`` was already
      claimed by a smaller ``id_col`` (first-wins, the q14/q54
      deterministic-order contract). Blocked rows are excluded from
      the identity pool — a blocked fetch must not shadow a
      legitimate copy of the same URL — and carry ``url_dup=False``;
    * ``domain_rank`` — 1-based position of the row among its
      domain's SURVIVORS (not blocked, not dup), ordered by
      ``id_col``; NULL for non-survivors;
    * ``keep`` — survivor AND (no cap, or ``domain_rank <=
      max_per_domain``) — the RefinedWeb per-domain contribution cap,
      applied deterministically to the smallest ids so reruns keep
      the same rows.

    Stage order is part of the contract: blocklist → URL dedup →
    domain cap. The cap counts only rows that could actually be
    admitted, so a domain full of duplicates cannot starve its own
    fresh pages.

    Scale shape: one shuffle keyed by ``norm_url`` (the dedup
    window), one keyed by ``domain`` (the cap window over survivors
    only — rejected rows never enter it), one id-keyed join-back for
    the rank, and a broadcast for the blocklist. No collect, no UDF;
    every derived column is a codegen'd string expression. Hot
    domains skew the cap window; AQE's skew handling applies, and the
    window's input is already blocklist/dedup-pruned.
    """
    spark = df.sparkSession
    out = df.withColumn("norm_url", normalize_url(F.col(url_col)))
    out = out.withColumn("domain", url_domain(F.col(url_col)))
    if blocked_domains is None:
        out = out.withColumn("blocked", F.lit(False))
    else:
        if isinstance(blocked_domains, list):
            bl = spark.createDataFrame(
                [(d,) for d in blocked_domains], "domain string"
            )
        else:
            bl = blocked_domains.select(
                F.col(blocked_domains.columns[0]).alias("domain")
            )
        marker = bl.distinct().withColumn("__blk", F.lit(True))
        out = (
            out.join(F.broadcast(marker), "domain", "left")
            .withColumn("blocked", F.coalesce("__blk", F.lit(False)))
            .drop("__blk")
        )
    w_url = Window.partitionBy("norm_url")
    first_id = F.min(
        F.when(~F.col("blocked"), F.col(id_col))
    ).over(w_url)
    out = out.withColumn(
        "url_dup",
        ~F.col("blocked") & (F.col(id_col) != first_id),
    )
    survivors = out.where(~F.col("blocked") & ~F.col("url_dup")).select(
        F.col(id_col).alias("__sid"),
        F.row_number()
        .over(Window.partitionBy("domain").orderBy(F.col(id_col).asc()))
        .alias("domain_rank"),
    )
    out = out.join(
        survivors, F.col(id_col) == F.col("__sid"), "left"
    ).drop("__sid")
    is_survivor = ~F.col("blocked") & ~F.col("url_dup")
    if max_per_domain is None:
        keep = is_survivor
    else:
        keep = is_survivor & (
            F.col("domain_rank") <= F.lit(int(max_per_domain))
        )
    return out.withColumn("keep", keep)


# ---------------------------------------------------------------------------
# Stored URL-seen / domain-count index: the cross-batch face of the gate
# ---------------------------------------------------------------------------

_URL_SIDECAR = Sidecar(
    "_url_index_params.json",
    ("url_col", "max_per_domain"),
    "URL index",
    "rebuild via write_url_index",
)


def write_url_index(
    df: DataFrame,
    path: str,
    url_col: str,
    max_per_domain: int | None = None,
) -> None:
    """Build the persisted URL hygiene store — the CROSS-BATCH face
    of :func:`web_hygiene_gate` (whose dedup/cap only see one frame):
    ``<path>/urls`` holds the DISTINCT normalized URLs admitted so
    far, ``<path>/domcounts`` additive ``(domain, c)`` rows folded on
    read (the binned-cutoff-store counting device), and the sidecar
    freezes ``max_per_domain`` so every later screen applies the same
    cap. Build semantics: ``df`` is an already-admitted corpus — its
    rows count toward the domain budgets and its URLs are 'seen'."""
    spark = df.sparkSession
    base = path.rstrip("/")
    normed = df.select(
        normalize_url(F.col(url_col)).alias("norm_url"),
        url_domain(F.col(url_col)).alias("domain"),
    )
    normed.select("norm_url").distinct().write.mode(
        "overwrite"
    ).parquet(base + "/urls")
    normed.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).write.mode("overwrite").parquet(base + "/domcounts")
    # sidecar AFTER the data lands (write_dedup_index ordering)
    _URL_SIDECAR.write(
        spark,
        base,
        {
            "url_col": str(url_col),
            "max_per_domain": (
                None if max_per_domain is None else int(max_per_domain)
            ),
        },
    )


def merge_url_index(
    spark,
    path: str,
    batch: DataFrame,
    url_col: str | None = None,
) -> None:
    """Fold an ADMITTED batch into the URL store: its not-yet-stored
    normalized URLs append into ``urls`` and its per-domain row
    counts into ``domcounts`` — each an O(batch) crash-atomic
    staged-subdir commit (:func:`util.atomic_append_subdir`); the
    stored rows are never rewritten. SINGLE WRITER REQUIRED (the
    store-family contract). Note the count semantics: every admitted
    ROW spends domain budget, while only NEW urls join the seen set
    — re-admitting a URL the caller chose not to dedup still costs
    its domain."""
    params = _URL_SIDECAR.read(spark, path)
    ucol = url_col or str(params["url_col"])
    base = path.rstrip("/")
    normed = batch.select(
        normalize_url(F.col(ucol)).alias("norm_url"),
        url_domain(F.col(ucol)).alias("domain"),
    ).localCheckpoint()
    stored = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(base + "/urls")
        .select("norm_url")
    )
    fresh = (
        normed.select("norm_url")
        .distinct()
        .join(stored, "norm_url", "left_anti")
    )
    atomic_append_subdir(fresh, base + "/urls", "URL index merge")
    atomic_append_subdir(
        normed.groupBy("domain").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ),
        base + "/domcounts",
        "URL index merge",
    )


def screen_against_url_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str,
    url_col: str | None = None,
) -> DataFrame:
    """Screen a micro-batch against the stored URL index: one row per
    batch row — ``(id_col, norm_url, domain, url_seen,
    domain_full)``. ``url_seen`` is membership of the normalized URL
    in the stored seen-set (a left-semi-shaped join against the
    store, pruned to the batch's keys); ``domain_full`` is the
    stored, FOLDED domain count at or over the sidecar's frozen
    ``max_per_domain`` (always FALSE when the store was built without
    a cap; an unseen domain has no budget spent). Decisions are
    frozen-store reads only — the batch itself spends no budget until
    :func:`merge_url_index` folds the admitted rows back, the
    ingest-loop contract every stored screen obeys."""
    params = _URL_SIDECAR.read(spark, path)
    ucol = url_col or str(params["url_col"])
    cap = params["max_per_domain"]
    base = path.rstrip("/")
    normed = batch.select(
        F.col(id_col),
        normalize_url(F.col(ucol)).alias("norm_url"),
        url_domain(F.col(ucol)).alias("domain"),
    )
    seen = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(base + "/urls")
        .select("norm_url")
        .withColumn("__seen", F.lit(True))
    )
    counts = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(base + "/domcounts")
        .groupBy("domain")
        .agg(F.sum("c").cast("long").alias("__dc"))
    )
    out = (
        normed.join(seen, "norm_url", "left")
        .withColumn("url_seen", F.coalesce("__seen", F.lit(False)))
        .drop("__seen")
        .join(counts, "domain", "left")
    )
    if cap is None:
        out = out.withColumn("domain_full", F.lit(False))
    else:
        out = out.withColumn(
            "domain_full",
            F.coalesce(
                F.col("__dc") >= F.lit(int(cap)), F.lit(False)
            ),
        )
    return out.select(
        id_col, "norm_url", "domain", "url_seen", "domain_full"
    )
