"""The skew-guarded bucket pair join, plus LSH candidate-pair generation.

The reference's blocking join (smart_merger.py:185-198, 624-655) has a known
skew hazard: rows with empty keys pile into one block.  At LSH scale the
analogue is a hot band bucket (boilerplate text shared by millions of rows);
the SimHash pass has the same hazard on its chunk buckets.  Both passes
block through :func:`bucket_pairs`, which applies one policy (SURVEY.md §4,
§7.4 #2) with one setting, ``hot_band_cap``:

  * size-1 buckets are dropped before the join (the bulk at scale);
  * buckets with <= ``hot_band_cap`` members generate ALL intra-bucket pairs
    via a self-equi-join on the bucket key — AQE skew-join splits any
    moderately large bucket's join tasks;
  * buckets larger than the cap switch to a STAR pattern: every member pairs
    with the bucket minimum only (n-1 pairs instead of n(n-1)/2).  For
    connected-components clustering this preserves connectivity through the
    representative while bounding pair volume; the switch is recorded in the
    returned bucket stats — truncation is never silent.

Delta contract.  A batch run is a delta run in which every row is new: the
join keeps a pair iff at least one endpoint is new, and without a new-row
column every row counts as new.  In a delta, only buckets holding a new row
enter the join (semi-join pruning, cost O(|delta| + touched buckets)), and a
touched bucket carries ALL its members, so the star decision and the bucket
rep are those of the batch join over old ∪ new.  Hence

    batch_pairs(old) ∪ delta_pairs(old, new) == batch_pairs(old ∪ new)

exactly, as long as no bucket CROSSES the cap between the two runs and no
hot bucket's minimum id changes.  A bucket going hot, or a new row below a
hot bucket's rep, leaves pairs in the prior state that the batch star no
longer emits: the composed state is then a superset of the batch pairs,
and the hot bucket shows in the bucket stats.  A re-signed rep that leaves
its hot bucket is the case that loses batch pairs: the spokes to the next
smallest member have no new endpoint.  The containment pass's
document-frequency cap has the same boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bibexpy_spark.config import DedupConfig

BAND_KEYS = ["band_idx", "band_hash"]


def explode_bands(
    signed: DataFrame, id_col: str = "conv_id", keep: tuple[str, ...] = ()
) -> DataFrame:
    """(id, band_hashes array) -> (id, band_idx, band_hash), one row per band;
    ``keep`` columns ride along."""
    return signed.select(
        id_col, *keep, F.posexplode("band_hashes").alias(*BAND_KEYS)
    )


def bucket_pairs(
    members: DataFrame,
    keys: list[str],
    id_col: str,
    cap: int,
    payload: tuple[str, ...] = (),
    new_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One row per (bucket, member) -> (pairs, bucket_stats).

    ``pairs``: (a_id, a_<p>..., b_id, b_<p>...) with a_id < b_id, one row per
    co-bucketed pair with >= 1 new endpoint (``new_col``; every row when
    None), NOT deduplicated across buckets; ``payload`` columns travel with
    each endpoint.  ``bucket_stats``: (keys..., bucket_n, star_mode) per
    bucket of size >= 2.

    Small and star pairs come out of ONE self-join: its x side holds the
    new members of small buckets and the star members of hot buckets, its
    y side every member of a small bucket but only the rep of a hot one.
    The rep's new-row flag comes from the bucket aggregate."""
    if new_col:
        touched = members.filter(F.col(new_col)).select(*keys).distinct()
        members = members.join(touched, keys, "left_semi")
    # batch: a literal flag, which the optimizer folds out of every filter
    flag = F.col(new_col) if new_col else F.lit(True)
    m = members.select(*keys, F.col(id_col).alias("id"), *payload, flag.alias("new"))
    buckets = (
        m.groupBy(*keys)
        .agg(
            F.count("*").alias("bucket_n"),
            # min of a struct = the min-id row's whole struct
            F.min(F.struct("id", "new")).alias("rep"),
        )
        .filter(F.col("bucket_n") >= 2)
    )
    m = m.join(buckets, keys)
    new, hot = F.col("new"), F.col("bucket_n") > cap
    is_rep = F.col("id") == F.col("rep.id")
    cols = ["id", *payload]

    def side(df: DataFrame, tag: str) -> DataFrame:
        tagged = [F.col(c).alias(f"{tag}_{c}") for c in [*cols, "new"]]
        return df.select(*keys, "bucket_n", *tagged)

    x = side(m.filter(F.when(hot, ~is_rep & (new | F.col("rep.new"))).otherwise(new)), "x")
    y = side(m.filter(~hot | is_rep), "y").drop("bucket_n")
    swap = F.col("x_id") > F.col("y_id")
    pairs = (
        x.join(y, keys)
        # a small-bucket pair of two new rows is kept in one orientation
        .filter(hot | ~F.col("y_new") | (F.col("x_id") < F.col("y_id")))
        .select(
            *[F.when(swap, F.col(f"y_{c}")).otherwise(F.col(f"x_{c}")).alias(f"a_{c}")
              for c in cols],
            *[F.when(swap, F.col(f"x_{c}")).otherwise(F.col(f"y_{c}")).alias(f"b_{c}")
              for c in cols],
        )
    )
    bucket_stats = buckets.select(*keys, "bucket_n", hot.alias("star_mode"))
    return pairs, bucket_stats


def candidate_pairs(
    signed: DataFrame,
    cfg: DedupConfig,
    id_col: str = "conv_id",
    new_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """LSH band join -> distinct candidate pairs (a_id < b_id).

    Returns (pairs, band_stats); band_stats carries per-bucket member counts
    and the hot/star flag for the metrics table.  With ``new_col`` only
    pairs with >= 1 new endpoint come back (module docstring)."""
    keep = (new_col,) if new_col else ()
    pairs, band_stats = bucket_pairs(
        explode_bands(signed, id_col, keep), BAND_KEYS, id_col,
        cfg.hot_band_cap, new_col=new_col,
    )
    return pairs.select("a_id", "b_id").dropDuplicates(["a_id", "b_id"]), band_stats
