"""SimHash Hamming-bucket matching (fuzzy-field dedup pass).

The reference's Stage-4 matches on fuzzy secondary fields (journal JW >= 0.90
plus exact volume/page, smart_merger.py:309-334).  The transcript analogue:
SimHash over text + role/tool-sequence features, pairs within Hamming
distance ``simhash_hamming_max``.

Candidate generation uses the pigeonhole principle: split the 64-bit hash
into ``simhash_chunks`` chunks; two hashes within distance d < chunks must
agree exactly on at least one chunk -> the (chunk_idx, chunk_val) buckets go
through the shared skew-guarded bucket join (operators/lsh.py), then a
JVM-native verify ``bit_count(a ^ b) <= d`` (no Python in the join path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bibexpy_spark.config import DedupConfig
from bibexpy_spark.functions import udfs
from bibexpy_spark.operators import lsh


def with_simhash(conversations: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Add ``simhash`` over the normalized (doc + roles + tools) feature.

    The intermediate normalized feature is dropped before returning (r4
    review: leaving it aboard put a second full-text copy of every
    conversation into the pipeline's persisted ``signed``/``grouped``
    frames and every downstream shuffle, and nothing ever read it)."""
    u = udfs.for_config(cfg)
    feat = F.concat_ws(
        " ", F.col("doc"), F.coalesce("roles", F.lit("")), F.coalesce("tools", F.lit(""))
    )
    return (
        conversations.withColumn("fuzzy_feat", u["normalize"](feat))
        .withColumn("simhash", u["simhash"](F.col("fuzzy_feat")))
        .drop("fuzzy_feat")
    )


CHUNK_KEYS = ["chunk_idx", "chunk_val"]


def _chunked(
    simmed: DataFrame, cfg: DedupConfig, id_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Explode each 64-bit simhash into (chunk_idx, chunk_val) rows."""
    width = 64 // cfg.simhash_chunks
    mask = (1 << width) - 1
    return simmed.select(
        id_col,
        "simhash",
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned("simhash", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for i in range(cfg.simhash_chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", *keep, "c.*")


def _radius_pairs(
    chunks: DataFrame, cfg: DedupConfig, id_col: str, new_col: str | None = None
) -> DataFrame:
    """Chunk-bucket pairs through the shared skew-guarded join
    (:func:`lsh.bucket_pairs`, capped by ``hot_band_cap``), then the
    JVM-native Hamming verify.  Star pairs pass the same verify, so
    connectivity through the rep is kept exactly for the identical-simhash
    pile-ups that cause the blowup; a member beyond the radius from the rep
    drops out (never silent: :func:`simhash_chunk_stats` reports hot
    buckets)."""
    pairs, _ = lsh.bucket_pairs(
        chunks, CHUNK_KEYS, id_col, cfg.hot_band_cap,
        payload=("simhash",), new_col=new_col,
    )
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("a_simhash").bitwiseXOR(F.col("b_simhash"))),
        )
        .filter(F.col("hamming") <= cfg.simhash_hamming_max)
        .select("a_id", "b_id", "hamming")
        .dropDuplicates(["a_id", "b_id"])
    )


def simhash_pairs(simmed: DataFrame, cfg: DedupConfig, id_col: str = "conv_id") -> DataFrame:
    """(id, simhash) -> pairs (a_id, b_id, hamming) within the radius.

    Buckets above ``cfg.hot_band_cap`` degrade to the star fallback; below
    the cap the pair set is exactly the all-pairs-within-radius
    definition."""
    return _radius_pairs(_chunked(simmed, cfg, id_col), cfg, id_col)


def simhash_chunk_stats(
    simmed: DataFrame, cfg: DedupConfig, id_col: str = "conv_id"
) -> DataFrame:
    """Never-silent metrics for the chunk index: ONE row with n_buckets
    (size >= 2), n_hot_buckets (> hot_band_cap, i.e. star mode), and
    max_bucket_n."""
    _, buckets = lsh.bucket_pairs(
        _chunked(simmed, cfg, id_col), CHUNK_KEYS, id_col, cfg.hot_band_cap
    )
    return buckets.agg(
        F.count("*").alias("n_buckets"),
        F.coalesce(F.sum(F.col("star_mode").cast("long")), F.lit(0)).alias("n_hot_buckets"),
        F.coalesce(F.max("bucket_n"), F.lit(0)).alias("max_bucket_n"),
    )


def simhash_pairs_delta(
    old_simmed: DataFrame,
    new_simmed: DataFrame,
    cfg: DedupConfig,
    id_col: str = "conv_id",
) -> DataFrame:
    """Delta-driven SimHash pass (incremental mode): pairs within the
    Hamming radius with >= 1 endpoint in ``new_simmed``.  Old-old pairs live
    in the prior pair state;

        prior_pairs(minus pairs touching re-signed ids) ∪ delta_pairs
            == simhash_pairs(old ∪ new)

    within the equality boundary of the shared join's delta contract
    (operators/lsh.py module docstring)."""
    def chunks(df: DataFrame, is_new: bool) -> DataFrame:
        df = df.select(id_col, "simhash", F.lit(is_new).alias("_is_new"))
        return _chunked(df, cfg, id_col, keep=("_is_new",))

    allc = chunks(old_simmed, False).unionByName(chunks(new_simmed, True))
    return _radius_pairs(allc, cfg, id_col, new_col="_is_new")
