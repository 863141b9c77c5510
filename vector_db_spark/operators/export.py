"""Deterministic shard export: the last step of a training-data pipeline —
lay the cleaned corpus out as N reproducible shards with an engine-
reproducible *global shuffle* order inside each shard, and emit a
per-shard audit manifest (row count, order-independent content checksum,
deterministic head row).

North-star extension (the reference has no training-data surface; its
persistence layer is the pickle sink at
``/root/reference/src/vector_db/storage.py``). Training jobs need two
properties the plain writer doesn't give:

* **Reproducible shuffle.** Examples must reach the trainer in a
  pseudorandom order that is *identical across reruns and engines* —
  seeded ``rand()`` is neither (it depends on partition layout). Here the
  order key is ``md5(id || salt)``: pseudorandom w.r.t. any natural key
  ordering, yet a pure function of the row, so any engine (and any
  partitioning of this engine) produces the same shard file byte order.
* **Auditable content.** Every shard carries a checksum that is a *sum*
  of per-row 32-bit digests — order-independent and aggregatable
  (map-side partial sums), so verifying a 100 TB export is one scan with
  a partial aggregation, never a sort or a string_agg of the shard.

Scale posture: shard assignment, shuffle key and row fingerprint are all
map-side md5 expressions inside whole-stage codegen. The manifest is one
partial-aggregated ``groupBy(shard_id)`` (N rows out).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"

# the ASCII unit separator: can't occur in normal text, so the row
# fingerprint concat is injective for practical content
SEP = "\x1f"


def hex_value(h: Column, start: int, nibbles: int) -> Column:
    """Integer value of ``nibbles`` hex digits of ``h`` starting at 1-based
    ``start`` — instr arithmetic, reproducible in any SQL engine.
    ≤ 15 nibbles fits a bigint."""
    assert 1 <= nibbles <= 15
    val: Column = F.lit(0)
    for i in range(nibbles):
        nib = F.instr(F.lit(_HEX), F.substring(h, start + i, 1)) - 1
        val = val + nib.cast("long") * F.lit(16 ** (nibbles - 1 - i))
    return val


def shard_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    content_cols: tuple[str, ...] = ("text",),
    *,
    n_shards: int = 16,
    salt: str = "export-v1",
) -> DataFrame:
    """Annotate each row with its export placement: ``shard_id`` (16 md5
    bits mod N — uniform for any N ≤ 65536), ``shuffle_key`` (the full md5
    hex — the within-shard order), and ``row_fp`` (md5 over id + content,
    the unit of the audit checksum). Pure projection; zero shuffle."""
    sk = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    fp = F.md5(
        F.concat_ws(SEP, F.col(id_col).cast("string"), *[F.col(c) for c in content_cols])
    )
    return df.select(
        "*",
        F.pmod(hex_value(sk, 1, 4), F.lit(n_shards)).cast("int").alias("shard_id"),
        sk.alias("shuffle_key"),
        fp.alias("row_fp"),
    )


def shard_manifest(plan: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-shard audit facts from a :func:`shard_plan` frame: row count,
    order-independent content checksum (sum of the first 32 md5 bits of
    each row fingerprint), and the deterministic first row of the shard's
    shuffle order. One partial-aggregated shuffle, N rows out."""
    return (
        plan.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(hex_value(F.col("row_fp"), 1, 8)).alias("checksum"),
            F.min_by(id_col, "shuffle_key").alias("head_id"),
        )
        .select("shard_id", "n_rows", "checksum", F.col("head_id").cast("long"))
    )


def rendezvous_shard(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    *,
    salt: str = "rdv-v1",
    out_col: str = "shard_id",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment:
    ``shard(key) = argmax_s md5(key|salt|s)``. Unlike mod-N hashing,
    growing N → N+1 moves ONLY the keys whose new max weight is the new
    shard — an exact n/(N+1) expected fraction, and nothing reshuffles
    among surviving shards, so a shard split at 100 TB rewrites 1/(N+1)
    of the corpus instead of (N-1)/N of it. Weights are the first 15 md5
    nibbles (the repo's cross-engine integer idiom), so placement is a
    pure deterministic function of (key, salt, N) any engine reproduces.
    Map-only: N weight expressions per row, no shuffle.

    Weight ties break toward the SMALLEST shard id (the struct stores
    ``-s`` so ``array_max`` prefers the lowest id at equal weight),
    matching the DuckDB oracle's ``ORDER BY wt DESC, s LIMIT 1`` —
    astronomically rare on 60-bit weights, but the parity contract is
    bit-exact."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    weights = F.array(
        *[
            F.struct(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("|", F.col(key_col).cast("string"), F.lit(salt), F.lit(s))),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("w"),
                F.lit(-s).alias("neg_s"),
            )
            for s in range(n_shards)
        ]
    )
    return df.withColumn(out_col, -F.array_max(weights)["neg_s"])
