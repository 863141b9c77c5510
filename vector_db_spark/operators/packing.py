"""Sequence packing: lay documents end-to-end and cut fixed token-budget
training windows — the concat-and-chunk step every LLM pretraining
pipeline runs between "cleaned corpus" and "batched examples".

North-star extension (the reference has no training-data surface). The
strategy is the standard one: documents are hash-sharded (shards =
parallel writers; membership is content-hash-deterministic, so reruns and
engines agree), laid out
in id order within their shard, and every ``budget`` tokens starts a new
pack. A document belongs to the pack containing its first token.

Scale posture: ONE shuffle (the per-shard window sort); everything else is
map-side hashing and arithmetic inside whole-stage codegen. No driver
loop, no UDF. At 100 TB the shard count bounds per-task sort volume —
shards are independent, so `n_shards` scales with the cluster, and the
window never sees more than corpus/n_shards rows. A greedy
close-bin-on-overflow packer is a sequential recurrence per shard (not
window-expressible); concat-and-chunk is what production pretraining
pipelines actually use — documents straddle pack boundaries and the
tokenizer-side chunker splits them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_db_spark.functions.text import token_count


def _hash_shard(id_col: str, n_shards: int, salt: str = ":pack") -> F.Column:
    """Deterministic engine-reproducible shard: first md5 byte mod shards
    (md5 hex → int via instr arithmetic — reproducible in any SQL engine,
    unlike seeded ``rand`` or engine-private hash functions)."""
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    byte = (F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1) * 16 + (
        F.instr(F.lit("0123456789abcdef"), F.substring(h, 2, 1)) - 1
    )
    return F.pmod(byte, F.lit(n_shards)).cast("int")


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    budget: int = 256,
    n_shards: int = 8,
) -> DataFrame:
    """(id, shard, n_tokens, start_offset, pack_id): the packing manifest.

    ``start_offset`` is the document's first-token position in its shard's
    concatenated token stream; ``pack_id = start_offset // budget`` is the
    training window that starts it. Downstream, a writer groups by
    ``(shard, pack_id)`` to emit packed examples — that groupBy reuses the
    (shard, id-order) layout this window already established, so the
    manifest → writer path costs no extra shuffle."""
    d = df.select(
        F.col(id_col),
        _hash_shard(id_col, n_shards).alias("shard"),
        token_count(text_col).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select(
        id_col,
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset"),
    ).withColumn("pack_id", F.floor(F.col("start_offset") / budget))


def global_row_number(
    df: DataFrame, order_cols: list[str], *, num_partitions: int | None = None,
    out_col: str = "rowno"
) -> DataFrame:
    """Exact 0-based global row number under a total order — WITHOUT the
    single-task trap: a bare ``row_number() OVER (ORDER BY ...)`` window
    funnels every row through one partition. The distributed classic
    instead:

    1. ``repartitionByRange`` + in-partition sort (Spark's scalable
       distributed sort — range boundaries from a sample, data never
       centralized);
    2. one tiny job counts rows per partition → cumulative offsets
       (P values, driver-side, bounded by partition count);
    3. a map-only pass adds ``offset + local position``.

    ``order_cols`` must be a total order (add a tiebreak id) or the
    numbering is partition-dependent."""
    from pyspark import TaskContext

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # pin the materialized range layout: the offsets job and the numbering
    # pass must see the SAME partitioning (range boundaries come from a
    # sample; two independent evaluations are not guaranteed identical)
    ranged = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .localCheckpoint(eager=True)
    )
    counts = {
        r["pid"]: r["c"]
        for r in ranged.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("c"))
        .collect()
    }
    offsets = {}
    acc = 0
    for pid in range(max(counts) + 1 if counts else 0):
        offsets[pid] = acc
        acc += counts.get(pid, 0)
    schema_out = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} long"

    def add_rowno(batches):
        pid = TaskContext.get().partitionId()
        pos = offsets.get(pid, 0)
        for pdf in batches:
            out = pdf.assign(**{out_col: range(pos, pos + len(pdf))})
            pos += len(pdf)
            yield out

    return ranged.mapInPandas(add_rowno, schema_out)


def length_bucketed_batches(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_buckets: int = 16,
) -> DataFrame:
    """(bucket, n_docs, min_tokens, max_tokens, sum_tokens, padded_waste):
    the sorted-batching manifest for batch inference/training — sorting by
    length before batching is THE standard trick to cut padding waste, and
    ``padded_waste = max·count - sum`` quantifies exactly what it saves.
    Bucket assignment is rank-based (``floor(rowno · B / n)``), exact and
    engine-reproducible via :func:`global_row_number` under the total
    order (token_count, id)."""
    d = docs.select(
        F.col(id_col), token_count(text_col).cast("long").alias("n_tokens")
    )
    n = d.count()
    numbered = global_row_number(d, ["n_tokens", id_col])
    # integer division: exact at any n (a double floor can flip at 2^53)
    b = F.expr(f"CAST((rowno * {n_buckets}) DIV {n} AS INT)")
    return (
        numbered.withColumn("bucket", b)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
            (F.max("n_tokens") * F.count("*") - F.sum("n_tokens")).alias(
                "padded_waste"
            ),
        )
    )


def interleave_by_group(
    df: DataFrame,
    group_col: str,
    *,
    id_col: str = "doc_id",
    salt: str = "interleave",
) -> DataFrame:
    """Deterministic round-robin training order across groups (domains,
    sources, languages): adds ``interleave_rank`` such that sorting by it
    visits groups in rotation — the standard mixing discipline that keeps
    any training-step window close to the corpus mixture instead of
    serving one domain for a million steps.

    Construction: within each group, a reproducible md5-permutation rank
    r (1-based, same draw discipline as curation.group_sample_fixed_k);
    globally, ``interleave_rank = (r-1)·G + group_index`` with the G
    group indexes assigned in lexicographic group order (broadcast map).
    Groups that exhaust early leave gaps — the *order* is what matters
    and it stays total and engine-reproducible.

    Scale: one shuffle on ``group_col`` for the within-group window +
    a broadcast of the G-row group table. No global window, no single-
    partition sort — the final ordering is materialized by whatever
    consumes it (e.g. export.shard_plan's in-task sort)."""
    from pyspark.sql import Window

    groups = (
        df.select(F.col(group_col).alias("__g"))
        .distinct()
        .withColumn(
            "__gidx",
            F.row_number().over(Window.orderBy("__g")) - 1,
        )
    )
    n_groups = groups.count()
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy(group_col).orderBy(F.col("__h"), F.col(id_col))
    return (
        df.withColumn("__h", h)
        .withColumn("__r", F.row_number().over(w))
        # eqNullSafe: a NULL group (missing domain/language — routine in
        # crawled corpora) must keep its rows; plain == drops every
        # NULL-group row silently because NULL == NULL is not true
        .join(F.broadcast(groups), F.col(group_col).eqNullSafe(F.col("__g")))
        .withColumn(
            "interleave_rank",
            (F.col("__r") - 1) * F.lit(n_groups) + F.col("__gidx"),
        )
        .drop("__h", "__r", "__g", "__gidx")
    )
