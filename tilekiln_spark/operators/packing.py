"""Sequence packing: assign documents to fixed-size training sequences.

Pretraining batches are built by concatenating documents in a deterministic
order and slicing the token stream into `seq_len`-sized sequences (the
GPT-style concat-and-chunk pack; a document may span a sequence boundary).
The assignment is a pure function of the GLOBAL prefix sum of document
lengths in key order — and a global ordered prefix sum is the textbook
two-pass distributed computation:

1. range-partition by key (`repartitionByRange` assigns ascending key
   ranges to ascending partition ids), cumsum WITHIN each partition
   (window over the partition id, no cross-partition data movement);
2. aggregate one total per partition — P rows, collected to the driver —
   into exclusive partition offsets, broadcast-joined back.

So the only full-data shuffle is the range partition itself; the window
never sees more than one partition's rows, and the driver holds P longs.
A single global `Window.orderBy(key)` would instead drag the entire corpus
through ONE reducer — the classic accidental-serialization trap this
module exists to avoid.

Outputs per doc: `first_seq` / `last_seq` (sequence ids the doc touches)
and `seq_offset` (position of the doc's first token inside first_seq).
Zero-length docs sit at a boundary: first_seq == the sequence their
position falls in, last_seq == first_seq.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tilekiln_spark.operators.local_solve import collect_local, integral, local_frame


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    len_col: str = "n_tokens",
    key_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-chunk packing over key order (see module docstring).

    Size-adaptive execution (r6, the connected_components pattern): the
    narrow (key, len) frame is sized by its lazy checkpoint's
    materializing aggregate; at or below ``local_solve.MAX_LOCAL_ROWS``
    (4M rows ~ 64 MB — the bounded-collect budget class) the prefix sum
    runs as one numpy pass on the driver and the assignment re-enters as
    a local relation.  The arithmetic replicates the distributed path
    EXACTLY — int64 cumsum with the window's RANGE-frame tie semantics
    (equal keys share the cumulative value) and the same float64
    floor-divisions — so the output is bit-identical; null-free integer
    keys and lengths only (string key ordering is engine-collation
    territory, and a null length reads as a null assignment — those keep
    the two-pass path).  Above the cap the proven range-partition
    two-pass runs unchanged from the same checkpoint (its lineage cut
    rides the sizing aggregate)."""
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    d0 = df.select(key_col, F.col(len_col).cast("long").alias("__len"))
    if integral(d0, [key_col]):
        d0 = d0.localCheckpoint(eager=False)
    arrays = collect_local("pack_sequences", d0, [key_col, "__len"])
    if arrays is not None:
        kt = d0.schema[key_col].dataType.simpleString()
        ddl = f"{key_col} {kt}, {len_col} long, first_seq int, last_seq int, seq_offset int"
        return _pack_local(spark, *arrays, seq_len, ddl)
    d = (
        d0.repartitionByRange(n_parts, F.col(key_col).asc())
        .withColumn("__pid", F.spark_partition_id())
    )
    w = Window.partitionBy("__pid").orderBy(F.col(key_col).asc())
    # persist: the cumsum frame feeds BOTH the totals aggregate and the
    # final projection — one range shuffle, computed once, lineage kept so
    # the executed plan stays auditable (rangepartitioning, no
    # SinglePartition anywhere)
    d = d.withColumn("__cum_in", F.sum("__len").over(w)).persist()
    # P partition totals -> exclusive offsets; tiny driver collect by design
    totals = {
        r["__pid"]: r["t"]
        for r in d.groupBy("__pid").agg(F.max("__cum_in").alias("t")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    off = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "__pid int, __off long")
    )
    start = F.col("__off") + F.col("__cum_in") - F.col("__len")
    end = start + F.greatest(F.col("__len"), F.lit(1)) - 1  # zero-len: 1 slot
    return (
        d.join(off, "__pid")
        .select(
            key_col,
            F.col("__len").alias(len_col),
            F.floor(start / seq_len).cast("int").alias("first_seq"),
            F.floor(end / seq_len).cast("int").alias("last_seq"),
            (start % seq_len).cast("int").alias("seq_offset"),
        )
    )


def _pack_local(spark, keys, lens, seq_len: int, ddl: str):
    """Bounded-size packing assignment: numpy prefix sum over the collected
    (key, len) arrays, bit-identical to the two-pass distributed form
    (int64 sums; RANGE-frame ties; float64 floor divisions)."""
    import numpy as np

    order = np.argsort(keys, kind="stable")
    sk, sl = keys[order], lens[order]
    cum = np.cumsum(sl)
    # RANGE-frame tie semantics: every row of an equal-key group reads the
    # group's LAST cumulative value (peers included in the frame)
    if len(sk) > 1 and (sk[1:] == sk[:-1]).any():
        last_of_group = np.concatenate([sk[1:] != sk[:-1], [True]])
        grp = np.cumsum(np.concatenate([[True], sk[1:] != sk[:-1]])) - 1
        cum = cum[np.flatnonzero(last_of_group)][grp]
    start = cum - sl
    end = start + np.maximum(sl, 1) - 1
    first_seq = np.floor(start.astype(np.float64) / seq_len).astype(np.int32)
    last_seq = np.floor(end.astype(np.float64) / seq_len).astype(np.int32)
    seq_offset = (start % seq_len).astype(np.int32)
    return local_frame(spark, ddl, sk, sl, first_seq, last_seq, seq_offset)


def pack_token_sequences(
    ids_df: DataFrame,
    seq_len: int,
    ids_col: str = "token_ids",
    key_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """MATERIALIZE the packed training sequences: (seq, token_ids,
    n_tokens) — the actual GPT-style concat-and-chunk output artifact,
    every sequence exactly ``seq_len`` ids except the final remainder.

    Spark shape: pack_sequences' two-pass prefix sum assigns each doc its
    global start; the doc's id array is then SLICED per spanned sequence
    map-side (explode over the doc's first_seq..last_seq span — a handful
    of rows per doc, NOT per token), and ONE exchange keyed on the
    sequence id assembles each sequence from its slices
    (array_sort(collect_list(struct(start, slice))) -> flatten: the
    struct's leading start field makes the sort deterministic).  Rows
    shuffled = doc-sequence spans (~n_docs + n_seqs); the only per-token
    cost is the slice copy, which IS the output.  Never a per-token
    explode, never a single-reducer global window.

    Zero-length docs contribute no slices and no sequence membership."""
    # null id arrays count as zero-length (F.size of null is -1 under the
    # legacy default — a negative length would silently corrupt the global
    # prefix sum and overfill sequences)
    nt = F.when(F.col(ids_col).isNull(), F.lit(0)).otherwise(F.size(ids_col))
    assigned = pack_sequences(
        ids_df.select(key_col, nt.cast("long").alias("__nt")),
        seq_len,
        "__nt",
        key_col,
        num_partitions,
    )
    docs = ids_df.select(key_col, ids_col).join(assigned, key_col)
    start = F.col("first_seq").cast("long") * seq_len + F.col("seq_offset")
    spans = docs.filter(F.col("__nt") > 0).select(
        key_col,
        ids_col,
        start.alias("__start"),
        F.col("__nt"),
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq"),
    )
    lo = F.greatest(F.col("seq").cast("long") * seq_len, F.col("__start"))
    hi = F.least(
        (F.col("seq").cast("long") + 1) * seq_len,
        F.col("__start") + F.col("__nt"),
    )
    slices = spans.select(
        "seq",
        F.struct(
            F.col("__start").alias("o"),
            F.slice(
                F.col(ids_col),
                (lo - F.col("__start") + 1).cast("int"),
                (hi - lo).cast("int"),
            ).alias("part"),
        ).alias("__piece"),
    )
    return (
        slices.groupBy("seq")
        .agg(F.array_sort(F.collect_list("__piece")).alias("__pieces"))
        .select(
            "seq",
            F.flatten(F.transform("__pieces", lambda p: p["part"])).alias(ids_col),
        )
        .withColumn("n_tokens", F.size(ids_col).cast("long"))
    )
